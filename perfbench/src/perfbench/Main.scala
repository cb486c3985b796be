package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * [--baseline <untraced record>]`.
  *
  * One process, one closed-loop client (the next operation starts when
  * the previous one returns). The run generates its inputs from the seed,
  * times session set-up `SetUps` times, runs the workload's untimed warm
  * passes, then timed passes until `--seconds` have elapsed, checking
  * every pass's outputs after its timing stops. The last stdout line is
  * the result object. `--trace 1` traces every timed pass and reports the
  * per-layer metrics; its overhead is measured against `--baseline`, the
  * record of an untraced run of the same workload and seed, and reported
  * beside the metrics (not among them) only when there is one.
  */
object Main {
  /** Session set-ups per run; `setup_s` is the median of their CPU times. */
  val SetUps = 7

  final case class PassRec(p: Int, wall: Double, startMs: Long, endMs: Long,
      out: PassOut, filesOut: Long, bytesOut: Long, gcS: Double, storageMb: Double,
      cachedRdds: Int, cpuS: Double, stealS: Double)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = opts.get("workload").flatMap(Workloads(_)).getOrElse {
      System.err.println(s"usage: --workload {${Workloads.all.mkString(",")}} --seed N " +
        "--seconds S --trace 0|1 --work DIR")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "bench-work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val shufflePartitions = 2 * cores
    val runId = s"${wl.name}-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val loadStart = loadavg()

    deleteTree(work)
    val in = work.resolve("in").toString
    val out = work.resolve("out").toString
    val tr = new Tracer(runId)
    def session(): SparkSession = {
      val s = GraftSession.builder(s"local[$cores]", shufflePartitions).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def stop(s: SparkSession): Unit = {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    val tRun = System.nanoTime()
    def note(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - tRun) / 1e9}%7.2f s  $msg")
    // inputs first, in a session of their own (untimed)
    var spark = session()
    note("session started")
    wl.prepare(Ctx(spark, seed, in, out, tr))
    note("inputs written")
    stop(spark)
    // set-up: session start + first touch of the inputs, SetUps times;
    // its wall time, the JVM's CPU time and the machine's steal time
    val setups = (1 to SetUps).map { i =>
      if (i > 1) stop(spark)
      val (cpu0, steal0) = (processCpuSeconds(), stealSeconds())
      val (s, dt) = Workloads.timed {
        val s = session()
        wl.touch(Ctx(s, seed, in, out, tr))
        s
      }
      spark = s
      (dt, processCpuSeconds() - cpu0, stealSeconds() - steal0)
    }
    note(s"set-up x$SetUps (wall/cpu): " +
      setups.map { case (w, c, _) => f"$w%.3f/$c%.3f" }.mkString(" ") + " s")
    val ctx = Ctx(spark, seed, in, out, tr)
    val inputBytes = treeSize(work.resolve("in"))._2
    val meter = new Meter
    val errors = ArrayBuffer.empty[String]
    val passes = ArrayBuffer.empty[PassRec]
    var attempted, failed = 0

    def runPass(p: Int, traced: Boolean): Unit = {
      if (traced) {
        spark.sparkContext.addSparkListener(meter)
        spark.listenerManager.register(meter)
      }
      tr.enabled = traced
      tr.pass = p
      val gc0 = gcSeconds()
      val (cpu0, steal0) = (processCpuSeconds(), stealSeconds())
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res =
        try Right(tr.span("bench", "pass")(wl.pass(ctx, p)))
        catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val m1 = System.currentTimeMillis()
      tr.enabled = false
      val gc = gcSeconds() - gc0
      val (cpu, steal) = (processCpuSeconds() - cpu0, stealSeconds() - steal0)
      if (traced) {
        meter.drain()
        spark.sparkContext.removeSparkListener(meter)
        spark.listenerManager.unregister(meter)
      }
      note(f"pass $p${if (traced) " (traced)" else ""}: $wall%.3f s")
      val pdir = Paths.get(out, s"p$p")
      res match {
        case Left(e) =>
          System.err.println(s"[perfbench] pass $p failed: $e")
          e.printStackTrace()
          if (p > 0) { attempted += 1; failed += 1 }
          else errors += s"warm pass ${-p} failed: $e"
        case Right(o) =>
          errors ++= wl.verify(ctx, p).map(e => s"pass $p: $e")
          val (files, bytes) = treeSize(pdir)
          val storage = spark.sparkContext.getRDDStorageInfo
          if (p > 0) {
            attempted += o.attempted
            failed += o.failed
            passes += PassRec(p, wall, m0, m1, o, files, bytes, gc,
              storage.map(_.memSize).sum / 1048576.0, storage.count(_.numCachedPartitions > 0),
              cpu, steal)
          }
      }
      deleteTree(pdir)
    }

    (1 to wl.warmPasses).foreach(w => runPass(-w, traced = false))
    val t0 = System.nanoTime()
    var p = 1
    while (p <= wl.maxPasses && (System.nanoTime() - t0) / 1e9 < seconds) {
      runPass(p, traced = trace)
      p += 1
    }
    note("timed passes done")
    if (passes.isEmpty) errors += "no timed pass completed"
    val poolMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    val loadEnd = loadavg()
    val rssMb = peakRssMb()

    val e2e = Seq(
      ("setup_s", "s", median(setups.map(_._2))),
      ("cpu_s_per_item", "s", passes.map(_.cpuS).sum / passes.map(_.out.items).sum))
    // wall-time metrics, demoted from end-to-end (see the README)
    val ops = passes.flatMap(_.out.ops).toSeq
    val (tailName, tailValue) = tail(ops)
    val wallMetrics = Seq(
      ("setup_wall_s", "s", median(setups.map(_._1))),
      ("throughput_per_s", "1/s", passes.map(_.out.items).sum / passes.map(_.wall).sum),
      ("pass_s_p50", "s", median(passes.map(_.wall).toSeq)),
      ("op_s_p50", "s", median(ops)),
      ("op_s_tail", "s", tailValue))
    val baseline = opts.get("baseline").map(f => Json.read(new java.io.File(f)))
    val layers = if (trace) perLayer(wl, passes.toSeq, meter, tr, cores, inputBytes, poolMb,
      attempted, failed, rssMb, e2e ++ wallMetrics) else Nil
    // tracing overhead: this traced run against the untraced baseline
    // run's record; without a baseline there is no figure to report
    def mine(name: String) = (e2e ++ wallMetrics).find(_._1 == name).get._3
    val overhead = if (!trace) Nil else baseline.toSeq.flatMap { b =>
      Seq(("trace.overhead_frac", "pass_s_p50", "wall"),
          ("trace.cpu_overhead_frac", "cpu_s_per_item", "end_to_end")).map {
        case (n, m, section) =>
          val base = b.get(section).get(m).asDouble()
          (n, "ratio", (mine(m) - base) / base)
      }
    }

    val env = Json.obj(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "run_id" -> runId, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> s"local[$cores]", "shuffle_partitions" -> shufflePartitions,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "git_rev" -> sys.props.getOrElse("perfbench.gitRev", "unknown"),
      "jit" -> sys.props.getOrElse("perfbench.jit", "default"),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "input_bytes" -> inputBytes, "storage_pool_mb" -> poolMb,
      "session" -> "graft.GraftSession.builder with the library's own confs",
      "comparable_with_bench_full_json" -> false)
    val passJson = passes.map(r => Json.obj("pass" -> r.p, "wall_s" -> r.wall,
      "items" -> r.out.items, "ops" -> r.out.ops.size, "cpu_s" -> r.cpuS, "steal_s" -> r.stealS,
      "files_out" -> r.filesOut, "bytes_out" -> r.bytesOut))

    stop(spark)
    deleteTree(work.resolve("in"))
    deleteTree(work.resolve("out"))

    val recordDir = work.resolve("records")
    Files.createDirectories(recordDir)
    if (trace) tr.writeJsonl(recordDir.resolve(s"$runId.spans.jsonl"))
    val metricsFor = (if (trace) layers else e2e)
    val record = Json.obj("env" -> env, "setup_wall_s_each" -> setups.map(_._1),
      "setup_cpu_s_each" -> setups.map(_._2), "setup_steal_s_each" -> setups.map(_._3),
      "passes" -> passJson,
      "end_to_end" -> Json.obj(e2e.map(m => m._1 -> m._3): _*),
      "wall" -> Json.obj(wallMetrics.map(m => m._1 -> m._3): _*),
      "per_layer" -> Json.obj(layers.map(m => m._1 -> m._3): _*),
      "tracing_overhead" -> (if (!trace) "untraced run"
        else if (overhead.isEmpty) "no baseline" else Json.obj(overhead.map(m => m._1 -> m._3): _*)),
      "op_tail" -> Json.obj("percentile" -> tailName, "value_s" -> tailValue, "samples" -> ops.size),
      "stage_s_by_callsite" -> meter.stages.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(x => (x.doneMs - x.submitMs) / 1000.0).sum / math.max(1, passes.size)
      },
      "op_s_p50_by_name" -> passes.flatMap(r => r.out.opNames.zip(r.out.ops)).groupBy(_._1)
        .map { case (n, xs) => n -> median(xs.map(_._2).toSeq) },
      "errors" -> errors.toSeq)
    Files.write(recordDir.resolve(s"$runId.json"), Json.write(record).getBytes("UTF-8"))

    println(s"perfbench env: ${Json.write(env)}")
    println(f"perfbench ${wl.name}: ${passes.size} timed passes, working set ${inputBytes / 1048576.0}%.1f MB " +
      f"on disk vs storage pool $poolMb%.0f MB; op latency $tailName = $tailValue%.4f s over " +
      s"${ops.size} ops")
    metricsFor.foreach { case (n, u, v) => println(f"  $n%-40s $v%14.6f $u") }
    if (trace) {
      if (overhead.isEmpty) println("perfbench tracing overhead: no untraced baseline run of this " +
        "workload and seed, so none is reported")
      else overhead.foreach { case (n, u, v) => println(f"  $n%-40s $v%14.6f $u (vs untraced baseline)") }
    }
    errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    val result = Json.obj("correct" -> errors.isEmpty, "attempted" -> math.max(1, attempted),
      "failed" -> failed,
      "metrics" -> Json.obj(metricsFor.map { case (n, u, v) => n -> Json.obj("value" -> v, "unit" -> u) }: _*))
    println(Json.write(result))
    if (errors.nonEmpty) sys.exit(1)
  }

  /** The per-layer metrics of the (traced) timed passes, each averaged per pass
    * unless it is a snapshot (storage) or a ratio.
    */
  private def perLayer(wl: Workload, passes: Seq[PassRec], meter: Meter, tr: Tracer,
      cores: Int, inputBytes: Long, poolMb: Double, attempted: Int, failed: Int,
      rssMb: Double, runMetrics: Seq[(String, String, Double)]): Seq[(String, String, Double)] = {
    val k = passes.size.toDouble
    def within(ms: Long) = passes.exists(r => ms >= r.startMs && ms <= r.endMs)
    val tasks = meter.tasks.filter(t => within(t.finishMs)).toSeq
    val stages = meter.stages.filter(s => within(s.doneMs)).toSeq
    val plans = meter.plans.filter(q => within(q.endMs)).toSeq
    val spans = tr.spans.toSeq.filter(s => passes.exists(_.p == s.pass))
    val self = tr.selfTimes(spans)
    val wall = passes.map(_.wall).sum
    def perPass(x: Double) = if (k == 0) 0.0 else x / k
    val builds = spans.filter(s => s.name.startsWith("operators.") && wl.families.contains(s.step))
    val eagerJobs = meter.jobStarts.count(ms => builds.exists(b => ms >= b.startMs && ms <= b.endMs))
    val fileOf = """ at ([A-Za-z0-9_$]+)\.scala:""".r
    // stage time by the call-site file Spark recorded; AQE query stages
    // carry a thread-pool call site and land in "other" with the rest
    val stageFiles = Seq("CuratePipeline", "CloudOptimize", "Interchange", "TextAnalysis", "Tables")
    val stageByFile = stages.groupBy { s =>
      fileOf.findFirstMatchIn(s.name).map(_.group(1)).filter(stageFiles.contains).getOrElse("other")
    }.map { case (f, ss) => f -> ss.map(s => (s.doneMs - s.submitMs) / 1000.0).sum }
    val isCurate = wl.name == "curate_corpus"
    val selfSumErr = passes.map { r =>
      val ss = tr.selfTimes(spans.filter(_.pass == r.p)).values.sum
      val root = spans.filter(s => s.pass == r.p && s.parent == 0).map(_.seconds).sum
      math.abs(ss - root)
    }.maxOption.getOrElse(0.0)
    val families = ResidentMix.Mix.map(_._2).distinct
    val selfLayers = Seq("bench", "sources", "CuratePipeline", "exec") ++ families.map("operators." + _)
    val last = passes.lastOption
    Seq(
      ("plan.analysis_s", "s", perPass(plans.map(_.analysisMs).sum / 1000.0)),
      ("plan.optimization_s", "s", perPass(plans.map(_.optimizationMs).sum / 1000.0)),
      ("plan.planning_s", "s", perPass(plans.map(_.planningMs).sum / 1000.0)),
      ("plan.build_s", "s", perPass(builds.map(_.seconds).sum)),
      ("memo.eager_jobs", "count", perPass(eagerJobs.toDouble)),
      ("storage.mem_mb", "MB", last.map(_.storageMb).getOrElse(0.0)),
      ("storage.cached_rdds", "count", last.map(_.cachedRdds.toDouble).getOrElse(0.0)),
      ("storage.pool_mb", "MB", poolMb),
      ("jvm.gc_s", "s", perPass(passes.map(_.gcS).sum)),
      ("exec.sched_delay_s", "s", perPass(tasks.map(_.schedMs).sum / 1000.0)),
      ("exec.task_run_s", "s", perPass(tasks.map(_.runMs).sum / 1000.0)),
      ("exec.task_cpu_s", "s", perPass(tasks.map(_.cpuNs).sum / 1e9)),
      ("exec.cpu_util", "ratio", if (wall > 0) tasks.map(_.cpuNs).sum / 1e9 / (wall * cores) else 0.0),
      ("exec.gc_s", "s", perPass(tasks.map(_.gcMs).sum / 1000.0)),
      ("exec.jobs", "count", perPass(meter.jobStarts.count(within).toDouble)),
      ("exec.tasks", "count", perPass(tasks.size.toDouble)),
      ("exec.failed_tasks", "count", perPass(tasks.count(_.failed).toDouble)),
      ("shuffle.write_bytes", "bytes", perPass(tasks.map(_.shuffleWrite).sum.toDouble)),
      ("shuffle.read_bytes", "bytes", perPass(tasks.map(_.shuffleRead).sum.toDouble)),
      ("shuffle.fetch_wait_s", "s", perPass(tasks.map(_.fetchWaitMs).sum / 1000.0)),
      ("spill.bytes", "bytes", perPass(tasks.map(_.spill).sum.toDouble)),
      ("sources.write_s", "s", perPass(stages.filter(_.outBytes > 0)
        .map(s => (s.doneMs - s.submitMs) / 1000.0).sum)),
      ("sources.files_out", "count", perPass(passes.map(_.filesOut).sum.toDouble)),
      ("sources.bytes_out", "bytes", perPass(passes.map(_.bytesOut).sum.toDouble)),
      ("sources.scan_bytes", "bytes", perPass(tasks.map(_.inBytes).sum.toDouble)),
      ("bytes_out_per_in", "ratio", perPass(passes.map(_.bytesOut).sum.toDouble) / inputBytes),
      ("failed_frac", "ratio", failed.toDouble / math.max(1, attempted)),
      ("peak_rss_mb", "MB", rssMb)) ++
      runMetrics.filterNot(m => m._1 == "setup_s" || m._1 == "cpu_s_per_item") ++
      (stageFiles :+ "other").map { f =>
        (s"curate.stage_s.$f", "s", if (isCurate) perPass(stageByFile.getOrElse(f, 0.0)) else 0.0)
      } ++
      families.map { f =>
        val qs = wl.families.filter(_._2 == f).keySet
        (s"family_s.$f", "s", perPass(spans.filter(s => qs(s.step)).map(_.seconds).sum))
      } ++
      selfLayers.map(l => (s"self_s.$l", "s", perPass(self.getOrElse(l, 0.0)))) ++
      Seq(
        ("trace.passes", "count", k),
        ("trace.self_sum_err_s", "s", selfSumErr))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p99/p95/p90/p75 with at least ten samples above it,
    * else the median.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => s"p$p" -> quantile(xs, p / 100.0)).getOrElse("p50" -> median(xs))

  private def loadavg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim).getOrElse("n/a")

  /** Peak resident set of this JVM (VmHWM), MB. */
  private def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get).getOrElse(0.0)

  /** CPU time of this JVM, all threads. */
  private def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Machine-wide time the hypervisor ran other guests on this machine's
    * CPUs (the steal column of /proc/stat), summed over CPUs.
    */
  private def stealSeconds(): Double = scala.util.Try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+")
    f(8).toDouble / 100
  }.getOrElse(0.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.endsWith(".crc") && n != "_SUCCESS"
      }.toSeq
      (files.size.toLong, files.map(f => Files.size(f)).sum)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
}
