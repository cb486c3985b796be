package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * One untimed warm sweep over the whole suite first (codegen
  * compilation, C2 JIT, file listing — a single per-query warm run is
  * not enough on a cold JVM: queries early in the alphabet were paying
  * multi-second JIT tax that vanished once the JVM was hot), then each
  * query is timed as the min of two runs — steady-state numbers, which
  * is what a resident engine on a cluster actually delivers.
  *
  * Methodology (r2): each run is timed against the `noop` sink
  * (`df.write.format("noop")`), not `.count()`. Counting lets
  * ColumnPruning drop every computed column from the timed plan (q1's
  * sums, window columns, vector math would all be pruned away), so the
  * count-based numbers understated real work. The noop sink fully
  * evaluates and serializes every output row/column and discards it —
  * the closest local analog of handing results to a downstream stage.
  */
object Bench {
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One fresh-JVM rerun of a sweep mover: its sweep seconds, its
    * isolated seconds, and the 1-min loadavg when its child started. */
  private[graft] case class Isolated(
      query: String, sweepS: Double, isolatedS: Double, load1: Double)

  /** A bench record parsed with Spark's json4s (no new dependency);
    * None when the file is missing or unreadable. */
  private def readRecord(p: Path): Option[JValue] =
    if (!Files.exists(p)) None
    else try Some(JsonMethods.parse(new String(Files.readAllBytes(p), UTF_8)))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $p unreadable: ${e.getMessage}")
      None
    }

  /** A record's per-query seconds (-1.0 marks a failed query). */
  private def queriesOf(record: JValue): Map[String, Double] =
    record \ "queries" match {
      case JObject(fields) => fields.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JInt(v)) => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }

  /** Prior round's committed per-query map, if a bench_full.json from
    * the SAME sf-dir sits in the cwd (the repo root, where the driver
    * runs). Used to flag >1.5× movers for the automated isolation rerun.
    */
  private def priorRun(sfDir: String): Map[String, Double] =
    readRecord(Paths.get("bench_full.json"))
      .filter(j => (j \ "sf") == JString(sfDir))
      .map(queriesOf).getOrElse(Map.empty)

  /** Rerun one query in a FRESH JVM (same classpath, same module opens,
    * same env) and return its steady-state seconds — the isolation rerun
    * dev/bench_compare.py used to ask a human to paste. The child is
    * `graft.Bench <name>` with cwd pointed at a temp dir (so its own
    * bench_full.json never clobbers the sweep's) and its result is read
    * from that file.
    */
  private def isolatedRun(name: String, sfDir: String): Option[Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("java.base/")
        || a.startsWith("-X") || a.startsWith("-D"))
    val cwd = Files.createTempDirectory(s"bench_iso_$name")
    // r13: the child runs with cwd in the temp dir above, so a RELATIVE
    // classpath (any plain `java -cp target/...` parent, including the
    // driver's own record runs) made every child die on startup and the
    // record silently carried isolated:{} — exactly the r12 advice #3
    // finding. Absolutize each entry against the PARENT's cwd.
    val absCp = System.getProperty("java.class.path")
      .split(java.io.File.pathSeparator)
      .filter(_.nonEmpty)
      .map(p => Paths.get(p).toAbsolutePath.toString)
      .mkString(java.io.File.pathSeparator)
    val cmd = (Seq(javaBin) ++ jvmArgs
      ++ Seq("-cp", absCp, "graft.Bench", name))
    val pb = new ProcessBuilder(cmd.asJava)
    pb.directory(cwd.toFile)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    // 120s per child by default: every suite query's isolated
    // steady-state is <20s at sf0.1 (the only scale the driver isolates
    // at); a child that needs longer is itself the finding. The old
    // 300s cap let a handful of children eat the driver's whole bench
    // budget — the r10 rc=124 timeout. SPARK_GRAFT_ISO_CHILD_TIMEOUT
    // raises it for builder-run sf1 records, where one warm + two timed
    // runs of a 40s query plus JVM start legitimately exceed 120s.
    val childTimeoutSec = sys.env.get("SPARK_GRAFT_ISO_CHILD_TIMEOUT")
      .flatMap(_.toLongOption).getOrElse(120L)
    val finished = proc.waitFor(
      childTimeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      // every skip is logged (r11 advice): without this line a timed-out
      // child just silently lacks its isolated entry in the record
      System.err.println(s"[bench] isolation child for $name timed out " +
        s"after ${childTimeoutSec}s — no isolated entry recorded")
      proc.destroyForcibly(); proc.waitFor()
    }
    val t =
      if (finished && proc.exitValue() == 0)
        readRecord(cwd.resolve("bench_full.json"))
          .flatMap(queriesOf(_).get(name)).filter(_ >= 0)
      else None
    try {
      Files.walk(cwd).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    } catch { case _: Throwable => () }
    t
  }

  /** Host contention snapshot from /proc/loadavg: the 1/5/15-min load
    * averages plus the running/total process count (empty if
    * unreadable). The r10 sweep regressed +55% on byte-identical code
    * because co-tenants outside the cgroup were loading the host (r11
    * measured isolated q_slope_one spanning 8.0–13.4s on the same binary
    * while loadavg sat at 10–21); the bench record carries the evidence
    * needed to adjudicate that without a rebuild-and-bisect.
    */
  private def loadavg(): List[JValue] =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
        .trim.split("\\s+")
      f.take(3).map(v => JDouble(v.toDouble)).toList :+ JString(f(3))
    } catch { case _: Throwable => Nil }

  /** The 1-minute load average alone (−1 if unreadable) — stamped onto
    * each isolation child's record so a contaminated "confirmation" is
    * visible in the data (see the second-opinion rule in main). */
  private def loadavg1(): Double = loadavg() match {
    case JDouble(v) :: _ => v
    case _ => -1.0
  }

  private def f3(v: Double): JValue =
    JDecimal(BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP))

  /** Round-over-round drift gate: the median
    * sweep/prior ratio over every MATCHED query ≥0.3s. A broad median
    * drift means host contention (code changes move individual queries,
    * not the whole suite — the r10 +55% sweep was exactly this), so when
    * it leaves [0.6, 1.25] the record carries drift_exceeded:true and the
    * sweep should be read as contention-suspect rather than committed as
    * a regression.
    */
  private def driftMedian(
      results: Seq[(String, Double)], prior: Map[String, Double]): Double = {
    val ratios = results.collect {
      case (q, t) if t > 0 && prior.getOrElse(q, -1.0) >= 0.3 => t / prior(q)
    }.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.length / 2)
  }

  private def driftExceeded(median: Double): Boolean = median > 1.25 || median < 0.6

  /** The sweep's two records: the full `bench_full.json` object and the
    * compact final stdout line. A failed query stays in `queries` as
    * -1.0 and counts in `n_failed`; `value` sums only the queries that
    * ran, so a failure never lowers the suite total.
    *
    * The bench runner captures only the LAST 2000 chars of stdout and parses
    * the JSON it finds there, so the full per-query map goes to
    * bench_full.json (committed) and the compact line carries the total,
    * count, distribution stats and the slowest queries. A purely
    * rank-based top-8 rotated its membership round over round, so the
    * runner's PERF diff mistook queries that got FASTER (and left the
    * top-8) for drops. The compact line therefore
    * carries the UNION of this sweep's top-8 and the prior record's top-8
    * BY NAME — membership is stable across consecutive rounds, and the
    * line stays well under the capture window. Movers' isolation triples
    * ride along, top 8 by sweep time.
    */
  private[graft] def records(
      results: Seq[(String, Double)], isolated: Seq[Isolated],
      prior: Map[String, Double], drift: Double, sfDir: String,
      loadStart: List[JValue], loadEnd: List[JValue]): (JObject, JObject) = {
    def times(qs: Seq[(String, Double)]) =
      JObject(qs.map { case (q, t) => q -> f3(t) }.toList)
    // iso triple: [sweep_s, fresh_jvm_s, child_start_loadavg1]
    def triples(is: Seq[Isolated]) = JObject(is.map(i =>
      i.query -> JArray(List(f3(i.sweepS), f3(i.isolatedS), f3(i.load1)))).toList)
    val ok = results.map(_._2).filter(_ >= 0).sorted
    val head = List[JField](
      "metric" -> JString("total"), "value" -> f3(ok.sum), "unit" -> JString("sec"))
    val driftFields = List[JField](
      "drift_median" -> f3(drift), "drift_exceeded" -> JBool(driftExceeded(drift)))
    val sf = "sf" -> JString(sfDir)
    val full = JObject(head ++ List(
      "queries" -> times(results), "isolated" -> triples(isolated),
      "loadavg_start" -> JArray(loadStart), "loadavg_end" -> JArray(loadEnd))
      ++ driftFields :+ sf)
    def pct(p: Double) = f3(if (ok.isEmpty) 0.0 else ok(((ok.length - 1) * p).round.toInt))
    val byName = results.toMap
    val compactNames = (results.sortBy(-_._2).take(8).map(_._1)
      ++ prior.toSeq.sortBy(-_._2).take(8).map(_._1)).distinct.filter(byName.contains)
    val compact = JObject(head ++ List(
      "n_queries" -> JInt(results.size), "n_failed" -> JInt(results.size - ok.size),
      "median" -> pct(0.5), "p95" -> pct(0.95), "max" -> pct(1.0),
      "queries_file" -> JString("bench_full.json"),
      "isolated" -> triples(isolated.sortBy(-_.sweepS).take(8)))
      ++ driftFields ++ List(
      "queries" -> times(compactNames.map(q => q -> byName(q)).sortBy(-_._2)), sf))
    (full, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadavg()
    val spark = GraftSession.local()
    // optional args: restrict to the named queries (micro-bench
    // iteration; also how the isolation child is invoked — args disable
    // the isolation pass below)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val suite = if (args.nonEmpty) all.filter(q => args.contains(q._1)) else all
    suite.foreach { case (name, fn) => // warm sweep: codegen + JIT + listing
      try exec(fn(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] warm $name failed: ${e.getMessage}") }
    }
    // Measured (r5): per-query unpersist of accumulated localCheckpoint
    // blocks makes the suite SLOWER (189.7s → 209.6s over 248 queries;
    // q_item_cf 7s → 25s) — the async block-removal RPC storm costs more
    // than the storage rent it frees. Leave block-manager hygiene to
    // Spark's own LRU eviction.
    val results = suite.map { case (name, fn) =>
      try {
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          exec(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        name -> times.min
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> -1.0
      }
    }
    val prior = priorRun(sfDir)
    val drift = driftMedian(results, prior)
    if (driftExceeded(drift))
      System.err.println(f"[bench] DRIFT GATE: median ratio vs prior " +
        f"sweep = $drift%.3f — host-contention suspect; treat this sweep " +
        "as unreliable")
    // Automated isolation rerun (r9 verdict ask #4): compare against the
    // prior committed bench_full.json for the same sf-dir; every query
    // that moved >1.5× AND >1s in either direction gets ONE fresh-JVM
    // rerun and bench_full.json records {sweep, isolated} side by side —
    // the sweep's shared-JVM contention is measured, not
    // hand-adjudicated. Skipped when Bench was invoked with explicit
    // query args (that IS the isolation child). Bounded THREE ways so
    // the tail always fits the driver's bench budget (the r10 rc=124
    // lesson: 16 children × up to 300s each blew it): ≤8 children, 120s
    // per child, and a global wall budget (SPARK_GRAFT_ISO_BUDGET,
    // default 300s) checked before each launch. Every skip is logged.
    val isoBudgetSec =
      sys.env.get("SPARK_GRAFT_ISO_BUDGET").flatMap(_.toDoubleOption)
        .getOrElse(300.0)
    val isolated: Seq[Isolated] =
      if (args.nonEmpty) Seq.empty
      else {
        val movers = results.collect {
          case (q, t) if t > 0 && prior.getOrElse(q, -1.0) > 0 &&
            (t / prior(q) > 1.5 || prior(q) / t > 1.5) &&
            math.abs(t - prior(q)) > 1.0 =>
            (q, t, math.max(t / prior(q), prior(q) / t))
        }.sortBy(-_._3)
        if (movers.size > 8)
          System.err.println(s"[bench] ${movers.size} movers flagged; " +
            s"isolating the 8 most extreme, skipping ${movers.size - 8}")
        val isoStart = System.nanoTime()
        def budgetLeft(q: String): Boolean = {
          val spent = (System.nanoTime() - isoStart) / 1e9
          val ok = spent <= isoBudgetSec
          if (!ok) System.err.println(f"[bench] isolation budget exhausted " +
            f"($spent%.0fs > $isoBudgetSec%.0fs) — skipping $q")
          ok
        }
        movers.take(8).flatMap { case (q, sweepT, _) =>
          if (!budgetLeft(q)) None
          else {
            val load1 = loadavg1()
            System.err.println(
              f"[bench] isolating $q (sweep $sweepT%.3fs, loadavg $load1)")
            isolatedRun(q, sfDir).map { iso1 =>
              // Second-opinion rule (r11 verdict ask #3): a loud host can
              // CONFIRM its own false regression — the r11 sweep's two
              // outliers were "isolated" at 6–17× their committed record
              // while loadavg sat at 10–21, and a quiet-host re-run came
              // back at 1×. When the child's reading still exceeds the
              // committed record by >3×, run ONE more child (budget
              // permitting) and record the min; the child-start loadavg
              // rides the record either way so the adjudication is in
              // the data, not a rebuild-and-bisect.
              val committed = prior(q)
              val isoT =
                if (iso1 > 3 * committed && budgetLeft(q)) {
                  System.err.println(f"[bench] $q isolated $iso1%.3fs still " +
                    f">3x committed $committed%.3fs (loadavg ${loadavg1()}) " +
                    "— contention suspect; taking a second opinion")
                  math.min(iso1, isolatedRun(q, sfDir).getOrElse(iso1))
                } else iso1
              Isolated(q, sweepT, isoT, load1)
            }
          }
        }
      }
    val (full, compact) =
      records(results, isolated, prior, drift, sfDir, loadStart, loadavg())
    val fullLine = JsonMethods.compact(full)
    try Files.write(Paths.get("bench_full.json"), (fullLine + "\n").getBytes(UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    println(fullLine)
    // build.sbt pairs this with outputStrategy := StdoutOutput (no
    // "[info] " prefix) and showSuccess := false (no trailing sbt line),
    // so the runner's capture window ends with exactly this object
    println(JsonMethods.compact(compact))
    spark.stop()
  }
}
