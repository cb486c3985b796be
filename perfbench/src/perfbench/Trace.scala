package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from the benchmark side. */
final case class Span(id: Int, parent: Int, name: String, step: String, pass: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Outside-in span recorder. The closed-loop client is one thread, so
  * spans nest strictly and a stack gives each span its parent. Spans are
  * kept in memory and written out once, when the run ends. When disabled
  * `span` is a plain call.
  */
final class Tracer(val runId: String) {
  var enabled = false
  var pass = 0
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  /** Times `f` as a call into layer `name`; `step` labels what the call
    * does within the layer (e.g. "run", or a query name).
    */
  def span[T](name: String, step: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, step, pass, t0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  /** Self time per layer name over `ss`: each span's duration minus the
    * part covered by its direct children. Over one pass's spans the self
    * times sum to the root span's duration.
    */
  def selfTimes(ss: Seq[Span]): Map[String, Double] = {
    val childSum = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.name).map { case (name, xs) =>
      name -> xs.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.write(Json.obj("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "step" -> s.step, "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Benchmark-side listener over public Spark API: task, stage and job
  * events plus each query's planning-phase timings from its
  * `QueryExecution.tracker`. Events are bucketed later by timestamp, so
  * late delivery from the asynchronous bus does not misattribute them.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
      inBytes: Long, outBytes: Long, failed: Boolean)
  final case class Stage(name: String, submitMs: Long, doneMs: Long, outBytes: Long)
  final case class Plan(endMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

  val tasks = ArrayBuffer.empty[Task]
  val stages = ArrayBuffer.empty[Stage]
  val jobStarts = ArrayBuffer.empty[Long]
  val plans = ArrayBuffer.empty[Plan]
  @volatile var lastEventNs: Long = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val dur = i.finishTime - i.launchTime
      val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      tasks += Task(i.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, sched,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        !i.successful)
    } else tasks += Task(i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val done = s.completionTime.getOrElse(System.currentTimeMillis())
    stages += Stage(s.name, s.submissionTime.getOrElse(done), done,
      s.taskMetrics.outputMetrics.bytesWritten)
    touch()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += e.time
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
      val end = ph.values.map(_.endTimeMs).reduceOption(_ max _).getOrElse(System.currentTimeMillis())
      plans += Plan(end, ms("analysis"), ms("optimization"), ms("planning"))
      touch()
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until the bus has been quiet for `quietMs` (bounded). */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEventNs) / 1000000 < quietMs &&
      (System.nanoTime() - t0) / 1000000 < maxMs) Thread.sleep(25)
  }
}
