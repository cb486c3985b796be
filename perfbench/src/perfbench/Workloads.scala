package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CuratePipeline, SparkEntry}
import graft.sources.Tables

/** Everything a pass needs: the session, the generated inputs, a fresh
  * output root, and the span recorder.
  */
final case class Ctx(spark: SparkSession, seed: Long, in: String, out: String, tr: Tracer)

/** What one pass did. `ops` are the latencies of the workload's unit
  * operation (pipeline run, query), `items` the work units the
  * throughput metric counts.
  */
final case class PassOut(items: Long, ops: Seq[Double], attempted: Int, failed: Int,
    opNames: Seq[String] = Nil)

abstract class Workload(val name: String) {
  /** Writes the seeded inputs under `ctx.in` (not timed). */
  def prepare(ctx: Ctx): Unit
  /** First touch of the inputs in a new session: part of set-up time. */
  def touch(ctx: Ctx): Unit
  /** Untimed passes before the timed ones. */
  def warmPasses: Int = 1
  /** Most timed passes in one run. */
  def maxPasses: Int = Int.MaxValue
  /** One pass; `p` < 1 is a warm pass. */
  def pass(ctx: Ctx, p: Int): PassOut
  /** Output checks for pass `p`, run after its timing stops; returns
    * the failures.
    */
  def verify(ctx: Ctx, p: Int): Seq[String]
  /** Operator module per query, for resident_mix's family breakdown. */
  def families: Map[String, String] = Map.empty
}

object Workloads {
  val all: Seq[String] = Seq("curate_corpus", "resident_mix")

  def apply(name: String): Option[Workload] = name match {
    case "curate_corpus" => Some(new CurateCorpus)
    case "resident_mix" => Some(new ResidentMix)
    case _ => None
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** curate_corpus: the library's end-to-end curation run over a seeded
  * document corpus, as a batch job runs it: once, in a fresh session,
  * cold codegen and JIT included, because a batch user pays them on
  * every run.
  */
final class CurateCorpus extends Workload("curate_corpus") {
  val Docs = 5000L
  override def warmPasses: Int = 0
  override def maxPasses: Int = 1
  private var distinctTexts = 0L
  private val summaries = scala.collection.mutable.Map.empty[Int, CuratePipeline.Summary]

  def prepare(ctx: Ctx): Unit = {
    Inputs.writeTable(Inputs.documents(ctx.spark, ctx.seed, Docs), ctx.in, "documents")
    distinctTexts = ctx.spark.read.parquet(s"${ctx.in}/documents.parquet")
      .select(countDistinct(col("text"))).head().getLong(0)
  }

  def touch(ctx: Ctx): Unit = Tables.documents(ctx.spark, ctx.in).count()

  def pass(ctx: Ctx, p: Int): PassOut = {
    val (s, dt) = Workloads.timed {
      ctx.tr.span("CuratePipeline", "run")(CuratePipeline.run(ctx.spark, ctx.in, s"${ctx.out}/p$p"))
    }
    summaries(p) = s
    PassOut(items = s.nInput, ops = Seq(dt), attempted = 1, failed = 0)
  }

  def verify(ctx: Ctx, p: Int): Seq[String] = {
    val s = summaries(p)
    val errs = ArrayBuffer.empty[String]
    if (s.nInput != Docs) errs += s"nInput ${s.nInput} != $Docs"
    if (s.nWritten <= 0 || s.nWritten > distinctTexts)
      errs += s"nWritten ${s.nWritten} outside (0, $distinctTexts distinct texts]"
    if (s.nWritten != s.bySplit.values.sum) errs += s"nWritten ${s.nWritten} != sum of bySplit"
    val written = ctx.spark.read.parquet(s"${ctx.out}/p$p/corpus").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (written != s.bySplit) errs += s"re-read corpus $written != summary ${s.bySplit}"
    val jsonl = ctx.spark.read.text(s"${ctx.out}/p$p/jsonl").count()
    if (jsonl != s.nWritten) errs += s"JSONL has $jsonl lines, summary says ${s.nWritten}"
    errs.toSeq
  }
}

/** resident_mix: one resident session answers a fixed query mix over a
  * seeded star schema, pass after pass, in an order the seed permutes
  * per pass. The mix holds session-memo consumers, a query whose in-sweep
  * time disagreed with its fresh-JVM time, and short queries where
  * planning is a large share.
  */
final class ResidentMix extends Workload("resident_mix") {
  /** Star-schema size as a multiple of sf0.1 cardinalities. */
  val Scale = 0.1
  /** The tables the mix reads. */
  val MixTables: Seq[String] = Seq("customer", "supplier", "orders", "lineitem", "documents")
  import ResidentMix.Mix
  override def families: Map[String, String] = Mix.toMap
  // a fixed amount of timed work: later passes run a little faster, so a
  // time-bound pass count would make a fast run's mean cheaper per query
  override def maxPasses: Int = 2

  private val queries = SparkEntry.queries
  private var reference = Map.empty[String, (Int, Int)]
  private val results = scala.collection.mutable.Map.empty[(Int, String), (Int, Int)]

  def prepare(ctx: Ctx): Unit = Inputs.starSchema(ctx.spark, ctx.seed, Scale, ctx.in, MixTables.toSet)

  def touch(ctx: Ctx): Unit = {
    Tables.lineitem(ctx.spark, ctx.in).count()
    Tables.documents(ctx.spark, ctx.in).count()
  }

  def pass(ctx: Ctx, p: Int): PassOut = {
    val order = new scala.util.Random(ctx.seed * 7919 + p).shuffle(Mix)
    val lat = ArrayBuffer.empty[Double]
    val names = ArrayBuffer.empty[String]
    var failed = 0
    for ((q, module) <- order) {
      try {
        val (rows, dt) = Workloads.timed {
          val df: DataFrame = ctx.tr.span(s"operators.$module", q)(queries(q)(ctx.spark, ctx.in))
          ctx.tr.span("exec", q)(df.collect())
        }
        lat += dt
        names += q
        results((p, q)) = (rows.length, ResidentMix.hash(rows))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed in pass $p: $e")
      }
    }
    PassOut(items = lat.size, ops = lat.toSeq, attempted = Mix.size, failed = failed,
      opNames = names.toSeq)
  }

  /** The warm pass's results become the reference; every timed pass must
    * return each query's reference result. A query missing from either
    * (it threw) fails the check.
    */
  def verify(ctx: Ctx, p: Int): Seq[String] = {
    val got = Mix.flatMap { case (q, _) => results.remove((p, q)).map(q -> _) }.toMap
    val missing = Mix.map(_._1).filterNot(got.contains)
      .map(q => s"$q returned no result in " + (if (p < 1) "the warm pass" else s"timed pass $p"))
    if (p < 1) { reference = got; missing }
    else missing ++ got.collect {
      case (q, r) if !reference.get(q).contains(r) =>
        s"$q in pass $p returned (rows, hash) $r; warm pass returned ${reference.get(q)}"
    }.toSeq
  }
}

object ResidentMix {
  /** The query mix: (SparkEntry query, operator module). */
  val Mix: Seq[(String, String)] = Seq(
    "q_cf_coverage" -> "Recsys", "q_pagerank_iter" -> "Graph", "q_bigram_lm" -> "TextAnalysis",
    "q_window_rank" -> "Relational", "q_catalog_parse" -> "Catalog")


  /** Order-sensitive hash of a collected result; doubles are compared to
    * nine significant digits so float-summation order cannot flip it.
    */
  def hash(rows: Array[Row]): Int = MurmurHash3.orderedHash(rows.iterator.map(norm))

  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }
}
