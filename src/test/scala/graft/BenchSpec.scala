package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The bench records are built by a pure function, so their contract is
  * checked here without a session: both records round-trip through a
  * JSON parser, keep the key sets the dev scripts and the bench runner read, and a
  * failed query never lowers the suite total.
  */
class BenchSpec extends AnyFunSuite {
  private val results = Seq(
    Bench.Timing("q_a", 1.25, 2.0, 0.25, 0.125), Bench.Timing("q_b", -1.0, -1.0, -1.0, -1.0),
    Bench.Timing("q_c", 2.5, 0.5, 0.0, 0.5))
  private val load = List[JValue](JDouble(0.5), JDouble(0.25), JDouble(0.1), JString("1/99"))
  private val (full, compact) = Bench.records(results, "/data/sf0.1", load, load)
  // what a JSON reader on the other side of stdout or the file sees
  private def reparse(j: JValue): JValue = JsonMethods.parse(JsonMethods.compact(j))

  test("a failed query stays in queries as -1.0 but is left out of the total") {
    for (rec <- Seq(full, compact).map(reparse))
      assert(rec \ "value" === JDouble(3.75))
    assert(reparse(full) \ "queries" \ "q_b" === JDouble(-1.0))
    assert(reparse(full) \ "cpu" \ "q_b" === JDouble(-1.0))
    assert(reparse(compact) \ "cpu_total" === JDouble(2.5))
    assert(reparse(compact) \ "n_failed" === JInt(1))
    assert(reparse(compact) \ "n_queries" === JInt(3))
  }

  test("both records keep their published key sets") {
    def keys(j: JValue) = j match { case JObject(fs) => fs.map(_._1); case _ => Nil }
    assert(keys(reparse(full)) === List("metric", "value", "unit", "queries", "cpu",
      "gc", "jit", "loadavg_start", "loadavg_end", "sf"))
    assert(keys(reparse(compact)) === List("metric", "value", "unit", "cpu_total",
      "n_queries", "n_failed", "median", "p95", "max", "queries_file", "queries", "sf"))
    assert(reparse(full) \ "cpu" === JObject(
      "q_a" -> JDouble(2.0), "q_b" -> JDouble(-1.0), "q_c" -> JDouble(0.5)))
    assert(reparse(full) \ "loadavg_start" === JArray(load))
    // the compact line's queries: this sweep's slowest, slowest first
    assert(keys(reparse(compact) \ "queries") === List("q_c", "q_a", "q_b"))
  }

  test("the compact line of a whole-suite sweep fits the runner's 2000-char window") {
    // worst case: every query slow, with the longest names first so the
    // 8 slowest are the longest
    val names = SparkEntry.queries.keys.toSeq.sortBy(-_.length)
    val worst = names.zipWithIndex.map { case (q, i) =>
      Bench.Timing(q, 99999.999 - i * 1e-3, 99999.999, 99999.999, 99999.999) }
    val line = JsonMethods.compact(Bench.records(worst, "/data/testdata/sf0.1", load, load)._2)
    assert(line.length < 2000, line)
    val parsed = JsonMethods.parse(line)
    assert(parsed \ "n_queries" === JInt(worst.size))
    assert((parsed \ "queries").asInstanceOf[JObject].obj.map(_._1) === names.take(8))
  }
}
