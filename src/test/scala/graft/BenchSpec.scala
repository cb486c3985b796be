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
  private val results = Seq("q_a" -> 1.25, "q_b" -> -1.0, "q_c" -> 2.5)
  private val iso = Seq(Bench.Isolated("q_c", 2.5, 1.0, 0.5))
  private val load = List[JValue](JDouble(0.5), JDouble(0.25), JDouble(0.1), JString("1/99"))
  private val (full, compact) = Bench.records(results, iso, Map("q_z" -> 9.0, "q_a" -> 1.0),
    1.0, "/data/sf0.1", load, load)
  // what a JSON reader on the other side of stdout or the file sees
  private def reparse(j: JValue): JValue = JsonMethods.parse(JsonMethods.compact(j))

  test("a failed query stays in queries as -1.0 but is left out of the total") {
    for (rec <- Seq(full, compact).map(reparse))
      assert(rec \ "value" === JDouble(3.75))
    assert(reparse(full) \ "queries" \ "q_b" === JDouble(-1.0))
    assert(reparse(compact) \ "n_failed" === JInt(1))
    assert(reparse(compact) \ "n_queries" === JInt(3))
  }

  test("both records keep their published key sets") {
    def keys(j: JValue) = j match { case JObject(fs) => fs.map(_._1); case _ => Nil }
    assert(keys(reparse(full)) === List("metric", "value", "unit", "queries", "isolated",
      "loadavg_start", "loadavg_end", "drift_median", "drift_exceeded", "sf"))
    assert(keys(reparse(compact)) === List("metric", "value", "unit", "n_queries",
      "n_failed", "median", "p95", "max", "queries_file", "isolated", "drift_median",
      "drift_exceeded", "queries", "sf"))
    assert(reparse(full) \ "isolated" \ "q_c" ===
      JArray(List(JDouble(2.5), JDouble(1.0), JDouble(0.5))))
    assert(reparse(full) \ "loadavg_start" === JArray(load))
    // the compact line's queries: this sweep's and the prior's slowest,
    // by name, present in this sweep, slowest first
    assert(keys(reparse(compact) \ "queries") === List("q_c", "q_a", "q_b"))
  }
}
