package graft

import org.scalatest.funsuite.AnyFunSuite

/** The document-quality features behind the curation and evaluation
  * families, and the derived inputs the analytic families share (the
  * daily revenue series, the co-trade edges, the two-arm moments) and
  * the exact-decimal types are each written once per engine; operators and oracles call or splice
  * them. A copy spelled out at a call site is how an oracle drifts from
  * its engine twin, so this scans `src/main` for the spellings each
  * definition replaced.
  */
class OneDefinitionSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
      .toList
  }

  /** (test name, pattern, the file of each site that may match it) */
  private val definitions = Seq(
    ("the English stopword list is written once, in TextFns",
      """"the",\s*"a",\s*"of",\s*"and",\s*"to"""", Seq("TextFns.scala")),
    // TextFns.stopCount is the native count_in, so no isin site is left
    ("isin over a stop list is only TextFns.stopCount",
      """isin\((?:\w+\.)*(?:StopWords|\w+Stop|words)\b""", Seq()),
    ("the DuckDB stopword filter is only TextFns.stopCountSql",
      """list_filter\(toks,\s*(\w+)\s*->\s*(?:\1\s+IN\b|list_contains\()""",
      Seq("TextFns.scala")),
    ("the engine z coefficients are only Curation.qualityZ",
      """lit\(0\.6\)""", Seq("Curation.scala")),
    ("the oracle z coefficients are only Curation.qualityZSql",
      """0\.6 \* ln\(""", Seq("Curation.scala")),
    ("the oracle symbol class is only Curation.symbolRatioSql",
      """'\[a-zA-Z0-9 \]'""", Seq("Curation.scala")),
    // RE2's \s lacks \x0B; oracles split on TextFns.wsClassSql instead
    ("no oracle splits on RE2's \\s", """'\\{1,2}s\+'""", Seq()),
    ("the email regex is applied only by Curation.scrubEmails and its SQL twin",
      """regexp_replace\(.{0,40}?EmailRe""", Seq("Curation.scala", "Curation.scala")),
    ("the engine email scrub is guarded by instr(text, '@')",
      """instr\(text, "@"\) > 0, regexp_replace\(text, EmailRe""", Seq("Curation.scala")),
    // Curation.symbolRatio counts it natively; no translate of the class is left
    ("the symbol class is spelled only in SymbolCount",
      """abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 """",
      Seq("SymbolCount.scala")),
    ("the perplexity bucket thresholds are only TextAnalysis.bucketOf and its oracle",
      """\* 3 < [\w.()"]+ \* 2""", Seq("TextAnalysis.scala", "TextAnalysis.scala")),
    ("the token character total is only TextFns.wordChars and its SQL twin",
      """\+ length\(|transform\(col\("toks"\), t => length|list_transform\(toks, x -> len""",
      Seq("TextFns.scala", "TextFns.scala")),
    // Temporal.dailyCents and its twin; the other keyed or filtered day
    // series stay where they are, each engine spelling beside its oracle:
    // regionDailyCents, qMaxConcurrent's spans, qTheilSen's one year,
    // qPermutationTest's two years, qTrending's (day, part) cells and the
    // date-keyed revenue of qGrubbsOutlier, qPageTrend and qSeasonalMk
    ("the order-day series is spelled only at dailyCents and the named day series",
      """datediff\(to_date\(col\("o_orderdate"\)\), lit\("1992-01-01"\)\)""" +
        """|o_orderdate::DATE - DATE '1992-01-01'""" +
        """|DATE '1992-01-01',\s*\|?\s*(?:CAST\(o_orderdate AS DATE\)|o_orderdate::DATE)""" +
        """|groupBy\(to_date\(col\("o_orderdate"\)\)\.as\("d"\)\)\s*\.agg\(sum""" +
        """|CAST\(o_orderdate AS DATE\) AS d,\s*\|\s*CAST\(sum""",
      Seq.fill(12)("Temporal.scala") ++ Seq.fill(4)("Profiling.scala")
        ++ Seq.fill(2)("Behavioral.scala")),
    ("the nation co-trade edge is only Graph.coTrade and its SQL twin",
      """least\(col\("nc"\)|least\(c_nationkey""", Seq("Graph.scala", "Graph.scala")),
    ("the two-arm pivot and variances are only Profiling.armMoments and its SQL twin",
      """def armCol|arm = 0 THEN n END|\(m0 \* m0\)|\(sx0 / n0\) \* \(sx0 / n0\)""",
      Seq.fill(4)("Profiling.scala")),
    ("the event-type transition lag is only Temporal.transitions and its SQL twin",
      """"from_type", lag|\) AS from_type\b""", Seq("Temporal.scala", "Temporal.scala")),
    ("the customer-to-region hop is only Temporal.custRegion and its SQL twin",
      """select\(col\("c_custkey"\), col\("r_name"\)\)|SELECT c_custkey, r_name\b""",
      Seq("Temporal.scala", "Temporal.scala")),
    ("the exact-decimal types are only NumFns.Dec12 and NumFns.Dec0",
      """DecimalType\(38,\s*(12|0)\)""", Seq("NumFns.scala", "NumFns.scala")))

  for ((name, pattern, expected) <- definitions)
    test(name) {
      val sites = sources.flatMap { case (file, text) =>
        pattern.r.findAllIn(text).map(_ => file)
      }
      assert(sites.sorted === expected.sorted)
    }
}
