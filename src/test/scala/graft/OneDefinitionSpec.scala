package graft

import org.scalatest.funsuite.AnyFunSuite

/** The document-quality features behind the curation and evaluation
  * families, the derived inputs the analytic families share (the daily
  * revenue series, the co-trade edges, the two-arm moments, the
  * rank-sum cells, the pooled-midrank normal scores, the ANN top-k, the
  * capped pair edges, the triangle join, the BFS frontier loop, the
  * langid confusion cells, the Mann–Kendall z and trend verdict, the
  * user-lifetime frame, the lag design, the OLS moment fit, the trigram
  * hashes, the catalog row with its validity rule, the MinHash
  * permutation term and band candidates, the langid argmax, the ANN
  * recall fold, the Wilson–Hilferty z and the in-array element pairs) and the
  * exact-decimal types are each written once per engine; operators and
  * oracles call or splice them. A copy spelled out at a call site is
  * how an oracle drifts from its engine twin, so this scans `src/main`
  * for the spellings each definition replaced. A genuine variant stays
  * at its call site and is named, with its reason, beside its row.
  *
  * The rows name derivations someone found; the window scan catches a
  * copy of one nobody has named yet. It trims every line of every
  * `src/main` source and slides a 4-line window over each file: a
  * window counts when none of its lines starts a comment line (`*`, a
  * doc-comment opener or `//`), an `import` or a `package` clause, and
  * its lines add up to at least 100 characters. A window found at two or more places, in one file or
  * in two, fails the scan, which prints each such window with its
  * `file:line` sites. The fix is a helper the sites call (and its SQL
  * twin the oracles splice), not a reworded copy.
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
    // Temporal.dailyCents and its twin (Temporal.orderDates keys the
    // same days by date); the other keyed or filtered day series stay
    // where they are, each engine spelling beside its oracle:
    // regionDailyCents, qMaxConcurrent's spans, qTheilSen's one year,
    // qPermutationTest's two years and qTrending's (day, part) cells
    ("the order-day series is spelled only at dailyCents and the named day series",
      """datediff\(to_date\(col\("o_orderdate"\)\), lit\("1992-01-01"\)\)""" +
        """|o_orderdate::DATE - DATE '1992-01-01'""" +
        """|DATE '1992-01-01',\s*\|?\s*(?:CAST\(o_orderdate AS DATE\)|o_orderdate::DATE)""" +
        """|groupBy\(to_date\(col\("o_orderdate"\)\)\.as\("d"\)\)\s*\.agg\(sum""" +
        """|CAST\(o_orderdate AS DATE\) AS d,\s*\|\s*CAST\(sum""",
      Seq.fill(8)("Temporal.scala") ++ Seq.fill(2)("Profiling.scala")
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
      """DecimalType\(38,\s*(12|0)\)""", Seq("NumFns.scala", "NumFns.scala")),
    // midrank prefix and tie term, engine and SQL, once each
    ("the rank-sum cells are only Profiling.rankSums and its SQL twin",
      """sum\(col\("c_v"\)\)\.over\(|sum\(c_v\) OVER \(ORDER BY v\b""" +
        """|col\("c_v"\)\.cast\(Dec0\) \* col\("c_v"\)|CAST\(c_v AS HUGEINT\) \* c_v""",
      Seq.fill(4)("Profiling.scala")),
    // NumFns defines the start; qFlignerKilleen and qVanDerWaerden differ only in p
    ("the normal-score Newton chain starts only in Inference.normalScores and its SQL twin",
      """normQuantileStart\(|normQuantileStartSql\(""",
      Seq("Inference.scala", "Inference.scala", "NumFns.scala", "NumFns.scala")),
    // variants at their call sites: qKnnClassify ranks label-carrying
    // neighbours of its own query set, and qAnnProbeCurve (engine and
    // oracle) re-ranks each probe depth's candidate frame
    ("the ANN top-k rank is only Similarity.annTopk, its SQL twin and the named variants",
      """orderBy\(col\("sim"\)\.desc, col\("neighbor_id"\)\)|ORDER BY sim DESC, neighbor_id\)""",
      Seq.fill(5)("Similarity.scala")),
    ("the capped pair-edge CTE is only Graph.pairEdgesSql",
      """HAVING count\(\*\) <= \$CoreMaxFanout""", Seq("Graph.scala")),
    ("the triangle join is only Graph.triangles and its SQL twin",
      """col\("ac\.a"\) === col\("ab\.a"\)|ON ac\.a = ab\.a""",
      Seq("Graph.scala", "Graph.scala")),
    // Graph.bfs's anti-join, coTradeSym's reverse edges and bfsSql's walk
    ("the BFS frontier loop is only Graph.bfs and its SQL twin",
      """\.join\(visited, Seq\(|FROM walk w JOIN sym|e\.select\(col\("b"\)\.as\("src"\)""",
      Seq.fill(3)("Graph.scala")),
    ("the langid confusion cells are only TextAnalysis.confusion and its SQL twin",
      """groupBy\(col\("lang"\), col\("predicted"\)\)|GROUP BY lang, predicted""",
      Seq("TextAnalysis.scala", "TextAnalysis.scala")),
    ("the continuity-corrected Mann-Kendall z is only Temporal.mkZ and its SQL twin",
      """\((?:col\("s"\)|s) - 1\)\.cast\("double"\)|CAST\(\$?s - 1 AS DOUBLE\)""",
      Seq("Temporal.scala", "Temporal.scala")),
    ("the trend verdict is only Temporal.trendVerdict and its SQL twin",
      """"increasing"|'increasing'""", Seq("Temporal.scala", "Temporal.scala")),
    ("the user-lifetime frame is only Temporal.lifetimes and its SQL twin",
      """end_day - \$ChurnHorizonDays|col\("end_day"\) - ChurnHorizonDays""",
      Seq("Temporal.scala", "Temporal.scala")),
    ("the 3-lag design is only Temporal.lagDesign and its SQL twin",
      """lag\(col\("d"\), 3\)|lag\(d, 3\)""", Seq("Temporal.scala", "Temporal.scala")),
    // three per engine in TextAnalysis.olsFit; qPriceElasticity's fit
    // folds its moments to doubles first and rounds portably, a variant
    ("the OLS moment fit is only TextAnalysis.olsFit, its SQL twin and qPriceElasticity",
      """col\("k"\) \* col\("sxx"\)|k \* sxx - sx \* sx""",
      Seq.fill(6)("TextAnalysis.scala") ++ Seq.fill(3)("RelationalPlus.scala")),
    // the Curation repetition count and the Dedup shingle set keep
    // their own distinct-trigram spellings
    ("the trigram hashes are only PipelineOps.trigramHashes, its SQL twin and the named variants",
      """t\[i\+2\]|element_at\(col\("t"\), i \+ 3\)""",
      Seq("PipelineOps.scala", "PipelineOps.scala", "Curation.scala", "Curation.scala",
        "Dedup.scala")),
    ("the catalog row is only Catalog.catalogRows and its SQL twin",
      """col\("p\.variable"\)\.as|file_parts\[1\] AS variable""",
      Seq("Catalog.scala", "Catalog.scala")),
    // qCatalogParse has no filter: every key it synthesizes is well-formed
    ("the catalog validity rule is only Catalog.parsable and its SQL twin",
      """size\((?:pathParts|fileParts)\)|len\(str_split\(""",
      Seq("Catalog.scala", "Catalog.scala")),
    // the native signature bank keeps its own copy of the constants
    ("the MinHash permutation term is only TextFns.minhash, its SQL twin and MinHashSigs",
      """101L \* j""", Seq("TextFns.scala", "TextFns.scala", "MinHashSigs.scala")),
    // qIncrementalMinhash (engine and oracle) probes the persisted corpus
    // index with the arriving batch's bands, a variant
    ("the band self-join is only Dedup.bandCandidates, its SQL twin and qIncrementalMinhash",
      """col\("a\.bkey"\) === col\("b\.bkey"\)|a\.bkey = b\.bkey""",
      Seq.fill(4)("Dedup.scala")),
    ("the langid argmax is only TextAnalysis.predictedLang and its SQL twin",
      """col\("s_es"\) >= col\("s_de"\)|s_es >= s_de""",
      Seq("TextAnalysis.scala", "TextAnalysis.scala")),
    ("the ANN recall fold is only Similarity.recall and its SQL twin",
      """\.as\("n_hit"\)|\) AS n_hit\b""", Seq("Similarity.scala", "Similarity.scala")),
    ("the Wilson-Hilferty z is only NumFns.wilsonHilfertyZ and its SQL twin",
      """lit\(2\.0\) / \(lit\(9\.0\)|(?<!\d)2\.0 / \(9\.0 \*""", Seq.fill(4)("NumFns.scala")),
    ("the in-array element pairs are only VectorFns.orderedPairs",
      """slice\([^,]+, i \+ lit\(2\)""", Seq("VectorFns.scala")))

  for ((name, pattern, expected) <- definitions)
    test(name) {
      val sites = sources.flatMap { case (file, text) =>
        pattern.r.findAllIn(text).map(_ => file)
      }
      assert(sites.sorted === expected.sorted)
    }

  test("no 4-line window of src/main is written at two places") {
    val skip = Seq("*", "/**", "//", "import", "package")
    val windows = for {
      (file, text) <- sources
      lines = text.split("\n", -1).map(_.trim)
      i <- 0 until lines.length - 3
      w = lines.slice(i, i + 4).toSeq
      if !w.exists(l => skip.exists(l.startsWith)) && w.map(_.length).sum >= 100
    } yield w -> s"$file:${i + 1}"
    val copies = windows.groupBy(_._1).filter(_._2.size > 1).toSeq.sortBy(_._2.head._2)
    if (copies.nonEmpty) fail(copies.map { case (w, sites) =>
      sites.map(_._2).mkString(" ") + w.map("\n    | " + _).mkString
    }.mkString(s"${copies.size} windows written more than once:\n", "\n", ""))
  }
}
