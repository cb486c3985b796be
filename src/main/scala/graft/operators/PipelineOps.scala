package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, TextFns}
import graft.functions.NumFns.{Dec0, Dec12}
import graft.sources.Tables

/** Training-pipeline utility operators (SURVEY.md §2, table 3): k-fold
  * assignment, LSH band-config tuning from observed similarity, curriculum
  * phase budgeting, and the generic per-column table profiler.
  */
object PipelineOps {

  /** Content-addressed k-fold cross-validation assignment: fold =
    * md5-prefix("fold:"+doc_id) mod 5 — reproducible on any engine, any
    * run, any shard order (the same discipline as the train/val/test
    * split). The report is the fold-balance audit: doc/token counts and
    * source coverage per fold. Pure scan-side hash + one grouped agg; at
    * 100 TB this is one pass, and the assignment column costs nothing to
    * recompute downstream (no fold table to store or join).
    */
  def qCrossvalFolds(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        (TextFns.hash28(concat(lit("fold:"), col("doc_id").cast("string"))) % 5).as("fold"),
        size(TextFns.tokens(col("text"))).as("n_toks"),
        col("source"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("fold"))

  val qCrossvalFoldsOracle: String =
    s"""SELECT ${TextFns.hash28Sql("'fold:' || CAST(doc_id AS VARCHAR)")} % 5 AS fold,
       |  count(*) AS n_docs,
       |  CAST(sum(len(${TextFns.toksSql})) AS BIGINT) AS n_tokens,
       |  count(DISTINCT source) AS n_sources
       |FROM documents
       |GROUP BY 1
       |ORDER BY fold""".stripMargin

  /** The (bands, rows) configs to evaluate — all factorizations of a
    * 64-hash MinHash signature budget.
    */
  val LshConfigs: Seq[(Int, Int)] = Seq((32, 2), (16, 4), (8, 8), (4, 16))

  /** Integer-exponent power as an explicit left-associated multiplication
    * chain — IEEE multiplication is correctly rounded, so splicing the
    * SAME chain into both engines gives bit-identical results, where
    * `pow()` (libm, not correctly rounded) may differ in the last ulp.
    */
  private def powChain(x: Column, n: Int): Column =
    (1 until n).foldLeft(x)((acc, _) => acc * x)

  private def powChainSql(x: String, n: Int): String =
    Seq.fill(n)(x).mkString("(", " * ", ")")

  /** LSH band-config tuning from the OBSERVED pair-similarity
    * distribution: for each (b bands × r rows) factorization of the
    * signature budget, the S-curve collision probability
    * 1−(1−s^r)^b evaluated at each observed Jaccard decile's midpoint,
    * and the expected candidate-pair count it implies. This is how the
    * band/row knobs of [[Dedup]]'s MinHash index are chosen FROM DATA
    * rather than folklore — the config whose expected candidates stay
    * near the true near-dup count is the one to deploy. The observed
    * histogram is the verified Jaccard edge set collapsed to ≤10 decile
    * rows (localCheckpoint'd — 4 config branches reuse it without
    * re-running the pair join); everything after is arithmetic on a
    * dimension-sized frame.
    */
  def qLshTune(s: SparkSession, dir: String): DataFrame = {
    val hist = Dedup.jaccardPairs(s, dir)
      .groupBy(least(floor(col("jaccard") * 10), lit(9.0)).cast("long").as("decile"))
      .agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint()
    val mids = hist.withColumn("s_mid",
      (lit(2) * col("decile") + lit(1)) / lit(20.0))
    LshConfigs.map { case (b, r) =>
      mids
        .withColumn("miss1", lit(1.0) - powChain(col("s_mid"), r))
        .select(
          lit(b).as("n_bands"), lit(r).as("rows_per_band"),
          col("decile"), col("n_pairs"),
          NumFns.roundPortable(lit(1.0) - powChain(col("miss1"), b), 6).as("p_collide"),
          NumFns.roundPortable(
            col("n_pairs") * (lit(1.0) - powChain(col("miss1"), b)), 4).as("expected_pairs"))
    }.reduce(_ unionAll _)
      .orderBy(col("n_bands").desc, col("decile"))
  }

  val qLshTuneOracle: String = {
    val branches = LshConfigs.map { case (b, r) =>
      val miss1 = s"(1.0 - ${powChainSql("s_mid", r)})"
      s"""SELECT $b AS n_bands, $r AS rows_per_band, decile, n_pairs,
         |  ${NumFns.roundPortableSql(s"1.0 - ${powChainSql(miss1, b)}", 6)} AS p_collide,
         |  ${NumFns.roundPortableSql(s"n_pairs * (1.0 - ${powChainSql(miss1, b)})", 4)} AS expected_pairs
         |FROM m""".stripMargin
    }.mkString("\n|UNION ALL\n|")
    s"""WITH ${Dedup.jaccardPairsCte},
       |h AS (
       |  SELECT CAST(least(floor(jaccard * 10), 9.0) AS BIGINT) AS decile,
       |    count(*) AS n_pairs
       |  FROM pj GROUP BY 1
       |),
       |m AS (SELECT decile, n_pairs, (2 * decile + 1) / 20.0 AS s_mid FROM h)
       |$branches
       |ORDER BY n_bands DESC, decile""".stripMargin
  }

  /** Curriculum phase budgeting: order the corpus by quality score
    * (descending) and cut it into 4 phases of equal TOKEN mass — the
    * easy→hard schedule a curriculum trainer consumes, expressed as
    * per-phase doc/token budgets with score ranges. Scale-safe weighted
    * quantiles: docs collapse to ~10⁴ rounded-score cells (one grouped
    * pass), the exclusive token prefix runs over the CELL frame (the
    * dimension-sized-window exception), and the phase of a cell is pure
    * int64 arithmetic on exact token counts — no per-doc global sort at
    * any scale, and the per-doc phase is recoverable scan-side by
    * broadcasting the ≤10⁴-row cell→phase map.
    */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val cells = Curation.withQuality(Tables.documents(s, dir))
      .select(NumFns.roundPortable(col("score"), 4).as("sc"), col("n_tokens"))
      .groupBy(col("sc"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("toks"))
    val w = Window.orderBy(col("sc").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cum_before", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("total", sum(col("toks")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("phase",
        lit(1) + least(lit(3.0), floor(lit(4.0) * col("cum_before") / col("total"))).cast("int"))
      .groupBy(col("phase"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("toks")).as("n_tokens"),
        min(col("sc")).as("min_score"), max(col("sc")).as("max_score"))
      .orderBy(col("phase"))
  }

  val qCurriculumOracle: String =
    s"""WITH q AS ($qualityScoreCellsSql),
       |cells AS (
       |  SELECT sc, count(*) AS n_docs, sum(n_tokens) AS toks FROM q GROUP BY sc
       |),
       |pre AS (
       |  SELECT sc, n_docs, toks,
       |    COALESCE(sum(toks) OVER (ORDER BY sc DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
       |    sum(toks) OVER () AS total
       |  FROM cells
       |)
       |SELECT CAST(1 + least(3.0, floor(4.0 * cum_before / total)) AS INT) AS phase,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  min(sc) AS min_score, max(sc) AS max_score
       |FROM pre
       |GROUP BY 1
       |ORDER BY phase""".stripMargin

  /** SQL twin of [[Curation.withQuality]]'s (rounded score, n_tokens)
    * projection — spliced from [[Curation.qualityFeaturesSql]] /
    * [[Curation.qualityZSql]] (one definition, never copied) with the
    * same portable cell-key rounding as the Spark side.
    */
  private def qualityScoreCellsSql: String =
    s"""SELECT ${NumFns.roundPortableSql("1.0 / (1.0 + exp(-z))", 4)} AS sc, n_tokens FROM (
       |    SELECT n_tokens, ${Curation.qualityZSql} AS z FROM (
       |      ${Curation.qualityFeaturesSql}
       |    ) f0
       |  ) t1""".stripMargin

  /** Generic per-column table profiler (data-quality audit): one scan of
    * the orders table produces null counts, exact distinct counts, and
    * typed min/max per profiled column, emitted long-form. The multi-
    * column exact countDistinct plans one Expand (×4) over the scan — at
    * 100 TB swap approx_count_distinct into the same frame for a single
    * no-expand pass. min/max keep their native type lane (numeric vs
    * string) — no double→string formatting parity trap between engines.
    */
  def qTableProfile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderstatus").isNull.cast("long")).as("nn_status"),
      countDistinct(col("o_orderstatus")).as("nd_status"),
      min(col("o_orderstatus")).as("mn_status"),
      max(col("o_orderstatus")).as("mx_status"),
      sum(col("o_orderpriority").isNull.cast("long")).as("nn_prio"),
      countDistinct(col("o_orderpriority")).as("nd_prio"),
      min(col("o_orderpriority")).as("mn_prio"),
      max(col("o_orderpriority")).as("mx_prio"),
      sum(col("o_totalprice").isNull.cast("long")).as("nn_price"),
      countDistinct(col("o_totalprice")).as("nd_price"),
      min(col("o_totalprice")).as("mn_price"),
      max(col("o_totalprice")).as("mx_price"),
      sum(col("o_custkey").isNull.cast("long")).as("nn_cust"),
      countDistinct(col("o_custkey")).as("nd_cust"),
      min(col("o_custkey")).as("mn_cust"),
      max(col("o_custkey")).as("mx_cust"))
    val nul = lit(null).cast("double")
    val nus = lit(null).cast("string")
    agg.select(
        lit("o_orderstatus").as("col_name"), col("n_rows"),
        col("nn_status").as("n_nulls"), col("nd_status").as("n_distinct"),
        nul.as("min_num"), nul.as("max_num"),
        col("mn_status").as("min_str"), col("mx_status").as("max_str"))
      .unionAll(agg.select(
        lit("o_orderpriority").as("col_name"), col("n_rows"),
        col("nn_prio").as("n_nulls"), col("nd_prio").as("n_distinct"),
        nul.as("min_num"), nul.as("max_num"),
        col("mn_prio").as("min_str"), col("mx_prio").as("max_str")))
      .unionAll(agg.select(
        lit("o_totalprice").as("col_name"), col("n_rows"),
        col("nn_price").as("n_nulls"), col("nd_price").as("n_distinct"),
        col("mn_price").as("min_num"), col("mx_price").as("max_num"),
        nus.as("min_str"), nus.as("max_str")))
      .unionAll(agg.select(
        lit("o_custkey").as("col_name"), col("n_rows"),
        col("nn_cust").as("n_nulls"), col("nd_cust").as("n_distinct"),
        col("mn_cust").cast("double").as("min_num"),
        col("mx_cust").cast("double").as("max_num"),
        nus.as("min_str"), nus.as("max_str")))
      .orderBy(col("col_name"))
  }

  val qTableProfileOracle: String =
    """WITH a AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_status,
      |    count(DISTINCT o_orderstatus) AS nd_status,
      |    min(o_orderstatus) AS mn_status, max(o_orderstatus) AS mx_status,
      |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_prio,
      |    count(DISTINCT o_orderpriority) AS nd_prio,
      |    min(o_orderpriority) AS mn_prio, max(o_orderpriority) AS mx_prio,
      |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_price,
      |    count(DISTINCT o_totalprice) AS nd_price,
      |    min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price,
      |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_cust,
      |    count(DISTINCT o_custkey) AS nd_cust,
      |    min(o_custkey) AS mn_cust, max(o_custkey) AS mx_cust
      |  FROM orders
      |)
      |SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str, max_str
      |FROM (
      |  SELECT 'o_orderstatus' AS col_name, n_rows, nn_status AS n_nulls,
      |    nd_status AS n_distinct, CAST(NULL AS DOUBLE) AS min_num,
      |    CAST(NULL AS DOUBLE) AS max_num, mn_status AS min_str, mx_status AS max_str
      |  FROM a
      |  UNION ALL
      |  SELECT 'o_orderpriority', n_rows, nn_prio, nd_prio,
      |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_prio, mx_prio FROM a
      |  UNION ALL
      |  SELECT 'o_totalprice', n_rows, nn_price, nd_price,
      |    mn_price, mx_price, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
      |  UNION ALL
      |  SELECT 'o_custkey', n_rows, nn_cust, nd_cust,
      |    CAST(mn_cust AS DOUBLE), CAST(mx_cust AS DOUBLE),
      |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
      |) t
      |ORDER BY col_name""".stripMargin

  /** Sample-ratio-mismatch (SRM) gate for the content-addressed
    * train/val/test split: observed fold sizes vs the designed 80/10/10
    * shares as per-split chi-square contributions — the standard
    * experiment-health check (a drifted hash or a filtered-after-split
    * bug shows up here before it poisons an eval). One grouped count +
    * one broadcast total; the corpus is scanned once.
    */
  def qSrm(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir)
      .select(Curation.splitCol.as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
    val total = obs.agg(sum(col("n_docs")).as("total"))
    val share = when(col("split") === "train", 0.8).otherwise(0.1)
    obs.crossJoin(broadcast(total))
      .withColumn("expected", col("total") * share)
      .select(col("split"), col("n_docs"),
        NumFns.roundPortable(col("expected"), 4).as("expected"),
        NumFns.roundPortable(
          (col("n_docs") - col("expected")) * (col("n_docs") - col("expected"))
            / col("expected"), 6).as("chi2_contrib"))
      .orderBy(col("split"))
  }

  val qSrmOracle: String =
    s"""WITH obs AS (
       |  SELECT ${Curation.splitCaseSql} AS split, count(*) AS n_docs
       |  FROM documents GROUP BY 1
       |),
       |t AS (SELECT sum(n_docs) AS total FROM obs),
       |e AS (
       |  SELECT split, n_docs,
       |    total * (CASE WHEN split = 'train' THEN 0.8 ELSE 0.1 END) AS expected
       |  FROM obs, t
       |)
       |SELECT split, n_docs,
       |  ${NumFns.roundPortableSql("expected", 4)} AS expected,
       |  ${NumFns.roundPortableSql("(n_docs - expected) * (n_docs - expected) / expected", 6)} AS chi2_contrib
       |FROM e
       |ORDER BY split""".stripMargin

  /** View→purchase conversion-latency distribution: each purchase pairs
    * with the user's most recent STRICTLY-prior view (the as-of window:
    * last-ignore-nulls over an exclusive-end frame), and the latency
    * distribution is summarized by exact p50/p90/p99 through the
    * distinct-value-cells percentile engine — one user-keyed window pass
    * + cell-sized percentile state, never a global row sort.
    */
  def qTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lat = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("lvu",
        last(when(col("event_type") === "view", col("us")), ignoreNulls = true).over(wPrev))
      .filter(col("event_type") === "purchase" && col("lvu").isNotNull)
      .select(lit("all").as("grp"), ((col("us") - col("lvu")) / lit(1e6)).as("lat_s"))
    Analytics.exactPercentilesMulti(lat, "grp",
        Seq("lat_s" -> Seq(0.5 -> "p50_s", 0.9 -> "p90_s", 0.99 -> "p99_s")),
        countAs = Some("lat_s" -> "n_conversions"))
      .select(col("p50_s"), col("p90_s"), col("p99_s"), col("n_conversions"))
  }

  val qTimeToConvertOracle: String =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
      |),
      |lv AS (
      |  SELECT event_type, us,
      |    last_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lvu
      |  FROM o
      |),
      |l AS (
      |  SELECT (us - lvu) / 1e6 AS lat_s FROM lv
      |  WHERE event_type = 'purchase' AND lvu IS NOT NULL
      |)
      |SELECT round(quantile_cont(lat_s, 0.5), 4) AS p50_s,
      |  round(quantile_cont(lat_s, 0.9), 4) AS p90_s,
      |  round(quantile_cont(lat_s, 0.99), 4) AS p99_s,
      |  count(*) AS n_conversions
      |FROM l""".stripMargin

  /** Repeat-purchase (reorder) rate per part — the recsys demand-shape
    * metric: of the customers who ever bought a part, the share who
    * bought it in ≥2 DISTINCT orders. The (part, customer, order) triple
    * distinct collapses map-side before any per-part aggregation; exact
    * integer ratio, portably rounded.
    */
  def qReorderRate(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey").as("part"), col("o_custkey").as("cust"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
      .select(col("part"), col("n_customers"), col("n_repeat"),
        NumFns.roundPortable(
          col("n_repeat").cast("double") / col("n_customers"), 4).as("repeat_rate"))
      .orderBy(col("part"))

  val qReorderRateOracle: String =
    s"""WITH pc AS (
       |  SELECT l_partkey AS part, o_custkey AS cust,
       |    count(DISTINCT o_orderkey) AS n_orders
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |),
       |g AS (
       |  SELECT part, count(*) AS n_customers,
       |    CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
       |  FROM pc GROUP BY 1
       |)
       |SELECT part, n_customers, n_repeat,
       |  ${NumFns.roundPortableSql("CAST(n_repeat AS DOUBLE) / n_customers", 4)} AS repeat_rate
       |FROM g
       |ORDER BY part""".stripMargin

  /** Per-source word-trigram hashes `(source, g)`, one row per shingle
    * occurrence of every document with at least three tokens (hash28 of
    * the space-joined trigram), shared by [[qCompressRatio]] and
    * [[qCompressRatioApprox]].
    */
  def trigramHashes(docs: DataFrame): DataFrame = {
    val grams = transform(
      sequence(lit(0), size(col("t")) - 3),
      i => TextFns.hash28(concat_ws(" ",
        element_at(col("t"), i + 1), element_at(col("t"), i + 2),
        element_at(col("t"), i + 3))))
    docs.select(col("source"), TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(grams).as("g"))
  }

  /** SQL twin of [[trigramHashes]]: CTEs `t` and `g(source, g)` over
    * `documents`.
    */
  private val trigramHashesSql: String =
    s"""t AS (SELECT source, ${TextFns.toksSql} AS t FROM documents),
       |g AS (
       |  SELECT source,
       |    unnest(list_transform(range(1, len(t) - 1),
       |      i -> ${TextFns.hash28Sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")})) AS g
       |  FROM t WHERE len(t) >= 3
       |)""".stripMargin

  /** Per-source compressibility proxy: the unique-3-gram ratio
    * (distinct shingles ÷ total shingles WITH multiplicity). Highly
    * templated/boilerplate sources score low, natural prose scores high
    * — a one-pass corpus-quality signal that approximates what a gzip
    * probe would say without decompressing anything. The
    * [[trigramHashes]] explode
    * shuffles bare (source, hash28) longs; distinct counting is the
    * standard two-phase rewrite (approx_count_distinct is the no-Expand
    * 100 TB swap-in).
    */
  def qCompressRatio(s: SparkSession, dir: String): DataFrame =
    trigramHashes(Tables.documents(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("n_unique"))
      .select(col("source"), col("n_grams"), col("n_unique"),
        NumFns.roundPortable(
          col("n_unique").cast("double") / col("n_grams"), 6).as("unique_ratio"))
      .orderBy(col("source"))

  /** The oracle of [[qCompressRatio]]; `more` adds output columns. */
  private def compressRatioSql(more: String*): String =
    s"""WITH $trigramHashesSql,
       |a AS (
       |  SELECT source, count(*) AS n_grams, count(DISTINCT g) AS n_unique
       |  FROM g GROUP BY 1
       |)
       |SELECT source, n_grams, n_unique,
       |  ${NumFns.roundPortableSql("CAST(n_unique AS DOUBLE) / n_grams", 6)} AS unique_ratio${more.map(",\n  " + _).mkString}
       |FROM a
       |ORDER BY source""".stripMargin

  val qCompressRatioOracle: String = compressRatioSql()

  /** The certified-approx form of [[qCompressRatio]] — the shape you
    * actually run at 100 TB, where the exact per-source distinct count
    * shuffles every (source, shingle) pair: `approx_count_distinct`
    * (HLL++, rsd 2 %) rides the SAME single-pass aggregate over the
    * [[trigramHashes]] as the multiplicity count — one scan, fixed
    * sketch state per source, no dedup shuffle. Gated by the [[Sketches]] self-certification
    * contract: the output carries the exact twin (which the oracle
    * recomputes independently) plus `within_bound` asserting the sketch
    * landed within [[Sketches.DistinctBound]] (5 % ≈ 2.5σ) of it — a
    * drifting sketch flips the boolean and reds the row.
    */
  def qCompressRatioApprox(s: SparkSession, dir: String): DataFrame = {
    val gr = trigramHashes(Tables.documents(s, dir))
      .localCheckpoint() // the one-pass approx agg AND the exact twin
    val approx = gr.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        approx_count_distinct(col("g"), 0.02).as("apx"))
    val exact = gr.distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"))
    approx.join(exact, Seq("source"))
      .select(col("source"), col("n_grams"), col("n_unique"),
        NumFns.roundPortable(
          col("n_unique").cast("double") / col("n_grams"), 6)
          .as("unique_ratio"),
        (abs(col("apx") - col("n_unique")) <=
          col("n_unique") * Sketches.DistinctBound).as("within_bound"))
      .orderBy(col("source"))
  }

  val qCompressRatioApproxOracle: String = compressRatioSql("TRUE AS within_bound")

  /** Session-scoped conversion funnel: the [[Relational.qSessionize]]
    * 30-minute-gap sessionization composed with the chained-min funnel
    * ([[Behavioral.qFunnel]]'s shape), at SESSION granularity — a user
    * who browses on Monday and buys on Friday is two sessions, one
    * stage-1 and one stage-3, which is what product analytics actually
    * wants. One user-keyed window pass builds session ids; each funnel
    * stage is a grouped min joined forward on the (user, session) key —
    * all shuffles ride the same user hash.
    */
  def qSessionFunnel(s: SparkSession, dir: String): DataFrame = {
    val sess = Relational.sessions(s, dir, "event_type")
    val key = Seq("user_id", "sess")
    val all = sess.groupBy(col("user_id"), col("sess")).agg(count(lit(1)).as("n_ev"))
    val t1 = sess.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("sess")).agg(min(col("us")).as("view_us"))
    val t2 = sess.filter(col("event_type") === "click")
      .join(t1.hint("shuffle_hash"), key)
      .filter(col("us") > col("view_us"))
      .groupBy(col("user_id"), col("sess")).agg(min(col("us")).as("click_us"))
    val t3 = sess.filter(col("event_type") === "purchase")
      .join(t2.hint("shuffle_hash"), key)
      .filter(col("us") > col("click_us"))
      .groupBy(col("user_id"), col("sess")).agg(min(col("us")).as("purchase_us"))
    all
      .join(t1.hint("shuffle_hash"), key, "left")
      .join(t2.hint("shuffle_hash"), key, "left")
      .join(t3.hint("shuffle_hash"), key, "left")
      .select(
        when(col("purchase_us").isNotNull, 3)
          .when(col("click_us").isNotNull, 2)
          .when(col("view_us").isNotNull, 1)
          .otherwise(0).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("stage"))
  }

  val qSessionFunnelOracle: String =
    s"""WITH ${Relational.sessionsSql("event_type")}, t1 AS (
      |  SELECT user_id, sess, min(us) AS view_us FROM se
      |  WHERE event_type = 'view' GROUP BY 1, 2
      |), t2 AS (
      |  SELECT se.user_id, se.sess, min(us) AS click_us
      |  FROM se JOIN t1 ON se.user_id = t1.user_id AND se.sess = t1.sess
      |  WHERE event_type = 'click' AND us > view_us GROUP BY 1, 2
      |), t3 AS (
      |  SELECT se.user_id, se.sess, min(us) AS purchase_us
      |  FROM se JOIN t2 ON se.user_id = t2.user_id AND se.sess = t2.sess
      |  WHERE event_type = 'purchase' AND us > click_us GROUP BY 1, 2
      |), a AS (
      |  SELECT user_id, sess FROM se GROUP BY 1, 2
      |)
      |SELECT CASE WHEN purchase_us IS NOT NULL THEN 3
      |            WHEN click_us IS NOT NULL THEN 2
      |            WHEN view_us IS NOT NULL THEN 1 ELSE 0 END AS stage,
      |  count(*) AS n_sessions
      |FROM a
      |LEFT JOIN t1 USING (user_id, sess)
      |LEFT JOIN t2 USING (user_id, sess)
      |LEFT JOIN t3 USING (user_id, sess)
      |GROUP BY 1
      |ORDER BY stage""".stripMargin

  /** Watermark-sizing audit: per event type, the event-time LATENESS
    * distribution under arrival order (event_id as the arrival proxy) —
    * lateness of a row is how far the already-seen event-time high-water
    * mark is ahead of it. p50/p95 come from the exact cells percentile
    * engine; the on-time share and max are exact integers/micros. This
    * is the number a streaming deployment reads to set
    * `withWatermark(delay)`: the delay covering p95 (or max) lateness
    * bounds state while dropping ≤5% (or none) of late rows — computed
    * in batch over history, consumed by [[graft.streaming]].
    */
  def qWatermarkAudit(s: SparkSession, dir: String): DataFrame = {
    val wArr = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lat = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("late_us", max(col("us")).over(wArr) - col("us"))
    val pct = Analytics.exactPercentilesMulti(
      lat.select(col("event_type"), (col("late_us") / lit(1e6)).as("late_s")),
      "event_type",
      Seq("late_s" -> Seq(0.5 -> "p50_late_s", 0.95 -> "p95_late_s")),
      countAs = Some("late_s" -> "n_events"))
    val ext = lat.groupBy(col("event_type"))
      .agg(max(col("late_us")).as("max_late_us"),
        sum(when(col("late_us") === 0L, 1L).otherwise(0L)).as("n_on_time"))
    pct.join(broadcast(ext), "event_type")
      .select(col("event_type"), col("n_events"),
        col("p50_late_s"), col("p95_late_s"),
        (col("max_late_us") / lit(1e6)).as("max_late_s"),
        NumFns.roundPortable(
          col("n_on_time").cast("double") / col("n_events"), 4).as("on_time_share"))
      .orderBy(col("event_type"))
  }

  val qWatermarkAuditOracle: String =
    s"""WITH o AS (
       |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events
       |),
       |l AS (
       |  SELECT event_type,
       |    max(us) OVER (PARTITION BY event_type ORDER BY event_id
       |                  ROWS UNBOUNDED PRECEDING) - us AS late_us
       |  FROM o
       |)
       |SELECT event_type, count(*) AS n_events,
       |  round(quantile_cont(late_us / 1e6, 0.5), 4) AS p50_late_s,
       |  round(quantile_cont(late_us / 1e6, 0.95), 4) AS p95_late_s,
       |  max(late_us) / 1e6 AS max_late_s,
       |  ${NumFns.roundPortableSql(
            "sum(CASE WHEN late_us = 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4)} AS on_time_share
       |FROM l
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Join-key skew profiler — the measurement that DECIDES when
    * [[graft.plans.Salt]] is worth its overhead: for each candidate join
    * key of the fact tables, the per-key row-count distribution (mean,
    * p99, max via the exact cells engine on the key-count frame) and the
    * skew factor max/mean. A factor near 1 says hash joins balance; a
    * large factor says the hot keys need salting or AQE skew handling.
    * Each key costs one map-side-combined count; the percentile runs
    * over the KEY-COUNT frame (|distinct keys| rows, never the fact).
    */
  def qJoinSkew(s: SparkSession, dir: String): DataFrame = {
    // r12 rework (guide §1.2/§2.4): the old shape built a per-key plan
    // TWICE (percentile engine + a separate sum/max agg both re-derived
    // the key-count frame) and unioned five such plans — 10 fact scans,
    // 10 count exchanges, 10 jobs. Now: lineitem's three keys melt
    // scan-side (unpivot = Expand, ONE lineitem pass), the three frames
    // union BEFORE the count aggregate (one (grp,k) exchange serves all
    // five keys), and the percentile engine and the sum/max extremes
    // both read the ≤|distinct keys| count frame through that one
    // exchange (exchange reuse) instead of replaying the scans.
    // Identical counts feed the identical engine, so every output value
    // is unchanged.
    val keyed = Tables.lineitem(s, dir)
      .unpivot(
        Array.empty[Column],
        Array(col("l_orderkey").as("lineitem.l_orderkey"),
          col("l_partkey").as("lineitem.l_partkey"),
          col("l_suppkey").as("lineitem.l_suppkey")),
        "grp", "k")
      .unionAll(Tables.orders(s, dir)
        .select(lit("orders.o_custkey").as("grp"), col("o_custkey").as("k")))
      .unionAll(Tables.events(s, dir)
        .select(lit("events.user_id").as("grp"), col("user_id").as("k")))
    val counts = keyed.groupBy(col("grp"), col("k"))
      .agg(count(lit(1)).as("c"))
      .select(col("grp"), col("c"))
    val stats = Analytics.exactPercentilesMulti(
      counts.select(col("grp"), col("c").cast("double").as("c")),
      "grp", Seq("c" -> Seq(0.5 -> "p50_rows", 0.99 -> "p99_rows")),
      countAs = Some("c" -> "n_keys"))
    val ext = counts.groupBy(col("grp")).agg(
      sum(col("c")).as("n_rows"), max(col("c")).as("max_rows"))
    stats.join(broadcast(ext), Seq("grp")) // 5-row frames: literal-bounded
      .select(col("grp").as("join_key"), col("n_keys"), col("n_rows"),
        col("p50_rows"), col("p99_rows"), col("max_rows"),
        NumFns.roundPortable(
          col("max_rows").cast("double") * col("n_keys") / col("n_rows"), 4)
          .as("skew_factor"))
      .orderBy(col("join_key"))
  }

  /** Per-customer behavioral feature materialization — the feature-store
    * shape: one orders⋈lineitem pass grouped by customer produces the
    * training-feature row (order/part/supplier breadth, stable spend,
    * portably-rounded average order value, active-span days). The three
    * exact distincts plan one Expand over the joined scan;
    * approx_count_distinct is the single-pass 100 TB swap-in. Every
    * feature is engine-deterministic, so a re-materialization diffs
    * clean against the last snapshot.
    *
    * Spend is int64-quantized per row (NOT a decimal sum of the raw
    * product): with ~|customers| groups, SOME group's revenue product
    * will land where the double→DECIMAL(38,12) cast rounds differently
    * across engines (caught by the sf0.1 probe) — the per-row portable
    * quantization is immune by construction.
    */
  def qFeatureStore(s: SparkSession, dir: String): DataFrame = {
    // THREE countDistincts in one agg plan an Expand (every row tripled
    // through the aggregate — measured 4.1s at sf0.1). Instead: ONE
    // customer-keyed exchange, materialized once; each distinct count is
    // then a dedup + agg that REUSES that partitioning (same-cust rows
    // are already colocated), and the final joins are co-partitioned —
    // zero further shuffles anywhere in the plan.
    val base = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("okey"),
        col("l_partkey").as("pkey"), col("l_suppkey").as("skey"),
        NumFns.roundAwayLong(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(1e6))
          .as("spend_q"),
        unix_micros(col("o_orderdate")).as("od_us"))
      .repartition(col("cust"))
      .localCheckpoint()
    def dcount(key: String, as: String) = base.select(col("cust"), col(key))
      .distinct().groupBy(col("cust")).agg(count(lit(1)).as(as))
    val m = base.groupBy(col("cust"))
      .agg(NumFns.roundPortable(
          sum(col("spend_q")).cast("double") / lit(1e6), 2).as("total_spend"),
        max(col("od_us")).as("last_us"), min(col("od_us")).as("first_us"))
    dcount("okey", "n_orders")
      .join(dcount("pkey", "n_parts"), "cust")
      .join(dcount("skey", "n_suppliers"), "cust")
      .join(m, "cust")
      .select(col("cust"), col("n_orders"), col("n_parts"), col("n_suppliers"),
        col("total_spend"),
        NumFns.roundPortable(col("total_spend") / col("n_orders"), 4).as("avg_order_value"),
        ((col("last_us") - col("first_us")) / lit(86400000000L)).as("active_span_days"))
      .orderBy(col("cust"))
  }

  val qFeatureStoreOracle: String =
    s"""WITH f AS (
       |  SELECT o_custkey AS cust,
       |    count(DISTINCT o_orderkey) AS n_orders,
       |    count(DISTINCT l_partkey) AS n_parts,
       |    count(DISTINCT l_suppkey) AS n_suppliers,
       |    ${NumFns.quantSumSql("l_extendedprice * (1.0 - l_discount)", 2)} AS total_spend,
       |    CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
       |    CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS first_us
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1
       |)
       |SELECT cust, n_orders, n_parts, n_suppliers, total_spend,
       |  ${NumFns.roundPortableSql("total_spend / n_orders", 4)} AS avg_order_value,
       |  (last_us - first_us) / 86400000000 AS active_span_days
       |FROM f
       |ORDER BY cust""".stripMargin

  /** Two-proportion z-test for an A/B experiment: variants are
    * content-addressed (md5-prefix of the user id — the same
    * deterministic assignment discipline as the splits), the outcome is
    * a per-user conversion flag, and the pooled-variance z-score is the
    * launch/no-launch number. The z is guarded to NULL when the pooled
    * rate is degenerate (0 or 1) — identical CASE on both engines
    * instead of an engine-specific NaN. One grouped pass over users; the
    * final arithmetic runs on a 1-row frame.
    */
  def qAbConversion(s: SparkSession, dir: String): DataFrame = {
    val variant = when(
      TextFns.hash28(concat(lit("ab:"), col("user_id").cast("string"))) % 2 === 0,
      "A").otherwise("B")
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select(variant.as("variant"),
        when(col("np") > 13, 1L).otherwise(0L).as("converted"))
    val g = u.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
    val w = g.agg(
      max(when(col("variant") === "A", col("n_users"))).as("na"),
      max(when(col("variant") === "A", col("n_converted"))).as("ca"),
      max(when(col("variant") === "B", col("n_users"))).as("nb"),
      max(when(col("variant") === "B", col("n_converted"))).as("cb"))
    val pooled = (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))
    val z = (col("ca").cast("double") / col("na") - col("cb").cast("double") / col("nb")) /
      sqrt(pooled * (lit(1.0) - pooled) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb")))
    w.select(col("na"), col("ca"), col("nb"), col("cb"),
      NumFns.roundPortable(col("ca").cast("double") / col("na"), 6).as("rate_a"),
      NumFns.roundPortable(col("cb").cast("double") / col("nb"), 6).as("rate_b"),
      when(col("ca") + col("cb") > 0 && col("ca") + col("cb") < col("na") + col("nb"),
        NumFns.roundPortable(z, 4)).as("z_score"))
  }

  val qAbConversionOracle: String = {
    val h = TextFns.hash28Sql("'ab:' || CAST(user_id AS VARCHAR)")
    val zExpr = "(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) " +
      "/ sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) " +
      "* (1.0 / na + 1.0 / nb))"
    s"""WITH u AS (
       |  SELECT CASE WHEN $h % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 13
       |         THEN 1 ELSE 0 END AS converted
       |  FROM events GROUP BY user_id
       |),
       |g AS (
       |  SELECT variant, count(*) AS n_users, CAST(sum(converted) AS BIGINT) AS n_converted
       |  FROM u GROUP BY 1
       |),
       |w AS (
       |  SELECT
       |    max(CASE WHEN variant = 'A' THEN n_users END) AS na,
       |    max(CASE WHEN variant = 'A' THEN n_converted END) AS ca,
       |    max(CASE WHEN variant = 'B' THEN n_users END) AS nb,
       |    max(CASE WHEN variant = 'B' THEN n_converted END) AS cb
       |  FROM g
       |)
       |SELECT na, ca, nb, cb,
       |  ${NumFns.roundPortableSql("CAST(ca AS DOUBLE) / na", 6)} AS rate_a,
       |  ${NumFns.roundPortableSql("CAST(cb AS DOUBLE) / nb", 6)} AS rate_b,
       |  CASE WHEN ca + cb > 0 AND ca + cb < na + nb
       |       THEN ${NumFns.roundPortableSql(zExpr, 4)} END AS z_score
       |FROM w""".stripMargin
  }

  /** Deterministic negative sampling for recsys/contrastive training:
    * per anchor customer, k candidate parts drawn content-addressed
    * (md5-prefix of "neg:cust:j" mod |parts|), then accidental positives
    * removed with an anti join against the true interaction set. The
    * draw is a pure function of the key — any executor, any retry, any
    * engine regenerates the same negatives, so training runs are
    * reproducible without persisting a sample table. The anti join moves
    * (cust, part) keys only; the anchor set here is id-bounded to keep
    * the oracle output small (at scale the same plan runs unbounded).
    */
  def qNegativeSampling(s: SparkSession, dir: String): DataFrame = {
    val nParts = Tables.part(s, dir).agg(count(lit(1)).as("n_parts"))
    val pos = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()
    Tables.customer(s, dir).filter(col("c_custkey") < 20)
      .select(col("c_custkey").as("cust"))
      .crossJoin(broadcast(nParts))
      .select(col("cust"), explode(sequence(lit(1), lit(10))).as("j"),
        col("n_parts"))
      .select(col("cust"), col("j").cast("long").as("j"),
        (TextFns.hash28(concat(lit("neg:"), col("cust").cast("string"),
          lit(":"), col("j").cast("string"))) % col("n_parts")).as("part"))
      .join(pos.hint("shuffle_hash"), Seq("cust", "part"), "left_anti")
      .orderBy(col("cust"), col("j"))
      .select(col("cust"), col("j"), col("part"))
  }

  val qNegativeSamplingOracle: String = {
    val h = TextFns.hash28Sql("'neg:' || cust || ':' || j")
    s"""WITH np AS (SELECT count(*) AS n_parts FROM part),
       |t AS (SELECT c_custkey AS cust FROM customer WHERE c_custkey < 20),
       |c AS (
       |  SELECT cust, j, $h % n_parts AS part
       |  FROM t, np, unnest(range(1, 11)) AS r(j)
       |),
       |pos AS (
       |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |)
       |SELECT cust, j, part
       |FROM c
       |WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.cust = c.cust AND pos.part = c.part)
       |ORDER BY cust, j""".stripMargin
  }

  val qJoinSkewOracle: String = {
    val branches = Seq(
      ("lineitem.l_orderkey", "SELECT l_orderkey AS k FROM lineitem"),
      ("lineitem.l_partkey", "SELECT l_partkey AS k FROM lineitem"),
      ("lineitem.l_suppkey", "SELECT l_suppkey AS k FROM lineitem"),
      ("orders.o_custkey", "SELECT o_custkey AS k FROM orders"),
      ("events.user_id", "SELECT user_id AS k FROM events")).map { case (name, src) =>
      s"""SELECT '$name' AS join_key, count(*) AS n_keys,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  round(quantile_cont(CAST(c AS DOUBLE), 0.5), 4) AS p50_rows,
         |  round(quantile_cont(CAST(c AS DOUBLE), 0.99), 4) AS p99_rows,
         |  max(c) AS max_rows,
         |  ${NumFns.roundPortableSql(
              "CAST(max(c) AS DOUBLE) * count(*) / CAST(sum(c) AS DOUBLE)", 4)} AS skew_factor
         |FROM (SELECT k, count(*) AS c FROM ($src) GROUP BY k)""".stripMargin
    }.mkString("\n|UNION ALL\n|")
    s"""$branches
       |ORDER BY join_key""".stripMargin
  }

  /** CUPED variance reduction (Deng et al., WSDM'13) for the A/B read:
    * per-customer pre-period (1996) spend is the covariate X, post-period
    * (1997) spend the metric Y; θ = cov(X,Y)/var(X) from global moments,
    * and each arm (custkey parity) reports its mean of the adjusted
    * metric Y − θ·(X − X̄) plus the variance-reduction factor
    * 1 − ρ² = 1 − cov²/(var·var). Exactness: per-customer X, Y and the
    * cross/square products are deterministic row-local doubles; ALL
    * global and per-arm moment sums go through DECIMAL(38,12) so
    * accumulation order can't move θ — θ then feeds both arms as one
    * identical scalar. Shape: one orders scan → customer-keyed partial
    * agg (map-side combined), a 1-row broadcast moment frame, one ≤2-row
    * arm agg. No raw-row reshuffle after the per-customer collapse; at
    * 100 TB the exchange carries |customers| pre/post pairs.
    */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val yr = year(col("o_orderdate"))
    val perCust = Tables.orders(s, dir)
      .filter(yr.isin(1996, 1997))
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(yr === 1996, col("o_totalprice")).otherwise(0.0).cast(Dec12))
          .cast("double").as("x"),
        sum(when(yr === 1997, col("o_totalprice")).otherwise(0.0).cast(Dec12))
          .cast("double").as("y"))
    val mom = perCust.agg(count(lit(1)).cast("double").as("n"), TextAnalysis.momentSums: _*)
      .select(
        (col("sx") / col("n")).as("mx"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"),
        (lit(1.0) -
          (col("sxy") - col("sx") * col("sy") / col("n")) *
          (col("sxy") - col("sx") * col("sy") / col("n")) /
          ((col("sxx") - col("sx") * col("sx") / col("n")) *
           (col("syy") - col("sy") * col("sy") / col("n")))).as("var_ratio"))
    perCust.crossJoin(broadcast(mom))
      .groupBy((col("o_custkey") % 2).as("arm"))
      .agg(count(lit(1)).as("n_cust"),
        NumFns.stableMean(col("y"), count(lit(1)), 4).as("mean_raw"),
        NumFns.stableMean(
          col("y") - col("theta") * (col("x") - col("mx")),
          count(lit(1)), 4).as("mean_cuped"),
        NumFns.roundPortable(max(col("theta")), 6).as("theta"),
        NumFns.roundPortable(max(col("var_ratio")), 6).as("var_ratio"))
      .orderBy(col("arm"))
  }

  /** Quantile treatment effects — WHERE in the outcome distribution the
    * arms differ (a mean shift hides a tail effect; QTE at p10..p90 is
    * the distributional read the t-test can't give). Per-arm exact
    * percentiles come from the distributed value-cell engine
    * (Analytics.exactPercentilesMulti — no per-group row sort), and the
    * effect is the difference of the two ROUNDED order statistics, so
    * the published numbers are engine-identical by construction. One
    * orders scan; everything after the cell shuffle is arm-sized.
    */
  def qQte(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.1 -> "p10", 0.25 -> "p25", 0.5 -> "p50",
      0.75 -> "p75", 0.9 -> "p90")
    val df = Tables.orders(s, dir)
      .select((col("o_custkey") % 2).as("arm"), col("o_totalprice"))
    val wide = Analytics.exactPercentiles(df, "arm", "o_totalprice", ps)
    val a0 = wide.filter(col("arm") === 0)
      .select(ps.map { case (_, n) => col(n).as(s"${n}_a") }: _*)
    val a1 = wide.filter(col("arm") === 1)
      .select(ps.map { case (_, n) => col(n).as(s"${n}_b") }: _*)
    a0.crossJoin(broadcast(a1))
      .select(ps.flatMap { case (_, n) =>
        Seq(col(s"${n}_a"), col(s"${n}_b"),
          NumFns.roundPortable(col(s"${n}_b") - col(s"${n}_a"), 4)
            .as(s"${n}_qte"))
      }: _*)
  }

  val qQteOracle: String = {
    val ps = Seq("0.1" -> "p10", "0.25" -> "p25", "0.5" -> "p50",
      "0.75" -> "p75", "0.9" -> "p90")
    val cols = ps.flatMap { case (p, n) =>
      Seq(
        s"round(quantile_cont(CASE WHEN arm = 0 THEN o_totalprice END, $p), 4) AS ${n}_a",
        s"round(quantile_cont(CASE WHEN arm = 1 THEN o_totalprice END, $p), 4) AS ${n}_b")
    }.mkString(",\n|    ")
    val qtes = ps.map { case (_, n) =>
      s"${NumFns.roundPortableSql(s"${n}_b - ${n}_a", 4)} AS ${n}_qte"
    }.mkString(",\n|  ")
    s"""WITH a AS (
       |  SELECT o_custkey % 2 AS arm, o_totalprice FROM orders
       |),
       |w AS (
       |  SELECT
       |    $cols
       |  FROM a
       |)
       |SELECT ${ps.map { case (_, n) => s"${n}_a, ${n}_b" }.mkString(", ")},
       |  $qtes
       |FROM w""".stripMargin
  }

  /** Incremental materialized-view maintenance: the (day × event_type)
    * rollup is kept as partial-aggregate STATE; a new day's delta is
    * aggregated alone and MERGED (union + re-aggregate over ≤ cells
    * rows) — the base is never rescanned. The oracle is the full
    * recompute, so the driver's hash gate itself proves
    * incremental ≡ full — the invariant every pre-aggregated table
    * (daily cubes, sketch tables, feature snapshots) depends on.
    * Mergeability discipline: counts are integers and value sums stay
    * in DECIMAL(38,12) UNTIL AFTER the merge (a rounded double is not
    * mergeable — re-adding rounded partials is how incremental
    * pipelines silently drift from their full recompute); the one
    * round happens on the merged state. Shape: two scans of disjoint
    * partitions (= one scan of the full table), cell-sized merge.
    */
  def qIncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    def cells(part: DataFrame): DataFrame = part
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Dec12)).as("sv"))
    val e = Tables.events(s, dir)
      .select(col("ts"), col("event_type"), col("value"),
        dayofmonth(col("ts")).as("dom"))
    val state = cells(e.filter(col("dom") <= 24)) // yesterday's rollup
    val delta = cells(e.filter(col("dom") > 24)) //  today's arrivals
    state.union(delta)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sv")).as("svm"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"),
        NumFns.noNegZero(round(col("svm"), 4).cast("double"))
          .as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  val qIncrementalRollupOracle: String =
    s"""SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, event_type,
       |  count(*) AS n_events,
       |  ${NumFns.noNegZeroSql(
            "CAST(round(sum(CAST(value AS DECIMAL(38,12))), 4) AS DOUBLE)")}
       |    AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY day, event_type""".stripMargin

  /** Difference-in-differences — the quasi-experimental companion to
    * [[qCuped]]: arm B's post-minus-pre change net of arm A's (parallel-
    * trends baseline), on per-order spend with custkey-parity arms and
    * 1996/1997 as pre/post. All four cell means are DECIMAL-stable and
    * ROUNDED first; the DiD is then scalar arithmetic on four
    * engine-identical doubles, so the estimate can't pick up a different
    * 15th digit per engine. Shape: one orders scan into 4 cells, one
    * 1-row pivot — scan-side at any scale.
    */
  def qDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val yr = year(col("o_orderdate"))
    val cells = Tables.orders(s, dir)
      .filter(yr.isin(1996, 1997))
      .groupBy((col("o_custkey") % 2).as("arm"),
        (yr === 1997).cast("int").as("post"))
      .agg(NumFns.stableMean(col("o_totalprice"), count(lit(1)), 4)
        .as("m"))
    def cell(a: Int, p: Int) =
      max(when(col("arm") === a && col("post") === p, col("m")))
    cells.agg(
        cell(0, 0).as("m_a_pre"), cell(0, 1).as("m_a_post"),
        cell(1, 0).as("m_b_pre"), cell(1, 1).as("m_b_post"))
      .select(col("m_a_pre"), col("m_a_post"), col("m_b_pre"),
        col("m_b_post"),
        NumFns.roundPortable(
          col("m_b_post") - col("m_b_pre") -
            (col("m_a_post") - col("m_a_pre")), 4).as("did"))
  }

  val qDiffInDiffOracle: String =
    s"""WITH c AS (
       |  SELECT o_custkey % 2 AS arm,
       |    CAST(year(o_orderdate) = 1997 AS INT) AS post,
       |    ${NumFns.stableMeanSql("o_totalprice", "count(*)", 4)} AS m
       |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
       |  GROUP BY 1, 2
       |),
       |w AS (
       |  SELECT
       |    max(CASE WHEN arm = 0 AND post = 0 THEN m END) AS m_a_pre,
       |    max(CASE WHEN arm = 0 AND post = 1 THEN m END) AS m_a_post,
       |    max(CASE WHEN arm = 1 AND post = 0 THEN m END) AS m_b_pre,
       |    max(CASE WHEN arm = 1 AND post = 1 THEN m END) AS m_b_post
       |  FROM c
       |)
       |SELECT m_a_pre, m_a_post, m_b_pre, m_b_post,
       |  ${NumFns.roundPortableSql(
            "m_b_post - m_b_pre - (m_a_post - m_a_pre)", 4)} AS did
       |FROM w""".stripMargin

  val qCupedOracle: String =
    s"""WITH pc AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1996
       |      THEN o_totalprice ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS x,
       |    CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1997
       |      THEN o_totalprice ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS y
       |  FROM orders
       |  WHERE year(o_orderdate) IN (1996, 1997)
       |  GROUP BY o_custkey
       |),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${TextAnalysis.momentSumsSql}
       |  FROM pc
       |),
       |k AS (
       |  SELECT sx / n AS mx,
       |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
       |    1.0 - (sxy - sx * sy / n) * (sxy - sx * sy / n) /
       |      ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS var_ratio
       |  FROM m
       |)
       |SELECT o_custkey % 2 AS arm, count(*) AS n_cust,
       |  ${NumFns.stableMeanSql("y", "count(*)", 4)} AS mean_raw,
       |  ${NumFns.stableMeanSql("y - theta * (x - mx)", "count(*)", 4)}
       |    AS mean_cuped,
       |  ${NumFns.roundPortableSql("max(theta)", 6)} AS theta,
       |  ${NumFns.roundPortableSql("max(var_ratio)", 6)} AS var_ratio
       |FROM pc, k
       |GROUP BY o_custkey % 2
       |ORDER BY arm""".stripMargin

  /** Sampling stride for [[qTargetEncoding]]'s emitted audit rows. */
  val TargetEncStride = 97

  /** Leave-one-out target encoding — the categorical-feature encoder
    * every tabular-ML pipeline ships: encode a high-cardinality category
    * (here c_mktsegment) by the mean of the target (order total) over
    * all OTHER rows of the same category, `(S_seg − y_i)/(n_seg − 1)` —
    * excluding the row's own target so the feature never leaks its
    * label. All arithmetic is integer-exact until the final division:
    * targets quantize to cents (exact — prices carry 2 decimals), the
    * per-segment sums are one tiny aggregate broadcast back onto the
    * sampled audit rows. Shape at 100 TB: one scan for the segment
    * moments (≤|segments| cells), one broadcast join to emit encodings —
    * the encoder itself is a closed-form column, nothing is fit or
    * stored.
    */
  def qTargetEncoding(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        NumFns.roundAwayLong(col("o_totalprice") * 100).as("cents"))
    val seg = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val j = o.join(seg, col("o_custkey") === col("c_custkey"))
    val stats = j.groupBy(col("c_mktsegment"))
      .agg(sum(col("cents")).as("s_cents"), count(lit(1)).as("n_seg"))
    j.filter(col("o_orderkey") % TargetEncStride === 0)
      .join(broadcast(stats), Seq("c_mktsegment"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        NumFns.roundPortable(
          (col("s_cents") - col("cents")).cast("double") /
            (col("n_seg") - 1) / 100.0, 4).as("loo_enc"))
      .orderBy(col("o_orderkey"))
  }

  val qTargetEncodingOracle: String =
    s"""WITH j AS (
       |  SELECT o_orderkey, c_mktsegment,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |), stats AS (
       |  SELECT c_mktsegment, CAST(sum(cents) AS BIGINT) AS s_cents,
       |    count(*) AS n_seg
       |  FROM j GROUP BY c_mktsegment
       |)
       |SELECT o_orderkey, j.c_mktsegment,
       |  ${NumFns.roundPortableSql(
             "CAST(s_cents - cents AS DOUBLE) / (n_seg - 1) / 100.0", 4)}
       |    AS loo_enc
       |FROM j JOIN stats ON j.c_mktsegment = stats.c_mktsegment
       |WHERE o_orderkey % $TargetEncStride = 0
       |ORDER BY o_orderkey""".stripMargin

  /** Order-count cut defining [[qWoeIv]]'s binary outcome: a customer
    * with ≥ this many orders is a "repeat buyer" (the population median
    * frequency is ~10, so the split is a real mix at every sf). */
  val WoeGoodMinOrders = 11L

  /** Weight-of-evidence / information-value feature audit — the
    * credit-scoring standard for "how predictive is this feature":
    * account balance binned equal-width (floor(bal/1000) — fixed cuts,
    * deliberately NOT quantile bins, so the binning is one scan-side
    * expression with no global sort), outcome = repeat buyer
    * (≥ [[WoeGoodMinOrders]] orders — an integer cut, no float
    * threshold to diverge on). Per bin WOE = ln(smoothed good share /
    * smoothed bad share) with +0.5 Laplace smoothing (a zero-count bin
    * must not emit ±∞), and IV = Σ (pg − pb)·WOE repeated per row from
    * the ~12-row bins frame. Shape: one map-side-combined order count,
    * one customer-keyed left join, one grouped agg into ≤12 cells; the
    * partitionless total window runs over the bin AGGREGATE, never rows.
    */
  def qWoeIv(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_ord"))
    val bins = Tables.customer(s, dir)
      .select(col("c_custkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bin"))
      // freq is per-CUSTOMER (entity-domain, grows with the data):
      // shuffle_hash, never broadcast (r12 engine-wide PlanAuditSpec ban)
      .join(freq.hint("shuffle_hash"), col("c_custkey") === col("o_custkey"), "left")
      .withColumn("good", coalesce(col("n_ord"), lit(0L)) >= WoeGoodMinOrders)
      .groupBy(col("bin"))
      .agg(sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
        sum(when(!col("good"), 1L).otherwise(0L)).as("n_bad"))
    val wAll = Window.partitionBy()
    val tot = bins
      .withColumn("g_tot", sum(col("n_good")).over(wAll))
      .withColumn("b_tot", sum(col("n_bad")).over(wAll))
    val pg = (col("n_good") + 0.5) / col("g_tot")
    val pb = (col("n_bad") + 0.5) / col("b_tot")
    val woe = log(pg / pb)
    tot.withColumn("woe_raw", woe)
      .withColumn("iv_term", (pg - pb) * col("woe_raw"))
      .withColumn("iv", sum(col("iv_term")).over(wAll))
      .select(col("bin"), col("n_good"), col("n_bad"),
        NumFns.roundPortable(col("woe_raw"), 6).as("woe"),
        NumFns.roundPortable(col("iv"), 6).as("iv_total"))
      .orderBy(col("bin"))
  }

  val qWoeIvOracle: String =
    s"""WITH cnt AS (
       |  SELECT o_custkey, count(*) AS n_ord FROM orders GROUP BY o_custkey
       |), f AS (
       |  SELECT c_custkey,
       |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bin,
       |    CASE WHEN coalesce(n_ord, 0) >= $WoeGoodMinOrders
       |      THEN 1 ELSE 0 END AS good
       |  FROM customer LEFT JOIN cnt ON o_custkey = c_custkey
       |), bins AS (
       |  SELECT bin, CAST(sum(good) AS BIGINT) AS n_good,
       |    CAST(sum(1 - good) AS BIGINT) AS n_bad
       |  FROM f GROUP BY bin
       |), t AS (
       |  SELECT bin, n_good, n_bad,
       |    CAST(sum(n_good) OVER () AS BIGINT) AS g_tot,
       |    CAST(sum(n_bad) OVER () AS BIGINT) AS b_tot
       |  FROM bins
       |), w AS (
       |  SELECT bin, n_good, n_bad,
       |    ln(((n_good + 0.5) / g_tot) / ((n_bad + 0.5) / b_tot)) AS woe_raw,
       |    ((n_good + 0.5) / g_tot - (n_bad + 0.5) / b_tot) *
       |      ln(((n_good + 0.5) / g_tot) / ((n_bad + 0.5) / b_tot)) AS iv_term
       |  FROM t
       |)
       |SELECT bin, n_good, n_bad,
       |  ${NumFns.roundPortableSql("woe_raw", 6)} AS woe,
       |  ${NumFns.roundPortableSql("sum(iv_term) OVER ()", 6)} AS iv_total
       |FROM w
       |ORDER BY bin""".stripMargin

  /** Empirical-Bayes (beta-binomial) shrinkage of per-part return rates
    * — the estimator [[qTargetEncoding]]'s additive smoothing
    * approximates with a hand-picked constant, here with the prior
    * LEARNED from the data by method of moments: fit Beta(α, β) to the
    * population of raw rates (α+β = m(1−m)/v − 1), then shrink each
    * part's rate toward the prior mean proportionally to its evidence:
    * post = (x + α)/(n + α + β). A part with 3 lineitems and 2 returns
    * no longer outranks one with 300 and 200. Report: the 15 highest
    * posterior-rate parts. Shape at 100 TB: one fact scan collapses to
    * per-part (n, x) integer cells (map-side combined); the prior is a
    * 1-row moment aggregate over the PART-level frame, broadcast back;
    * no row-scale work after the first agg. Determinism: moments
    * accumulate as DECIMAL(38,12) (order-free), the posterior is a
    * division of identical doubles, and the top-15 order sorts the
    * rounded posterior with a part-key tiebreak.
    */
  def qEbShrinkage(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum((col("l_returnflag") === "R").cast("long")).as("x"))
      .withColumn("rate", col("x").cast("double") / col("n"))
    val prior = parts.agg(
        count(lit(1)).as("p_cnt"),
        sum(col("rate").cast(Dec12)).as("sr"),
        sum((col("rate") * col("rate")).cast(Dec12)).as("sr2"))
      .select(
        (col("sr").cast("double") / col("p_cnt")).as("m"),
        ((col("sr2").cast("double")
          - col("p_cnt") * (col("sr").cast("double") / col("p_cnt"))
            * (col("sr").cast("double") / col("p_cnt")))
          / (col("p_cnt") - 1)).as("v"))
      .select(col("m"), (col("m") * (lit(1.0) - col("m")) / col("v") - 1.0)
        .as("k"))
      .select((col("m") * col("k")).as("alpha"),
        ((lit(1.0) - col("m")) * col("k")).as("beta"))
    parts.crossJoin(broadcast(prior))
      .select(col("l_partkey"), col("n"), col("x"),
        NumFns.roundPortable(col("rate"), 6).as("raw_rate"),
        NumFns.roundPortable(
          (col("x") + col("alpha")) / (col("n") + col("alpha") + col("beta")),
          6).as("post_rate"))
      .orderBy(col("post_rate").desc, col("l_partkey"))
      .limit(15)
  }

  val qEbShrinkageOracle: String =
    s"""WITH parts AS (
       |  SELECT l_partkey, count(*) AS n,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*) AS rate
       |  FROM lineitem GROUP BY l_partkey
       |), mom AS (
       |  SELECT count(*) AS p_cnt,
       |    CAST(sum(CAST(rate AS DECIMAL(38,12))) AS DOUBLE) AS sr,
       |    CAST(sum(CAST(rate * rate AS DECIMAL(38,12))) AS DOUBLE) AS sr2
       |  FROM parts
       |), mv AS (
       |  SELECT sr / p_cnt AS m,
       |    (sr2 - p_cnt * (sr / p_cnt) * (sr / p_cnt)) / (p_cnt - 1) AS v
       |  FROM mom
       |), pr AS (
       |  SELECT m * (m * (1.0 - m) / v - 1.0) AS alpha,
       |    (1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta
       |  FROM mv
       |)
       |SELECT l_partkey, n, x,
       |  ${NumFns.roundPortableSql("rate", 6)} AS raw_rate,
       |  ${NumFns.roundPortableSql("(x + alpha) / (n + alpha + beta)", 6)}
       |    AS post_rate
       |FROM parts, pr
       |ORDER BY post_rate DESC, l_partkey
       |LIMIT 15""".stripMargin

  /** UCB1 allocation scores over the event-type arms — the adaptive
    * companion to the fixed-split A/B machinery (q_ab_conversion,
    * q_power_analysis): treat each event type as a bandit arm with
    * `value` as reward; UCB1 = mean + √(2·ln N / n) is the optimism
    * bonus that tells the next traffic allocator which arm to pull.
    * Emitted as the ranked allocation table. Shape: one fact scan →
    * |arms| moment cells (map-side combined); the score arithmetic runs
    * on the arms frame. Determinism: means are DECIMAL-stable sums; the
    * bonus is the same √/ln expression of exact integers on both
    * engines; ranking sorts the unrounded score with an arm-name
    * tiebreak.
    */
  def qUcbRank(s: SparkSession, dir: String): DataFrame = {
    val arms = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Dec12)).as("sv"))
    val tot = arms.agg(sum(col("n")).as("big_n"))
    val meanC = col("sv").cast("double") / col("n")
    val ucbC = meanC +
      sqrt(lit(2.0) * log(col("big_n").cast("double")) / col("n"))
    arms.crossJoin(broadcast(tot))
      .withColumn("ucb_raw", ucbC)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("ucb_raw").desc, col("event_type"))).cast("long"))
      .select(col("rk"), col("event_type"), col("n"),
        NumFns.roundPortable(meanC, 6).as("mean_reward"),
        NumFns.roundPortable(col("ucb_raw"), 6).as("ucb"))
      .orderBy(col("rk"))
  }

  val qUcbRankOracle: String =
    s"""WITH arms AS (
       |  SELECT event_type, count(*) AS n,
       |    sum(CAST(value AS DECIMAL(38,12))) AS sv
       |  FROM events GROUP BY event_type
       |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM arms),
       |sc AS (
       |  SELECT event_type, n,
       |    CAST(sv AS DOUBLE) / n AS mean_raw,
       |    CAST(sv AS DOUBLE) / n
       |      + sqrt(2.0 * ln(CAST(big_n AS DOUBLE)) / n) AS ucb_raw
       |  FROM arms, tot
       |)
       |SELECT CAST(row_number() OVER (ORDER BY ucb_raw DESC, event_type)
       |    AS BIGINT) AS rk,
       |  event_type, n,
       |  ${NumFns.roundPortableSql("mean_raw", 6)} AS mean_reward,
       |  ${NumFns.roundPortableSql("ucb_raw", 6)} AS ucb
       |FROM sc
       |ORDER BY rk""".stripMargin

  /** Matching caliper in account-balance cents. */
  val CaliperCents = 5000L

  /** Caliper nearest-neighbor matching ATT — the observational-causal
    * estimator beside CUPED/diff-in-diff/QTE: treated customers (odd
    * key, the repo's deterministic arm) are each matched to the nearest
    * CONTROL by account balance within a [[CaliperCents]] caliper, and
    * ATT = mean(treated outcome − matched control outcome). The naive
    * nearest-neighbor is an all-pairs scan; the scalable form here is
    * the sort-merge trick the asof join uses: one segment-partitioned
    * sort of the customer frame interleaves both arms, a running
    * CONTROL counter gives every treated row the INDEX of its
    * predecessor control (and thus successor), and two equi-joins on
    * that index fetch the only two candidates the nearest-within-
    * caliper can be — O(n log n) total, no pair blow-up, ties broken
    * toward the predecessor then lower key (documented, both engines).
    * Balances quantize to exact cents and outcomes to cent sums, so
    * candidate choice is exact integer comparison; only the final ATT
    * mean is a (DECIMAL-stable) double.
    */
  def qCaliperMatching(s: SparkSession, dir: String): DataFrame = {
    val outcomes = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(NumFns.roundAwayLong(col("o_totalprice") * 100)).as("rev"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        NumFns.roundAwayLong(col("c_acctbal") * 100).as("bal"),
        (col("c_custkey") % 2 === 1).as("treated"))
      // outcomes is per-CUSTOMER (entity-domain): shuffle_hash, never
      // broadcast (r12 ban — this subtree is replayed 3× pre-AQE)
      .join(outcomes.hint("shuffle_hash"), col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("seg"), col("bal"), col("treated"),
        coalesce(col("rev"), lit(0L)).as("y"))
    val wSeq = Window.partitionBy(col("seg"))
      .orderBy(col("bal"), col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seq = cust.withColumn("cidx",
      sum((!col("treated")).cast("long")).over(wSeq))
    val ctrlIdx = seq.filter(!col("treated"))
      .select(col("seg"), col("cidx").as("ci"),
        col("bal").as("cbal"), col("y").as("cy"))
    val prevSide = ctrlIdx.select(col("seg"), col("ci").as("pi"),
      col("cbal").as("pbal"), col("cy").as("py"))
    val nextSide = ctrlIdx.select(col("seg"), col("ci").as("xi"),
      col("cbal").as("xbal"), col("cy").as("xy"))
    val prevK = prevSide.withColumnRenamed("seg", "pseg")
    val nextK = nextSide.withColumnRenamed("seg", "xseg")
    val matched = seq.filter(col("treated"))
      .join(prevK.hint("shuffle_hash"),
        col("seg") === col("pseg") && col("cidx") === col("pi"), "left")
      .join(nextK.hint("shuffle_hash"),
        col("seg") === col("xseg") && col("cidx") + 1 === col("xi"), "left")
    val dPrev = when(col("pbal").isNotNull, abs(col("bal") - col("pbal")))
    val dNext = when(col("xbal").isNotNull, abs(col("xbal") - col("bal")))
    val usePrev = col("pbal").isNotNull &&
      (col("xbal").isNull || dPrev <= dNext)
    val chosen = matched
      .withColumn("mdist",
        when(usePrev, dPrev).otherwise(dNext))
      .withColumn("my", when(usePrev, col("py")).otherwise(col("xy")))
      .filter(col("mdist").isNotNull && col("mdist") <= CaliperCents)
    val nTreatedBySeg = seq.filter(col("treated"))
      .groupBy(col("seg")).agg(count(lit(1)).as("n_treated"))
    chosen.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_matched"),
        (sum(((col("y") - col("my")).cast("double") / 100.0).cast(Dec12))
          .cast("double") / count(lit(1))).as("att_raw"),
        (sum((col("mdist").cast("double") / 100.0).cast(Dec12)).cast("double")
          / count(lit(1))).as("gap_raw"))
      .join(broadcast(nTreatedBySeg), Seq("seg"))
      .select(col("seg"), col("n_treated"), col("n_matched"),
        NumFns.roundPortable(col("att_raw"), 4).as("att"),
        NumFns.roundPortable(col("gap_raw"), 4).as("mean_bal_gap"))
      .orderBy(col("seg"))
  }

  val qCaliperMatchingOracle: String =
    s"""WITH outc AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev
       |  FROM orders GROUP BY o_custkey
       |),
       |cust AS (
       |  SELECT c_custkey, c_mktsegment AS seg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       |    c_custkey % 2 = 1 AS treated,
       |    COALESCE(rev, 0) AS y
       |  FROM customer LEFT JOIN outc ON c_custkey = o_custkey
       |),
       |sq AS (
       |  SELECT *,
       |    CAST(sum(CASE WHEN treated THEN 0 ELSE 1 END) OVER (
       |      PARTITION BY seg ORDER BY bal, c_custkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cidx
       |  FROM cust
       |),
       |ctl AS (
       |  SELECT seg, cidx AS ci, bal AS cbal, y AS cy
       |  FROM sq WHERE NOT treated
       |),
       |m AS (
       |  SELECT t.seg, t.bal, t.y,
       |    p.cbal AS pbal, p.cy AS py, x.cbal AS xbal, x.cy AS xy
       |  FROM sq t
       |  LEFT JOIN ctl p ON p.seg = t.seg AND p.ci = t.cidx
       |  LEFT JOIN ctl x ON x.seg = t.seg AND x.ci = t.cidx + 1
       |  WHERE t.treated
       |),
       |ch AS (
       |  SELECT seg, y,
       |    CASE WHEN pbal IS NOT NULL AND (xbal IS NULL
       |        OR abs(bal - pbal) <= abs(xbal - bal))
       |      THEN abs(bal - pbal) ELSE abs(xbal - bal) END AS mdist,
       |    CASE WHEN pbal IS NOT NULL AND (xbal IS NULL
       |        OR abs(bal - pbal) <= abs(xbal - bal))
       |      THEN py ELSE xy END AS my
       |  FROM m
       |),
       |ag AS (
       |  SELECT seg, count(*) AS n_matched,
       |    CAST(sum(CAST(CAST(y - my AS DOUBLE) / 100.0 AS DECIMAL(38,12)))
       |      AS DOUBLE) / count(*) AS att_raw,
       |    CAST(sum(CAST(CAST(mdist AS DOUBLE) / 100.0 AS DECIMAL(38,12)))
       |      AS DOUBLE) / count(*) AS gap_raw
       |  FROM ch
       |  WHERE mdist IS NOT NULL AND mdist <= $CaliperCents
       |  GROUP BY seg
       |),
       |nt AS (
       |  SELECT seg, count(*) AS n_treated FROM sq WHERE treated GROUP BY seg
       |)
       |SELECT ag.seg, n_treated, n_matched,
       |  ${NumFns.roundPortableSql("att_raw", 4)} AS att,
       |  ${NumFns.roundPortableSql("gap_raw", 4)} AS mean_bal_gap
       |FROM ag JOIN nt ON ag.seg = nt.seg
       |ORDER BY ag.seg""".stripMargin
  /** Shard fan-out for [[qShardBalance]] — the training-writer width. */
  val BalanceShards = 32

  /** Token balance of a content-addressed 32-way shard assignment — the
    * pre-flight check before writing a training corpus: data-parallel
    * loaders read one shard per worker, so the SLOWEST shard (max
    * tokens) sets step time and the imbalance ratio is pure wasted
    * accelerator time. Doc-hash sharding is the 100 TB standard
    * (reproducible, no coordination); this measures what it actually
    * delivers on THIS corpus: min/max/mean shard tokens, max/mean
    * imbalance, and the coefficient of variation. Shape: one scan →
    * 32-row shard frame → 1-row report; token counts exact, CV from
    * DECIMAL moments over 32 cells.
    */
  def qShardBalance(s: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(s, dir)
      .select(
        (TextFns.hash28(concat(lit("sh:"), col("doc_id").cast("string")))
          % BalanceShards).as("shard"),
        size(TextFns.tokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("shard")).agg(sum(col("toks")).as("t"))
    shards.agg(count(lit(1)).as("n_shards"),
        sum(col("t")).as("total_tokens"),
        min(col("t")).as("min_tokens"), max(col("t")).as("max_tokens"),
        sum(col("t").cast(Dec12) * col("t")).as("s2"))
      .select(col("n_shards"), col("total_tokens"), col("min_tokens"),
        col("max_tokens"),
        NumFns.roundPortable(
          col("max_tokens").cast("double")
            / (col("total_tokens").cast("double") / col("n_shards")), 4)
          .as("imbalance"),
        NumFns.roundPortable(
          sqrt(col("s2").cast("double") / col("n_shards")
            - (col("total_tokens").cast("double") / col("n_shards"))
              * (col("total_tokens").cast("double") / col("n_shards")))
            / (col("total_tokens").cast("double") / col("n_shards")), 6)
          .as("cv"))
  }

  val qShardBalanceOracle: String =
    s"""WITH sh AS (
       |  SELECT ${TextFns.hash28Sql("'sh:' || CAST(doc_id AS VARCHAR)")}
       |      % $BalanceShards AS shard,
       |    CAST(sum(len(${TextFns.toksSql})) AS BIGINT) AS t
       |  FROM documents GROUP BY 1
       |),
       |ag AS (
       |  SELECT count(*) AS n_shards, CAST(sum(t) AS BIGINT) AS total_tokens,
       |    CAST(min(t) AS BIGINT) AS min_tokens,
       |    CAST(max(t) AS BIGINT) AS max_tokens,
       |    CAST(sum(CAST(t AS DECIMAL(38,12)) * t) AS DOUBLE) AS s2
       |  FROM sh
       |)
       |SELECT n_shards, total_tokens, min_tokens, max_tokens,
       |  ${NumFns.roundPortableSql(
            "CAST(max_tokens AS DOUBLE) " +
            "/ (CAST(total_tokens AS DOUBLE) / n_shards)", 4)} AS imbalance,
       |  ${NumFns.roundPortableSql(
            "sqrt(s2 / n_shards - (CAST(total_tokens AS DOUBLE) / n_shards)" +
            " * (CAST(total_tokens AS DOUBLE) / n_shards))" +
            " / (CAST(total_tokens AS DOUBLE) / n_shards)", 6)} AS cv
       |FROM ag""".stripMargin

  /** Share of the corpus dropped by [[qQualityGate]]'s global cut. */
  val GateDropShare = 0.2

  /** Global quality-percentile gate: score every document (stopword
    * ratio, integer-quantized to 1e-4 — the [[Evaluation]] classifier
    * signal), find the corpus-wide P20 score WITHOUT a global sort
    * (per-score-cell counts + an exclusive prefix over the ≤10⁴-cell
    * score-domain frame — rank-from-counts), and report per source how
    * much the "drop the worst 20 %" policy would remove. The per-source
    * skew is the real product: a gate tuned globally never drops 20 %
    * of EVERY source, and this table shows who pays. Convention
    * (oracle-mirrored): cut = smallest score with cumulative count ≥
    * ⌈0.2·n⌉; docs strictly below the cut drop, the cut cell's ties all
    * survive. Integer-exact end to end.
    */
  def qQualityGate(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.tokenDocs(s, dir, "source")
      .select(col("source"), TextFns.stopScore(col("toks"), 10000).as("sq"))
    val cells = scored.groupBy(col("sq")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("sq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.agg(sum(col("c")).as("n"))
    val cut = cells
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= ceil(lit(GateDropShare) * col("n")))
      .agg(min(col("sq")).as("cut"))
    scored.crossJoin(broadcast(cut))
      .groupBy(col("source"), col("cut"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("sq") < col("cut")).cast("long")).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"), col("cut"),
        NumFns.roundPortable(
          col("n_dropped").cast("double") / col("n_docs"), 6).as("drop_share"))
      .orderBy(col("source"))
  }

  val qQualityGateOracle: String =
    s"""WITH t AS (
       |  SELECT source, ${TextFns.toksSql} AS toks FROM documents
       |),
       |sc AS (
       |  SELECT source,
       |    ${TextFns.stopScoreSql(10000)} AS sq
       |  FROM t WHERE len(toks) > 0
       |),
       |cells AS (SELECT sq, count(*) AS c FROM sc GROUP BY sq),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
       |cut AS (
       |  SELECT CAST(min(sq) AS BIGINT) AS cut FROM (
       |    SELECT sq, sum(c) OVER (ORDER BY sq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM cells
       |  ), tot WHERE cum >= ceil($GateDropShare * n)
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN sq < cut THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST(max(cut) AS BIGINT) AS cut,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CASE WHEN sq < cut THEN 1 ELSE 0 END) AS DOUBLE)" +
            " / count(*)", 6)} AS drop_share
       |FROM sc, cut
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Mixture prior scale τ for [[qSprt]], in units of the event value
    * (the anticipated effect-size scale of the mixture mSPRT).
    */
  val SprtTau = 1.0

  /** Always-valid mSPRT for the arm-parity event-value experiment — the
    * SEQUENTIAL companion to q_ab_conversion/q_welch_ttest's fixed-n
    * z: the mixture sequential probability ratio test's Λₙ may be
    * monitored continuously without inflating false positives (the
    * peeking problem every live A/B dashboard has). Normal-mixture
    * closed form on the mean difference θ̂ with V = v₀/n₀+v₁/n₁:
    * ln Λ = ½·ln(V/(V+τ²)) + θ̂²τ²/(2V(V+τ²)); always-valid
    * p = min(1, e^{−ln Λ}). The log form never overflows. Discipline:
    * the moments are [[Profiling.armMoments]]; ln/exp are libm so the p
    * and log-Λ are emitted rounded and the reject gate compares the ROUNDED log-Λ
    * against ln(1/α) — never an unrounded libm value. Shape: one
    * events scan → 2 arm cells → 1-row scalar algebra.
    */
  def qSprt(s: SparkSession, dir: String): DataFrame = {
    val vv = col("v0") / col("n0") + col("v1") / col("n1")
    val theta = col("m1") - col("m0")
    val t2 = SprtTau * SprtTau
    val logL = lit(0.5) * log(vv / (vv + t2)) +
      theta * theta * t2 / (lit(2.0) * vv * (vv + t2))
    Profiling.armMoments(Tables.events(s, dir)).select(col("n0"), col("n1"),
        NumFns.roundPortable(theta, 6).as("mean_diff"),
        NumFns.roundPortable(logL, 4).as("log_lambda"),
        NumFns.roundPortable(least(lit(1.0), exp(-logL)), 6)
          .as("p_always_valid"))
      // ln(1/0.05) = 2.9957...; compare the rounded statistic
      .withColumn("reject_at_5pct", col("log_lambda") > 2.9957)
  }

  val qSprtOracle: String = {
    val t2 = SprtTau * SprtTau
    val vv = "(v0 / n0 + v1 / n1)"
    val theta = "(m1 - m0)"
    val logL = s"(0.5 * ln($vv / ($vv + $t2))" +
      s" + $theta * $theta * $t2 / (2.0 * $vv * ($vv + $t2)))"
    s"""WITH ${Profiling.armMomentsSql("events")}
       |SELECT n0, n1,
       |  ${NumFns.roundPortableSql(theta, 6)} AS mean_diff,
       |  ${NumFns.roundPortableSql(logL, 4)} AS log_lambda,
       |  ${NumFns.roundPortableSql(s"least(1.0, exp(-$logL))", 6)}
       |    AS p_always_valid,
       |  ${NumFns.roundPortableSql(logL, 4)} > 2.9957 AS reject_at_5pct
       |FROM w""".stripMargin
  }

  /** The quantity stratum `xb` of a lineitem: quantity / 5, capped at 9. */
  private def stratum: Column =
    least(floor(col("l_quantity") / 5.0), lit(9.0)).cast("long").as("xb")

  /** SQL twin of [[stratum]]. */
  private val stratumSql = "CAST(least(floor(l_quantity / 5.0), 9.0) AS BIGINT) AS xb"

  /** Inverse-propensity-weighted (Hájek) average treatment effect of a
    * deep discount (>5 %) on the return probability, adjusting for the
    * quantity-bucket confounder — the weighting-based causal estimator
    * beside q_caliper_matching (matching), q_diff_in_diff (panel) and
    * q_cuped (variance reduction): e(x) is the exact per-bucket
    * treatment share, each unit enters with weight 1/e or 1/(1−e), and
    * the naive unadjusted gap is printed beside the IPW estimate so the
    * confounding correction is visible. Shape: because the outcome is
    * binary, EVERYTHING lives on the ≤20-cell (bucket, T) frame after
    * one scan — weights, weighted sums, both estimates; per-term
    * DECIMAL folds make the cell sums order-independent. Buckets with a
    * degenerate propensity (no treated or no control) drop, per the
    * positivity assumption, and their dropped mass is reported.
    */
  def qIpwAte(s: SparkSession, dir: String): DataFrame = {
    val cells = Profiling.discountReturn(s, dir, stratum)
      .groupBy(col("xb"), col("t"))
      .agg(count(lit(1)).as("n"), sum(col("y").cast("long")).as("ny"))
      .localCheckpoint() // ≤20 rows; feeds propensities AND both folds
    val prop = cells.groupBy(col("xb"))
      .agg(sum(when(col("t"), col("n")).otherwise(0L)).as("nt"),
        sum(col("n")).as("nx"))
      .select(col("xb"), col("nt"), col("nx"),
        (col("nt").cast("double") / col("nx")).as("e"))
    val keep = prop.filter(col("e") > 0.0 && col("e") < 1.0)
    val terms = cells.join(broadcast(keep), Seq("xb"))
      .select(col("t"), col("n"), col("ny"), col("e"),
        when(col("t"), col("ny") / col("e"))
          .otherwise(col("ny") / (lit(1.0) - col("e"))).cast(Dec12).as("wy"),
        when(col("t"), col("n") / col("e"))
          .otherwise(col("n") / (lit(1.0) - col("e"))).cast(Dec12).as("w"))
    val agg = terms.agg(
      sum(when(col("t"), col("wy"))).as("wy1"),
      sum(when(col("t"), col("w"))).as("w1"),
      sum(when(!col("t"), col("wy"))).as("wy0"),
      sum(when(!col("t"), col("w"))).as("w0"),
      sum(when(col("t"), col("ny")).otherwise(0L)).as("y1"),
      sum(when(col("t"), col("n")).otherwise(0L)).as("n1"),
      sum(when(!col("t"), col("ny")).otherwise(0L)).as("y0"),
      sum(when(!col("t"), col("n")).otherwise(0L)).as("n0"))
    val dropped = cells.crossJoin(broadcast(
      keep.agg(sum(col("nx")).as("nkept"))))
      .agg(sum(col("n")).as("nall"), max(col("nkept")).as("nkept"))
    agg.crossJoin(broadcast(dropped))
      .select(
        col("n1"), col("n0"),
        NumFns.roundPortable(col("y1").cast("double") / col("n1")
          - col("y0").cast("double") / col("n0"), 6).as("naive_diff"),
        NumFns.roundPortable(
          col("wy1").cast("double") / col("w1").cast("double")
            - col("wy0").cast("double") / col("w0").cast("double"), 6)
          .as("ipw_ate"),
        (col("nall") - col("nkept")).as("n_dropped_positivity"))
  }

  val qIpwAteOracle: String =
    s"""WITH cells AS (
       |  SELECT $stratumSql,
       |    l_discount > 0.05 AS t,
       |    count(*) AS n,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ny
       |  FROM lineitem GROUP BY 1, 2
       |),
       |prop AS (
       |  SELECT xb,
       |    CAST(sum(CASE WHEN t THEN n ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(sum(n) AS BIGINT) AS nx,
       |    CAST(sum(CASE WHEN t THEN n ELSE 0 END) AS DOUBLE) / sum(n) AS e
       |  FROM cells GROUP BY xb
       |),
       |keep AS (SELECT * FROM prop WHERE e > 0.0 AND e < 1.0),
       |terms AS (
       |  SELECT t, n, ny,
       |    CAST(CASE WHEN t THEN ny / e ELSE ny / (1.0 - e) END
       |      AS DECIMAL(38,12)) AS wy,
       |    CAST(CASE WHEN t THEN n / e ELSE n / (1.0 - e) END
       |      AS DECIMAL(38,12)) AS w
       |  FROM cells JOIN keep USING (xb)
       |),
       |ag AS (
       |  SELECT
       |    sum(CASE WHEN t THEN wy END) AS wy1,
       |    sum(CASE WHEN t THEN w END) AS w1,
       |    sum(CASE WHEN NOT t THEN wy END) AS wy0,
       |    sum(CASE WHEN NOT t THEN w END) AS w0,
       |    CAST(sum(CASE WHEN t THEN ny ELSE 0 END) AS BIGINT) AS y1,
       |    CAST(sum(CASE WHEN t THEN n ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN NOT t THEN ny ELSE 0 END) AS BIGINT) AS y0,
       |    CAST(sum(CASE WHEN NOT t THEN n ELSE 0 END) AS BIGINT) AS n0
       |  FROM terms
       |),
       |dr AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nall,
       |    (SELECT CAST(sum(nx) AS BIGINT) FROM keep) AS nkept
       |  FROM cells
       |)
       |SELECT n1, n0,
       |  ${NumFns.roundPortableSql(
            "CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0", 6)}
       |    AS naive_diff,
       |  ${NumFns.roundPortableSql(
            "CAST(wy1 AS DOUBLE) / CAST(w1 AS DOUBLE)" +
              " - CAST(wy0 AS DOUBLE) / CAST(w0 AS DOUBLE)", 6)} AS ipw_ate,
       |  nall - nkept AS n_dropped_positivity
       |FROM ag CROSS JOIN dr""".stripMargin

  /** Mantel–Haenszel stratified 2×2 association (deep discount →
    * return) across quantity-bucket strata: the pooled MH odds ratio,
    * the crude (collapsed) OR beside it, the CMH χ² — and the Simpson-
    * reversal flag when crude and adjusted point OPPOSITE ways, the
    * single most actionable confounding alarm a metrics review can
    * raise. Completes the causal ring: q_ipw_ate weights, this
    * stratifies (the classic epidemiology pooling). Shape: one scan →
    * ≤10 stratum 2×2 cells; every sum is a per-term DECIMAL fold over
    * that frame; crude-OR cross products ride DECIMAL(38,0)/HUGEINT
    * (the qOddsRatio overflow discipline); the huge r₁r₀c₁c₀ variance
    * product runs in IEEE doubles — identical on both engines — with
    * association spelled identically.
    */
  def qMantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val cells = Profiling.discountReturn(s, dir, stratum)
      .groupBy(col("xb"))
      .agg(Profiling.twoByTwo.head, Profiling.twoByTwo.tail: _*)
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
    val nD = col("n").cast("double")
    val terms = cells.select(
      col("a"), col("b"), col("c"), col("d"),
      ((col("a").cast(Dec0) * col("d")).cast("double") / nD).cast(Dec12).as("mhn"),
      ((col("b").cast(Dec0) * col("c")).cast("double") / nD).cast(Dec12).as("mhd"),
      ((col("a") + col("b")).cast("double") * (col("a") + col("c")) / nD)
        .cast(Dec12).as("ea"),
      ((col("a") + col("b")).cast("double") * (col("c") + col("d"))
        * (col("a") + col("c")) * (col("b") + col("d"))
        / (nD * nD * (nD - 1.0))).cast(Dec12).as("va"))
    val agg = terms.agg(count(lit(1)).as("n_strata"),
      sum(col("a")).as("sa"), sum(col("b")).as("sb"),
      sum(col("c")).as("sc"), sum(col("d")).as("sd"),
      sum(col("mhn")).as("mhn"), sum(col("mhd")).as("mhd"),
      sum(col("ea")).as("ea"), sum(col("va")).as("va"))
    val crude = (col("sa").cast(Dec0) * col("sd")).cast("double") /
      (col("sb").cast(Dec0) * col("sc")).cast("double")
    val mh = col("mhn").cast("double") / col("mhd").cast("double")
    val dev = col("sa").cast("double") - col("ea").cast("double")
    agg.select(col("n_strata"),
      NumFns.roundPortable(crude, 6).as("crude_or"),
      NumFns.roundPortable(mh, 6).as("mh_or"),
      NumFns.roundPortable(dev * dev / col("va").cast("double"), 4)
        .as("cmh_chi2"),
      ((crude - 1.0) * (mh - 1.0) < 0.0).as("simpson_reversal"))
  }

  val qMantelHaenszelOracle: String =
    s"""WITH cells AS (
       |  SELECT $stratumSql,
       |    ${Profiling.twoByTwoSql}
       |  FROM lineitem GROUP BY 1
       |),
       |f AS (SELECT *, a + b + c + d AS n FROM cells WHERE a+b+c+d > 1),
       |t AS (
       |  SELECT a, b, c, d,
       |    CAST(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
       |      / CAST(n AS DOUBLE) AS DECIMAL(38,12)) AS mhn,
       |    CAST(CAST(CAST(b AS HUGEINT) * c AS DOUBLE)
       |      / CAST(n AS DOUBLE) AS DECIMAL(38,12)) AS mhd,
       |    CAST(CAST(a + b AS DOUBLE) * (a + c) / CAST(n AS DOUBLE)
       |      AS DECIMAL(38,12)) AS ea,
       |    CAST(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
       |        * (CAST(n AS DOUBLE) - 1.0)) AS DECIMAL(38,12)) AS va
       |  FROM f
       |),
       |ag AS (
       |  SELECT count(*) AS n_strata,
       |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
       |    CAST(sum(c) AS BIGINT) AS sc, CAST(sum(d) AS BIGINT) AS sd,
       |    CAST(sum(mhn) AS DOUBLE) AS mhn, CAST(sum(mhd) AS DOUBLE) AS mhd,
       |    CAST(sum(ea) AS DOUBLE) AS ea, CAST(sum(va) AS DOUBLE) AS va
       |  FROM t
       |),
       |r AS (
       |  SELECT n_strata,
       |    CAST(CAST(sa AS HUGEINT) * sd AS DOUBLE)
       |      / CAST(CAST(sb AS HUGEINT) * sc AS DOUBLE) AS crude,
       |    mhn / mhd AS mh,
       |    (sa - ea) * (sa - ea) / va AS chi2
       |  FROM ag
       |)
       |SELECT n_strata,
       |  ${NumFns.roundPortableSql("crude", 6)} AS crude_or,
       |  ${NumFns.roundPortableSql("mh", 6)} AS mh_or,
       |  ${NumFns.roundPortableSql("chi2", 4)} AS cmh_chi2,
       |  (crude - 1.0) * (mh - 1.0) < 0.0 AS simpson_reversal
       |FROM r""".stripMargin

  /** Cutoff and bandwidth for [[qRdd]] (quantity units). */
  val RddCutoff = 25L
  val RddBandwidth = 10L

  /** Sharp regression-discontinuity estimate of the return-rate jump
    * at the quantity-25 threshold: separate local-linear fits on
    * ±10-unit windows, the discontinuity τ = α_R − α_L at the cutoff
    * with its large-sample SE — the FOURTH causal design in the suite
    * (beside q_diff_in_diff's panels, q_ipw_ate's weighting and
    * q_mantel_haenszel's stratification): identification from the
    * threshold itself, no confounder model at all. Shape: because the
    * running variable is integer quantity, BOTH fits are exact
    * weighted OLS over ≤10 (quantity → [returns, total]) cells —
    * integer moments in DECIMAL(38,0)/HUGEINT, denominators cleared
    * (qChowTest discipline), one scan, scalar algebra after.
    */
  def qRdd(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("long").as("q"),
        (col("l_returnflag") === "R").cast("long").as("y"))
      .filter(col("q") >= RddCutoff - RddBandwidth
        && col("q") < RddCutoff + RddBandwidth)
      .groupBy(col("q")).agg(count(lit(1)).as("n"), sum(col("y")).as("ny"))
      .withColumn("side", when(col("q") < RddCutoff, "L").otherwise("R"))
      .withColumn("x", col("q") - RddCutoff)
    // weighted OLS of rate on x per side: minimize over cells with
    // weight n — moments Σn, Σnx, Σnx², Σny, Σnxy (y per row is the
    // 0/1 flag, so cell sums are exact integers)
    val m = cells.groupBy(col("side"))
      .agg(sum(col("n").cast(Dec0)).as("w"),
        sum((col("n") * col("x")).cast(Dec0)).as("wx"),
        sum((col("n") * col("x") * col("x")).cast(Dec0)).as("wxx"),
        sum(col("ny").cast(Dec0)).as("wy"),
        sum((col("ny") * col("x")).cast(Dec0)).as("wxy"))
    val wD = col("w").cast("double")
    val det = (col("w") * col("wxx") - col("wx") * col("wx")).cast("double")
    val alpha = ((col("wxx") * col("wy") - col("wx") * col("wxy"))
      .cast("double")) / det
    val beta = ((col("w") * col("wxy") - col("wx") * col("wy"))
      .cast("double")) / det
    val rate = col("wy").cast("double") / wD
    // binomial variance of the intercept: α̂ = Σ c_i y_i with
    // c = (wxx − wx·x)/det per unit weight, and
    // Σ n(wxx − wx·x)² = wxx²·w − 2·wxx·wx² + wx²·wxx = wxx·det,
    // so Var(α̂) = p(1−p)·wxx/det EXACTLY (the earlier wxx²·w/det²
    // form dropped the cross term and inflated the SE)
    val varA = rate * (lit(1.0) - rate) *
      (col("wxx").cast("double") / det)
    val sides = m.select(col("side"), alpha.as("alpha"), beta.as("beta"),
      varA.as("va"), col("w").cast("long").as("n_side"))
    val l = sides.filter(col("side") === "L")
      .select(col("alpha").as("al"), col("beta").as("bl"),
        col("va").as("vl"), col("n_side").as("n_left"))
    val r = sides.filter(col("side") === "R")
      .select(col("alpha").as("ar"), col("beta").as("br"),
        col("va").as("vr"), col("n_side").as("n_right"))
    l.crossJoin(broadcast(r))
      .select(col("n_left"), col("n_right"),
        NumFns.roundPortable(col("al"), 6).as("rate_left_at_cutoff"),
        NumFns.roundPortable(col("ar"), 6).as("rate_right_at_cutoff"),
        NumFns.roundPortable(col("ar") - col("al"), 6).as("rdd_jump"),
        NumFns.roundPortable(
          (col("ar") - col("al")) / sqrt(col("vl") + col("vr")), 4)
          .as("z"))
      .withColumn("discontinuity", abs(col("z")) > lit(1.96))
  }

  val qRddOracle: String =
    s"""WITH cells AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS n,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ny
       |  FROM lineitem
       |  WHERE l_quantity >= ${RddCutoff - RddBandwidth}
       |    AND l_quantity < ${RddCutoff + RddBandwidth}
       |  GROUP BY 1
       |),
       |sided AS (
       |  SELECT CASE WHEN q < $RddCutoff THEN 'L' ELSE 'R' END AS side,
       |    q - $RddCutoff AS x, n, ny
       |  FROM cells
       |),
       |m AS (
       |  SELECT side,
       |    sum(CAST(n AS HUGEINT)) AS w,
       |    sum(CAST(n AS HUGEINT) * x) AS wx,
       |    sum(CAST(n AS HUGEINT) * x * x) AS wxx,
       |    sum(CAST(ny AS HUGEINT)) AS wy,
       |    sum(CAST(ny AS HUGEINT) * x) AS wxy
       |  FROM sided GROUP BY side
       |),
       |f AS (
       |  SELECT side, CAST(w AS BIGINT) AS n_side,
       |    CAST(wxx * wy - wx * wxy AS DOUBLE)
       |      / CAST(w * wxx - wx * wx AS DOUBLE) AS alpha,
       |    CAST(wy AS DOUBLE) / CAST(w AS DOUBLE) AS rate,
       |    CAST(wxx AS DOUBLE)
       |      / CAST(w * wxx - wx * wx AS DOUBLE) AS hterm
       |  FROM m
       |),
       |v AS (
       |  SELECT side, n_side, alpha,
       |    rate * (1.0 - rate) * hterm AS va
       |  FROM f
       |),
       |j AS (
       |  SELECT
       |    (SELECT n_side FROM v WHERE side = 'L') AS n_left,
       |    (SELECT n_side FROM v WHERE side = 'R') AS n_right,
       |    (SELECT alpha FROM v WHERE side = 'L') AS al,
       |    (SELECT alpha FROM v WHERE side = 'R') AS ar,
       |    (SELECT va FROM v WHERE side = 'L') AS vl,
       |    (SELECT va FROM v WHERE side = 'R') AS vr
       |)
       |SELECT n_left, n_right,
       |  ${NumFns.roundPortableSql("al", 6)} AS rate_left_at_cutoff,
       |  ${NumFns.roundPortableSql("ar", 6)} AS rate_right_at_cutoff,
       |  ${NumFns.roundPortableSql("ar - al", 6)} AS rdd_jump,
       |  ${NumFns.roundPortableSql("(ar - al) / sqrt(vl + vr)", 4)} AS z,
       |  abs(${NumFns.roundPortableSql("(ar - al) / sqrt(vl + vr)", 4)})
       |    > 1.96 AS discontinuity
       |FROM j""".stripMargin
}
