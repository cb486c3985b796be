package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{NumFns, TextFns}
import graft.functions.NumFns.Dec12
import graft.sources.Tables

/** Classifier / ranker evaluation metrics as first-class distributed
  * operators (SURVEY.md §2, table 3): exact ROC AUC by rank-from-counts,
  * NDCG of the approximate retrieval path against the exact one, and the
  * chi-square independence test. A training-data pipeline lives and dies
  * by these — every quality filter is a classifier and every ANN index a
  * ranker, and their quality must be a measured, oracle-checked number,
  * not a claim.
  */
object Evaluation {

  /** (score, pos) per non-empty document, the scored frame of the
    * stopword-share language classifier: score is
    * [[TextFns.stopScore]] out of `scale`, pos is 1 for English. Empty
    * documents have no score (0/0) and are dropped.
    */
  private def scoredDocs(s: SparkSession, dir: String, scale: Long): DataFrame =
    TextAnalysis.tokenDocs(s, dir, "lang")
      .select(TextFns.stopScore(col("toks"), scale).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))

  /** SQL twin of [[scoredDocs]], the body of a CTE. */
  private def scoredDocsSql(scale: Long): String =
    s"""SELECT ${TextFns.stopScoreSql(scale)} AS score,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM (SELECT lang, ${TextFns.toksSql} AS toks FROM documents) t
       |  WHERE len(toks) > 0""".stripMargin

  /** Exact ROC AUC of the stopword-ratio signal as an English-language
    * classifier — the Mann-Whitney rank-sum form
    * AUC = (Σ ranks⁺ − P(P+1)/2) / (P·N) with average ranks over ties.
    *
    * Rank-from-counts shape (the exactPercentiles / percent_rank trick):
    * the corpus collapses to per-score CELLS (score is an integer
    * permille, so ≤1001 cells — value-domain-sized, never row-scale),
    * ranks come from a running sum OVER THE CELLS frame, and every
    * rank-sum term is a half-integer summed as DECIMAL(38,1) — exact on
    * both engines regardless of accumulation order. No row-scale sort,
    * no per-row window: the only per-row work is the scan-side score
    * projection, exactly the shape that survives 100 TB.
    */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val D1 = DecimalType(38, 1)
    val scored = scoredDocs(s, dir, 1000)
    val cells = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
    // running count of rows ranked strictly below this cell — a window
    // over the ≤1001-row cells aggregate, not over the corpus
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("below", coalesce(sum(col("n")).over(w), lit(0L)))
      .select(col("n"), col("np"),
        // average rank of the tied block, a half-integer: below + (n+1)/2
        ((col("np") * (lit(2) * col("below") + col("n") + 1)).cast(D1) / 2)
          .as("pos_rank_sum"))
    ranked.agg(
        sum(col("np")).as("n_pos"),
        sum(col("n") - col("np")).as("n_neg"),
        sum(col("pos_rank_sum")).as("r_pos"))
      .select(col("n_pos"), col("n_neg"),
        NumFns.roundPortable(
          (col("r_pos").cast("double")
            - col("n_pos").cast("double") * (col("n_pos") + 1) / 2)
            / (col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"))
  }

  val qAucOracle: String =
    s"""WITH sc AS (${scoredDocsSql(1000)}),
       |cells AS (
       |  SELECT score, count(*) AS n, sum(pos) AS np FROM sc GROUP BY score
       |),
       |rk AS (
       |  SELECT n, np,
       |    COALESCE(sum(n) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
       |  FROM cells
       |),
       |ag AS (
       |  SELECT sum(np) AS n_pos, sum(n - np) AS n_neg,
       |    sum(CAST(np * (2 * below + n + 1) AS DECIMAL(38,1)) / 2) AS r_pos
       |  FROM rk
       |)
       |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       |  ${NumFns.roundPortableSql(
             "(CAST(r_pos AS DOUBLE) - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)" +
               " / CAST(n_pos * n_neg AS DOUBLE)", 6)} AS auc
       |FROM ag""".stripMargin

  /** NDCG@3 of the IVF retrieval path against the exact cosine ranking —
    * the graded companion to `q_ann_recall`'s set recall: the exact
    * top-5 defines relevance (rel = 6 − exact rank), the IVF top-3 is
    * the ranking under test, and NDCG@3 = DCG/IDCG with the standard
    * 1/log₂(pos+1) discounts. Shape: both inputs are already per-query
    * bounded lists, the join is (query, neighbor)-keyed over ≤5·|queries|
    * rows, and the discounted sums are DECIMAL-cast — the metric layer
    * adds no corpus-scale work (same argument as `qRankFusion`).
    */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val exact = Similarity.qAnnTopk(s, dir)
      .select(col("query_id"), col("neighbor_id"),
        (lit(6) - col("rank")).as("rel"))
    val ivf = Similarity.qAnnIvf(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    // ideal DCG@3 of the (5,4,3)-graded exact list — a constant
    val idcg = (1 to 3).map(i => (6.0 - i) / (math.log(i + 1.0) / math.log(2.0))).sum
    val hits = ivf.join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        (coalesce(col("rel"), lit(0)).cast("double")
          / log(2.0, col("rank") + 1)).cast(Dec12).as("g"))
    val queries = exact.select(col("query_id")).distinct()
    queries.join(
        hits.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_ret"), sum(col("g")).as("dcg")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        NumFns.roundPortable(
          coalesce(col("dcg").cast("double"), lit(0.0)) / idcg, 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  val qNdcgOracle: String = {
    val idcg = (1 to 3).map(i => (6.0 - i) / (math.log(i + 1.0) / math.log(2.0))).sum
    s"""WITH ex AS (${Similarity.qAnnTopkOracle}),
       |iv AS (${Similarity.qAnnIvfOracle}),
       |h AS (
       |  SELECT iv.query_id,
       |    CAST(CAST(COALESCE(6 - ex.rank, 0) AS DOUBLE) / log2(iv.rank + 1)
       |      AS DECIMAL(38,12)) AS g
       |  FROM iv LEFT JOIN ex
       |    ON ex.query_id = iv.query_id AND ex.neighbor_id = iv.neighbor_id
       |),
       |d AS (
       |  SELECT query_id, count(*) AS n_ret, sum(g) AS dcg
       |  FROM h GROUP BY query_id
       |),
       |q AS (SELECT DISTINCT query_id FROM ex)
       |SELECT q.query_id, COALESCE(d.n_ret, 0) AS n_ret,
       |  ${NumFns.roundPortableSql(
             s"COALESCE(CAST(d.dcg AS DOUBLE), 0.0) / $idcg", 6)} AS ndcg
       |FROM q LEFT JOIN d ON d.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  /** Reliability diagram + expected calibration error (ECE) of the
    * stopword-ratio signal read as P(English) — the calibration
    * companion to [[qAuc]]'s discrimination: per predicted-probability
    * decile, the mean prediction vs the observed English rate, and
    * ECE = Σ (n_b/N)·|obs_b − pred_b|. A quality classifier that gates
    * a 100 TB corpus must be calibrated, not just ranked. Shape: the
    * same scan-side integer score projection as AUC, a ≤10-cell bin
    * aggregate (integer sums only — the permille score sums exactly),
    * and the ECE fold over the bins frame; ratios become doubles once,
    * at the end.
    */
  def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(s, dir, 1000)
    val bins = scored
      .select(least(floor(col("score") / 100), lit(9L)).as(
        "bin"), col("score"), col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("score")).as("ssum"),
        sum(col("pos")).as("npos"))
      .localCheckpoint() // ≤10 rows; read per-bin AND by the ECE fold
    val tot = bins.agg(sum(col("n")).as("nt"))
    val terms = bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("nt"),
        (col("ssum") / (col("n") * 1000.0)).as("pred"),
        (col("npos") / col("n").cast("double")).as("obs"))
      .select(col("bin"), col("n"), col("pred"), col("obs"),
        ((col("n") / col("nt").cast("double"))
          * abs(col("obs") - col("pred"))).cast(Dec12).as("w"))
      .localCheckpoint()
    val ece = terms.agg(sum(col("w")).as("e"))
    terms.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"),
        NumFns.roundPortable(col("pred"), 6).as("mean_pred"),
        NumFns.roundPortable(col("obs"), 6).as("obs_rate"),
        NumFns.roundPortable(col("w").cast("double"), 6).as("ece_term"),
        NumFns.roundPortable(col("e").cast("double"), 6).as("ece_total"))
      .orderBy(col("bin"))
  }

  val qCalibrationOracle: String =
    s"""WITH sc AS (${scoredDocsSql(1000)}),
       |bins AS (
       |  SELECT least(CAST(floor(score / 100) AS BIGINT), 9) AS bin,
       |    count(*) AS n, sum(score) AS ssum, sum(pos) AS npos
       |  FROM sc GROUP BY bin
       |),
       |tt AS (SELECT sum(n) AS nt FROM bins),
       |p AS (
       |  SELECT bin, n, nt,
       |    ssum / (n * 1000.0) AS pred,
       |    npos / CAST(n AS DOUBLE) AS obs
       |  FROM bins CROSS JOIN tt
       |),
       |terms AS (
       |  SELECT bin, n, pred, obs,
       |    CAST((n / CAST(nt AS DOUBLE)) * abs(obs - pred) AS DECIMAL(38,12)) AS w
       |  FROM p
       |),
       |e AS (SELECT sum(w) AS e FROM terms)
       |SELECT bin, n,
       |  ${NumFns.roundPortableSql("pred", 6)} AS mean_pred,
       |  ${NumFns.roundPortableSql("obs", 6)} AS obs_rate,
       |  ${NumFns.roundPortableSql("CAST(w AS DOUBLE)", 6)} AS ece_term,
       |  ${NumFns.roundPortableSql("CAST(e AS DOUBLE)", 6)} AS ece_total
       |FROM terms CROSS JOIN e
       |ORDER BY bin""".stripMargin

  /** Chi-square test of independence between market segment and order
    * priority, with Cramér's V effect size — the categorical-association
    * companion to `q_welch_ttest` (means) and `q_corr` (linear). The
    * contingency table is an integer hash aggregate (segments ×
    * priorities = 25 cells); margins come from re-aggregating the CELLS,
    * so the fact table is scanned once and everything downstream is
    * dimension-sized. Expected counts and contributions are one double
    * expression of exact integers each, summed as DECIMAL — the whole
    * statistic is accumulation-order-independent.
    */
  def qChi2(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy(col("seg")).agg(sum(col("o")).as("r"))
    val colTot = cells.groupBy(col("prio")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("seg")).as("n_seg"),
      countDistinct(col("prio")).as("n_prio"))
    val contrib = cells
      .join(broadcast(rowTot), Seq("seg"))
      .join(broadcast(colTot), Seq("prio"))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("n_seg"), col("n_prio"),
        (pow(col("o") - col("r") * col("c") / col("n").cast("double"), 2.0)
          / (col("r") * col("c") / col("n").cast("double"))).cast(Dec12).as("x"))
    contrib.groupBy(col("n"), col("n_seg"), col("n_prio"))
      .agg(sum(col("x")).as("chi2d"))
      .select(col("n"),
        ((col("n_seg") - 1) * (col("n_prio") - 1)).as("dof"),
        NumFns.roundPortable(col("chi2d").cast("double"), 6).as("chi2"),
        NumFns.roundPortable(
          sqrt(col("chi2d").cast("double")
            / (col("n") * least(col("n_seg") - 1, col("n_prio") - 1))), 6)
          .as("cramers_v"))
  }

  val qChi2Oracle: String =
    s"""WITH cells AS (
       |  SELECT c_mktsegment AS seg, o_orderpriority AS prio, count(*) AS o
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY seg, prio
       |),
       |rt AS (SELECT seg, sum(o) AS r FROM cells GROUP BY seg),
       |ct AS (SELECT prio, sum(o) AS c FROM cells GROUP BY prio),
       |t AS (SELECT sum(o) AS n, count(DISTINCT seg) AS n_seg,
       |        count(DISTINCT prio) AS n_prio FROM cells),
       |x AS (
       |  SELECT n, n_seg, n_prio,
       |    CAST(pow(o - r * c / CAST(n AS DOUBLE), 2)
       |      / (r * c / CAST(n AS DOUBLE)) AS DECIMAL(38,12)) AS x
       |  FROM cells JOIN rt USING (seg) JOIN ct USING (prio) CROSS JOIN t
       |)
       |SELECT CAST(n AS BIGINT) AS n,
       |  CAST((n_seg - 1) * (n_prio - 1) AS BIGINT) AS dof,
       |  ${NumFns.roundPortableSql("CAST(sum(x) AS DOUBLE)", 6)} AS chi2,
       |  ${NumFns.roundPortableSql(
           "sqrt(CAST(sum(x) AS DOUBLE) / (n * least(n_seg - 1, n_prio - 1)))", 6)}
       |    AS cramers_v
       |FROM x GROUP BY n, n_seg, n_prio""".stripMargin

  /** Precision/recall/F1 curve of the English stopword-ratio signal as a
    * language classifier, swept over 10 decision thresholds — the
    * operating-point picker that turns a scored corpus into a keep/drop
    * rule with known trade-offs. Scale shape: one scan projects the
    * per-document (score, label) pair, a 10-row threshold dimension
    * broadcasts onto it, and the aggregation shuffles exactly 10 count
    * rows — confusion counts are exact int64, the final ratios are
    * portably rounded. At 100 TB the sweep costs the same single pass as
    * one threshold.
    */
  def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.tokenDocs(s, dir, "lang")
      .select((col("lang") === "en").as("label"),
        (TextFns.stopCount(col("toks")) / size(col("toks")).cast("double")).as("score"))
    val th = spark_range_df(s)
    scored.crossJoin(broadcast(th))
      .groupBy(col("threshold"))
      .agg(
        sum((col("label") && col("score") >= col("threshold")).cast("long")).as("tp"),
        sum((!col("label") && col("score") >= col("threshold")).cast("long")).as("fp"),
        sum((col("label") && col("score") < col("threshold")).cast("long")).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          NumFns.roundPortable(col("tp") / (col("tp") + col("fp")).cast("double"), 6))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          NumFns.roundPortable(col("tp") / (col("tp") + col("fn")).cast("double"), 6))
          .as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          NumFns.roundPortable(
            lit(2.0) * col("tp") / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6))
          .as("f1"))
      .orderBy(col("threshold"))
  }

  /** The 10-point threshold grid 0.00, 0.05, …, 0.45 as a 1-column
    * DataFrame — k/20.0 is the same double on both engines.
    */
  private def spark_range_df(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 10).map(k => k / 20.0).toDF("threshold")
  }

  val qPrCurveOracle: String =
    s"""WITH sc AS (
       |  SELECT lang = 'en' AS label,
       |    ${TextFns.stopCountSql()} / CAST(len(toks) AS DOUBLE) AS score
       |  FROM (SELECT lang, ${TextFns.toksSql} AS toks FROM documents) t
       |  WHERE len(toks) > 0
       |),
       |th AS (SELECT i / 20.0 AS threshold FROM unnest(range(0, 10)) AS a(i)),
       |g AS (
       |  SELECT threshold,
       |    CAST(sum(CASE WHEN label AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN NOT label AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN label AND score < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM sc CROSS JOIN th GROUP BY threshold
       |)
       |SELECT threshold, tp, fp, fn,
       |  CASE WHEN tp + fp > 0
       |    THEN ${NumFns.roundPortableSql("tp / CAST(tp + fp AS DOUBLE)", 6)} END AS "precision",
       |  CASE WHEN tp + fn > 0
       |    THEN ${NumFns.roundPortableSql("tp / CAST(tp + fn AS DOUBLE)", 6)} END AS recall,
       |  CASE WHEN 2 * tp + fp + fn > 0
       |    THEN ${NumFns.roundPortableSql("2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE)", 6)} END AS f1
       |FROM g
       |ORDER BY threshold""".stripMargin

  /** Samples drawn per task in the [[qPassAtK]] estimator. */
  val PassK = 5

  /** pass@k (Chen et al., Codex) — THE code/agent eval metric, as a
    * distributed operator: per task with n samples and c successes, the
    * unbiased estimator 1 − C(n−c,k)/C(n,k), averaged over tasks (users
    * stand in as tasks, purchases as successes). The combination ratio
    * is computed as the k-term telescoping product
    * Π (n−c−i)/(n−i) — k fixed IEEE factors in a FIXED written order,
    * identical on both engines (never a factorial, which overflows).
    * Reported per user-parity cohort so two model variants compare.
    * Shape: one user collapse (map-side combined), then a ≤2-row
    * aggregate with the mean DECIMAL-folded. Tasks with n < k have no
    * unbiased estimate and are excluded, like the reference
    * implementation.
    */
  def qPassAtK(s: SparkSession, dir: String): DataFrame = {
    val tasks = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c"))
      .filter(col("n") >= PassK)
    val term = (0 until PassK).map { i =>
      (col("n") - col("c") - i).cast("double") / (col("n") - i)
    }.reduce(_ * _)
    val passk = when(col("n") - col("c") < PassK, lit(1.0))
      .otherwise(lit(1.0) - term)
    tasks
      .groupBy((col("user_id") % 2).as("cohort"))
      .agg(count(lit(1)).as("n_tasks"),
        NumFns.stableMean(passk, count(lit(1)), 6).as("mean_pass_at_k"),
        NumFns.roundPortable(min(passk), 6).as("min_pass_at_k"),
        NumFns.roundPortable(max(passk), 6).as("max_pass_at_k"))
      .orderBy(col("cohort"))
  }

  val qPassAtKOracle: String = {
    val term = (0 until PassK).map(i =>
      s"(CAST(n - c - $i AS DOUBLE) / (n - $i))").mkString(" * ")
    s"""WITH t AS (
       |  SELECT user_id, count(*) AS n,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c
       |  FROM events GROUP BY user_id
       |  HAVING count(*) >= $PassK
       |),
       |p AS (
       |  SELECT user_id % 2 AS cohort,
       |    CASE WHEN n - c < $PassK THEN 1.0
       |         ELSE 1.0 - $term END AS passk
       |  FROM t
       |)
       |SELECT cohort, count(*) AS n_tasks,
       |  ${NumFns.stableMeanSql("passk", "count(*)", 6)} AS mean_pass_at_k,
       |  ${NumFns.roundPortableSql("min(passk)", 6)} AS min_pass_at_k,
       |  ${NumFns.roundPortableSql("max(passk)", 6)} AS max_pass_at_k
       |FROM p GROUP BY cohort
       |ORDER BY cohort""".stripMargin
  }

  /** Youden-optimal operating point + full confusion metrics — the
    * threshold SELECTION step q_pr_curve (the curve) and q_auc (the
    * ranking summary) both stop short of: argmax over thresholds of
    * J = TPR − FPR, then TP/FP/TN/FN, precision, recall, F1 and MCC at
    * that point. Exactness: the argmax key is the INTEGER numerator
    * TP·N − FP·P (J's sign-preserving cross-multiplication — comparing
    * exact integers instead of two float ratios, so the chosen threshold
    * can never differ between engines), ties to the smallest threshold;
    * the published ratios are portable-rounded at the end. Shape: the
    * same ≤1001 permille score cells as q_auc, one DESC running sum for
    * cumulative TP/FP, a 1-row argmax over the cells frame — nothing
    * row-scale after the scan.
    */
  def qYoudenThreshold(s: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(s, dir, 1000)
    val cells = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
    // cumulative predicted-positive counts for threshold t = this score:
    // everything at score >= t is classified positive
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.agg(sum(col("np")).as("p"),
      sum(col("n") - col("np")).as("nn"))
    val cum = cells
      .withColumn("tp", sum(col("np")).over(w))
      .withColumn("fp", sum(col("n") - col("np")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("score").as("threshold"), col("tp"), col("fp"),
        col("p"), col("nn"),
        (col("tp") * col("nn") - col("fp") * col("p")).as("jnum"))
    val best = cum.orderBy(col("jnum").desc, col("threshold")).limit(1)
    val fn = col("p") - col("tp")
    val tn = col("nn") - col("fp")
    val mccDen = sqrt((col("tp") + col("fp")).cast("double")) *
      sqrt((col("tp") + fn).cast("double")) *
      sqrt((tn + col("fp")).cast("double")) *
      sqrt((tn + fn).cast("double"))
    best.select(col("threshold"), col("tp"), col("fp"),
        tn.as("tn"), fn.as("fn"),
        NumFns.roundPortable(
          col("jnum").cast("double") / (col("p") * col("nn")).cast("double"),
          6).as("youden_j"),
        NumFns.roundPortable(
          col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .as("precision"),
        NumFns.roundPortable(
          col("tp").cast("double") / col("p"), 6).as("recall"),
        NumFns.roundPortable(
          (col("tp") * tn - col("fp") * fn).cast("double") / mccDen, 6)
          .as("mcc"))
  }

  val qYoudenThresholdOracle: String =
    s"""WITH sc AS (${scoredDocsSql(1000)}),
       |cells AS (
       |  SELECT score, count(*) AS n, CAST(sum(pos) AS BIGINT) AS np
       |  FROM sc GROUP BY score
       |),
       |tot AS (
       |  SELECT CAST(sum(np) AS BIGINT) AS p,
       |    CAST(sum(n - np) AS BIGINT) AS nn
       |  FROM cells
       |),
       |cum AS (
       |  SELECT score AS threshold,
       |    CAST(sum(np) OVER w AS BIGINT) AS tp,
       |    CAST(sum(n - np) OVER w AS BIGINT) AS fp,
       |    p, nn
       |  FROM cells, tot
       |  WINDOW w AS (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |best AS (
       |  SELECT *, tp * nn - fp * p AS jnum FROM cum
       |  ORDER BY jnum DESC, threshold LIMIT 1
       |)
       |SELECT threshold, tp, fp, nn - fp AS tn, p - tp AS fn,
       |  ${NumFns.roundPortableSql(
            "CAST(jnum AS DOUBLE) / (CAST(p AS DOUBLE) * nn)", 6)}
       |    AS youden_j,
       |  ${NumFns.roundPortableSql(
            "CAST(tp AS DOUBLE) / (tp + fp)", 6)} AS precision,
       |  ${NumFns.roundPortableSql("CAST(tp AS DOUBLE) / p", 6)} AS recall,
       |  ${NumFns.roundPortableSql(
            "CAST(tp * (nn - fp) - fp * (p - tp) AS DOUBLE) / " +
            "(sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(p AS DOUBLE)) * " +
            "sqrt(CAST(nn - fp + fp AS DOUBLE)) * " +
            "sqrt(CAST(nn - fp + p - tp AS DOUBLE)))", 6)} AS mcc
       |FROM best""".stripMargin

  /** [[scoredDocs]] in 20 score buckets: `(bucket, n, np)`, np the
    * English documents among the bucket's n.
    */
  private def bucketCells(s: SparkSession, dir: String): DataFrame =
    scoredDocs(s, dir, 20)
      .groupBy(least(col("score"), lit(19L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))

  /** SQL twin of [[bucketCells]]: CTE `cells`. */
  private val bucketCellsSql: String =
    s"""cells AS (
       |  SELECT least(score, 19) AS bucket, count(*) AS n, CAST(sum(pos) AS BIGINT) AS np
       |  FROM (${scoredDocsSql(20)}) s GROUP BY 1
       |)""".stripMargin

  /** Isotonic (PAV) calibration of the stopword-ratio score against the
    * English label — the monotone-regression companion to
    * [[qCalibration]]'s fixed-bin reliability diagram: the raw
    * per-bucket rate is NOT monotone in the score (small buckets jitter),
    * and a downstream threshold picked on a non-monotone curve is
    * unstable. Pool-adjacent-violators is computed in its closed minimax
    * form — fit(k) = max_{i≤k} min_{j≥k} rate(i..j) — instead of the
    * textbook sequential pooling loop: pooling is an inherently serial
    * scan, but the minimax form is three joins over the BUCKET frame.
    * Shape at 100 TB: one corpus scan collapses to ≤20 score-bucket
    * cells (integer n/np sums, map-side combined); the O(B³) minimax
    * triple enumeration runs over that ≤20-row frame (≤1.5k tuples,
    * broadcast joins, never row-scale). Determinism: interval rates are
    * single divisions of exact integers (identical doubles on both
    * engines), min/max over identical doubles is engine-independent, and
    * outputs round portably.
    */
  def qIsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // contiguous index rn over the nonempty buckets + inclusive prefix
    // sums: rate(i..j) = (q_j − q_i + np_i) / (c_j − c_i + n_i)
    val cells = bucketCells(s, dir)
      .withColumn("rn", row_number().over(Window.orderBy(col("bucket"))).cast("long"))
      .withColumn("c", sum(col("n")).over(w))
      .withColumn("q", sum(col("np")).over(w))
    val iSide = cells.select(col("rn").as("ri"), col("n").as("ni"),
      col("np").as("npi"), col("c").as("ci"), col("q").as("qi"))
    val jSide = cells.select(col("rn").as("rj"), col("c").as("cj"),
      col("q").as("qj"))
    val kSide = cells.select(col("rn").as("rk"), col("bucket"),
      col("n").as("nk"), col("np").as("npk"))
    val triples = broadcast(iSide)
      .join(broadcast(jSide), col("ri") <= col("rj"))
      .join(broadcast(kSide), col("ri") <= col("rk") && col("rk") <= col("rj"))
      .select(col("rk"), col("bucket"), col("nk"), col("npk"), col("ri"),
        ((col("qj") - col("qi") + col("npi")).cast("double")
          / (col("cj") - col("ci") + col("ni"))).as("rate"))
    triples.groupBy(col("rk"), col("bucket"), col("nk"), col("npk"), col("ri"))
      .agg(min(col("rate")).as("minr"))
      .groupBy(col("rk"), col("bucket"), col("nk"), col("npk"))
      .agg(max(col("minr")).as("fit"))
      .select(col("bucket"), col("nk").as("n"), col("npk").as("np"),
        NumFns.roundPortable(col("npk").cast("double") / col("nk"), 6)
          .as("raw_rate"),
        NumFns.roundPortable(col("fit"), 6).as("iso_rate"))
      .orderBy(col("bucket"))
  }

  val qIsotonicCalibrationOracle: String =
    s"""WITH $bucketCellsSql,
       |idx AS (
       |  SELECT bucket, n, np,
       |    CAST(row_number() OVER (ORDER BY bucket) AS BIGINT) AS rn,
       |    CAST(sum(n) OVER w AS BIGINT) AS c,
       |    CAST(sum(np) OVER w AS BIGINT) AS q
       |  FROM cells
       |  WINDOW w AS (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |tr AS (
       |  SELECT k.rn AS rk, k.bucket, k.n AS nk, k.np AS npk, i.rn AS ri,
       |    CAST(j.q - i.q + i.np AS DOUBLE) / (j.c - i.c + i.n) AS rate
       |  FROM idx i
       |  JOIN idx j ON i.rn <= j.rn
       |  JOIN idx k ON i.rn <= k.rn AND k.rn <= j.rn
       |),
       |mn AS (
       |  SELECT rk, bucket, nk, npk, ri, min(rate) AS minr
       |  FROM tr GROUP BY rk, bucket, nk, npk, ri
       |)
       |SELECT bucket, nk AS n, npk AS np,
       |  ${NumFns.roundPortableSql("CAST(npk AS DOUBLE) / nk", 6)} AS raw_rate,
       |  ${NumFns.roundPortableSql("max(minr)", 6)} AS iso_rate
       |FROM mn GROUP BY bucket, nk, npk
       |ORDER BY bucket""".stripMargin

  /** Marginal coverage target for [[qConformal]]. */
  val ConformalLevel = 0.9

  /** Width of a [[qConformal]] residual rank bucket, in cents ($100):
    * residuals are |integer cents − one double per priority|, so a
    * bucket holds ≤ 10⁴ distinct residual cells whatever the corpus
    * size — the bound that keeps the within-bucket running count a
    * constant-sized task.
    */
  val ConformalBucketCents = 10000.0

  /** Split-conformal prediction intervals around a per-priority mean
    * predictor of order value — the distribution-free coverage guarantee
    * a pipeline's point predictions should ship with: on a
    * content-addressed calibration half, the nonconformity score
    * |y − ŷ| at the ⌈(n+1)·0.9⌉-th order statistic gives q̂ such that
    * P(|y_new − ŷ| ≤ q̂) ≥ 0.9, verified here by MEASURING the held-out
    * coverage. Shape at 100 TB: the split is a scan-side md5 hash (same
    * discipline as train/test split — reproducible on any engine and
    * shard order), the predictor is a 5-row broadcast aggregate, and the
    * order statistic comes from residual CELLS ranked from counts over
    * $100 buckets — no task ever holds more than one bucket's cells.
    * Determinism: residuals are |long − exact-division double| (identical
    * doubles on both engines), the order-statistic rank is exact integer
    * arithmetic, and coverage compares identical doubles.
    */
  def qConformal(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.orders(s, dir).select(
      col("o_orderpriority").as("prio"),
      NumFns.roundAwayLong(col("o_totalprice") * 100).as("yc"),
      (TextFns.hash28(concat(lit("cp:"), col("o_orderkey").cast("string")))
        % 2 === 0).as("is_cal"))
    val calAgg = keyed.filter(col("is_cal"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_cal"), sum(col("yc")).as("sy"))
      .select(col("prio"), col("n_cal"),
        (col("sy").cast("double") / col("n_cal")).as("yhat_c"))
    val resid = keyed.join(broadcast(calAgg), Seq("prio"))
      .select(col("prio"), col("is_cal"), col("n_cal"), col("yhat_c"),
        abs(col("yc") - col("yhat_c")).as("res"))
    // q̂ = the k-th smallest calibration residual, k = ⌈(n+1)·level⌉
    // (clamped): the smallest cell whose running count reaches k.
    // Rank-from-counts over $100 residual buckets (r6 — replaces the
    // per-priority running-count window, which put EVERY residual cell
    // of a priority in one task; res = |cents − ŷ| barely compresses, so
    // at 100× each of ~5 tasks sorted ~n/5 cells): per-(prio, bucket)
    // counts → exclusive prefix over the bucket frame (value-domain-
    // sized, the sanctioned window-over-bounded-aggregate) → broadcast
    // offsets back; the within-bucket running count partitions by
    // (prio, bucket), so a task sees one $100 band's cells — ≤ 10⁴
    // distinct cent values per band, independent of corpus size. cum =
    // offset + in-bucket running count is identical to the old global
    // running count because buckets are ordered by res.
    val cells = resid.filter(col("is_cal"))
      .groupBy(col("prio"), col("n_cal"), col("res"))
      .agg(count(lit(1)).as("c"))
      .withColumn("bucket", floor(col("res") / lit(ConformalBucketCents)).cast("long"))
    val wOff = Window.partitionBy(col("prio")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cells.groupBy(col("prio"), col("bucket"))
      .agg(sum(col("c")).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(wOff), lit(0L)))
      .select(col("prio"), col("bucket"), col("off"))
    val wIn = Window.partitionBy(col("prio"), col("bucket")).orderBy(col("res"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = cells
      .join(broadcast(offsets), Seq("prio", "bucket"))
      .withColumn("cum", col("off") + sum(col("c")).over(wIn))
      .withColumn("k", least(
        ceil(lit(ConformalLevel) * (col("n_cal") + 1)), col("n_cal")))
      .filter(col("cum") >= col("k"))
      .groupBy(col("prio")).agg(min(col("res")).as("qh"))
    resid.filter(!col("is_cal"))
      .join(broadcast(qhat), Seq("prio"))
      .groupBy(col("prio"), col("n_cal"), col("yhat_c"), col("qh"))
      .agg(count(lit(1)).as("n_test"),
        sum((col("res") <= col("qh")).cast("long")).as("n_in"))
      .select(col("prio"), col("n_cal"), col("n_test"),
        NumFns.roundPortable(col("yhat_c") / 100.0, 4).as("yhat"),
        NumFns.roundPortable(col("qh") / 100.0, 4).as("qhat"),
        NumFns.roundPortable(col("n_in").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .orderBy(col("prio"))
  }

  val qConformalOracle: String =
    s"""WITH keyed AS (
       |  SELECT o_orderpriority AS prio,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS yc,
       |    ${TextFns.hash28Sql("'cp:' || CAST(o_orderkey AS VARCHAR)")} % 2 = 0
       |      AS is_cal
       |  FROM orders
       |), ca AS (
       |  SELECT prio, count(*) AS n_cal,
       |    CAST(sum(yc) AS DOUBLE) / count(*) AS yhat_c
       |  FROM keyed WHERE is_cal GROUP BY prio
       |), resid AS (
       |  SELECT k.prio, k.is_cal, ca.n_cal, ca.yhat_c,
       |    abs(k.yc - ca.yhat_c) AS res
       |  FROM keyed k JOIN ca ON k.prio = ca.prio
       |), cells AS (
       |  SELECT prio, n_cal, res, count(*) AS c
       |  FROM resid WHERE is_cal GROUP BY prio, n_cal, res
       |), qh AS (
       |  SELECT prio, min(res) AS qh FROM (
       |    SELECT prio, res,
       |      sum(c) OVER (PARTITION BY prio ORDER BY res
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |      least(ceil($ConformalLevel * (n_cal + 1)), n_cal) AS k
       |    FROM cells
       |  ) WHERE cum >= k GROUP BY prio
       |)
       |SELECT r.prio, max(r.n_cal) AS n_cal, count(*) AS n_test,
       |  ${NumFns.roundPortableSql("max(r.yhat_c) / 100.0", 4)} AS yhat,
       |  ${NumFns.roundPortableSql("max(qh.qh) / 100.0", 4)} AS qhat,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CASE WHEN r.res <= qh.qh THEN 1 ELSE 0 END) " +
            "AS DOUBLE) / count(*)", 6)} AS coverage
       |FROM resid r JOIN qh ON r.prio = qh.prio
       |WHERE NOT r.is_cal
       |GROUP BY r.prio
       |ORDER BY r.prio""".stripMargin

  /** Cumulative gains / lift table of the stopword-ratio classifier —
    * the campaign-targeting view of the same ranking [[qAuc]] scores
    * globally: walking score buckets best-first, what fraction of all
    * positives is captured (gain) and at what multiple of the base rate
    * (lift). The operating question "score the corpus, keep the top 20%"
    * is answered by this table, not by AUC. Shape: the qAuc cell
    * machinery bucketed to ≤20 rows; cumulative sums run best-bucket-
    * first over that frame; base rate is one more cell aggregate.
    * All counts are exact integers; ratios are final-step doubles.
    */
  def qLiftDeciles(s: SparkSession, dir: String): DataFrame = {
    val cells = bucketCells(s, dir)
    val tot = cells.agg(sum(col("n")).as("nt"), sum(col("np")).as("pt"))
    val wDesc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_n", sum(col("n")).over(wDesc))
      .withColumn("cum_np", sum(col("np")).over(wDesc))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"), col("np"), col("cum_n"), col("cum_np"),
        NumFns.roundPortable(
          col("cum_np").cast("double") / col("pt"), 6).as("gain"),
        NumFns.roundPortable(
          (col("cum_np").cast("double") / col("cum_n"))
            / (col("pt").cast("double") / col("nt")), 6).as("lift"))
      .orderBy(col("bucket").desc)
  }

  val qLiftDecilesOracle: String =
    s"""WITH $bucketCellsSql,
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(np) AS BIGINT) AS pt
       |  FROM cells
       |),
       |cum AS (
       |  SELECT bucket, n, np,
       |    CAST(sum(n) OVER w AS BIGINT) AS cum_n,
       |    CAST(sum(np) OVER w AS BIGINT) AS cum_np
       |  FROM cells
       |  WINDOW w AS (ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT bucket, n, np, cum_n, cum_np,
       |  ${NumFns.roundPortableSql("CAST(cum_np AS DOUBLE) / pt", 6)} AS gain,
       |  ${NumFns.roundPortableSql(
            "(CAST(cum_np AS DOUBLE) / cum_n) / (CAST(pt AS DOUBLE) / nt)",
            6)} AS lift
       |FROM cum, tot
       |ORDER BY bucket DESC""".stripMargin

  /** RBO persistence parameter (weight decay per depth). */
  val RboP = 0.9

  /** Ranking depth compared by [[qRbo]] (the IVF path returns top-3). */
  val RboDepth = 3

  /** Truncated rank-biased overlap between the exact cosine ranking and
    * the IVF ranking, per query — the third retrieval-quality lens
    * beside set recall (q_ann_recall) and graded NDCG (q_ndcg): RBO is
    * top-weighted (disagreement at rank 1 costs more than at rank 3) and
    * needs no relevance grades, only the two rankings. Truncated form
    * (1−p)·Σ_{i≤d} p^{i−1}·|A_{:i} ∩ B_{:i}|/i, p = [[RboP]] — the
    * RBO-MIN lower bound, the honest number when both lists are depth-
    * bounded. Shape: both inputs are already per-query top-k frames;
    * the depth sweep is a ≤d× expansion of their join (never corpus-
    * scale); agreement counts are exact integers and every p-power is
    * the same literal multiplication chain on both engines.
    */
  def qRbo(s: SparkSession, dir: String): DataFrame = {
    val exact = Similarity.qAnnTopk(s, dir)
      .filter(col("rank") <= RboDepth)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("ra"))
    val ivf = Similarity.qAnnIvf(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rb"))
    val matched = exact.join(ivf, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), greatest(col("ra"), col("rb")).as("joined_at"))
    val depths = s.range(1, RboDepth + 1).select(col("id").as("depth"))
    // A_i = matches whose BOTH ranks are <= i, per query and depth
    val agree = matched.crossJoin(broadcast(depths))
      .filter(col("joined_at") <= col("depth"))
      .groupBy(col("query_id"), col("depth"))
      .agg(count(lit(1)).as("a"))
    val wExpr = (1 to RboDepth).map { i =>
      val pPow = (1 until i).foldLeft(lit(1.0))((acc, _) => acc * RboP)
      when(col("depth") === i, pPow * col("a") / i).otherwise(lit(0.0))
    }.reduce(_ + _)
    val queries = exact.select(col("query_id")).distinct()
    queries.join(
        agree.withColumn("term", wExpr)
          .groupBy(col("query_id"))
          .agg(max(when(col("depth") === RboDepth, col("a"))).as("a_d"),
            sum(col("term").cast(Dec12)).as("terms")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("a_d"), lit(0L)).as("overlap_at_depth"),
        NumFns.roundPortable(
          lit(1.0 - RboP) * coalesce(col("terms").cast("double"), lit(0.0)),
          6).as("rbo"))
      .orderBy(col("query_id"))
  }

  val qRboOracle: String = {
    val terms = (1 to RboDepth).map { i =>
      val pPow = Seq.fill(i - 1)(RboP.toString).mkString(" * ")
      val p = if (i == 1) "1.0" else s"($pPow)"
      s"CASE WHEN depth = $i THEN $p * a / $i ELSE 0.0 END"
    }.mkString(" + ")
    s"""WITH ex AS (${Similarity.qAnnTopkOracle}),
       |iv AS (${Similarity.qAnnIvfOracle}),
       |m AS (
       |  SELECT ex.query_id, greatest(ex.rank, iv.rank) AS joined_at
       |  FROM ex JOIN iv ON ex.query_id = iv.query_id
       |    AND ex.neighbor_id = iv.neighbor_id
       |  WHERE ex.rank <= $RboDepth
       |),
       |ag AS (
       |  SELECT query_id, CAST(depth AS BIGINT) AS depth, count(*) AS a
       |  FROM m CROSS JOIN (SELECT unnest(range(1, ${RboDepth + 1})) AS depth)
       |  WHERE joined_at <= depth
       |  GROUP BY query_id, depth
       |),
       |t AS (
       |  SELECT query_id,
       |    max(CASE WHEN depth = $RboDepth THEN a END) AS a_d,
       |    sum(CAST($terms AS DECIMAL(38,12))) AS terms
       |  FROM ag GROUP BY query_id
       |),
       |q AS (SELECT DISTINCT query_id FROM ex)
       |SELECT q.query_id,
       |  COALESCE(a_d, 0) AS overlap_at_depth,
       |  ${NumFns.roundPortableSql(
            s"${1.0 - RboP} * COALESCE(CAST(terms AS DOUBLE), 0.0)", 6)}
       |    AS rbo
       |FROM q LEFT JOIN t ON t.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  /** Truth depth for [[qMrrMap]]: the exact top-[[MrrTruthK]] cosine
    * neighbors are "relevant"; the IVF list is the system under test.
    */
  val MrrTruthK = 3

  /** MRR and MAP@k of the IVF retrieval path against exact-cosine truth
    * — the two classic IR point metrics missing beside set recall
    * (q_ann_recall), graded NDCG (q_ndcg) and rank overlap (q_rbo): MRR
    * asks "how deep is the FIRST relevant hit?" (navigational quality),
    * AP "how front-loaded are ALL of them?" (ranking quality). Per
    * query: RR = 1/rank of the first truth hit in the IVF list, AP =
    * Σ_r hit_r·(hits≤r)/r ÷ |truth|. Shape: both inputs are per-query
    * bounded top-k frames (≤3 rows each), the hit join is (query,
    * candidate) equality, and the precision prefix is a window over ≤3
    * rows per query — the metric layer adds NO corpus-scale work. Each
    * AP term is the same small-integer ratio double on both engines,
    * DECIMAL-folded so the ≤3-term sum is order-free.
    */
  def qMrrMap(s: SparkSession, dir: String): DataFrame = {
    val truth = Similarity.qAnnTopk(s, dir)
      .filter(col("rank") <= MrrTruthK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val sys = Similarity.qAnnIvf(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val h = sys.join(truth, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"),
        coalesce(col("hit"), lit(0L)).as("hit"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val perQ = h
      .withColumn("pref", sum(col("hit")).over(wq))
      .groupBy(col("query_id"))
      .agg(
        sum(col("hit")).as("n_hits"),
        max(when(col("hit") === 1L, lit(1.0) / col("rank"))).as("rr_raw"),
        sum((col("hit") * col("pref") / col("rank").cast("double"))
          .cast(Dec12)).as("ap_raw"))
    // left join from the truth query list: a query whose IVF cell held
    // no candidates still reports rr = ap = 0, not a dropped row
    truth.select(col("query_id")).distinct()
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        NumFns.roundPortable(coalesce(col("rr_raw"), lit(0.0)), 6)
          .as("reciprocal_rank"),
        NumFns.roundPortable(
          coalesce(col("ap_raw").cast("double"), lit(0.0)) / MrrTruthK, 6)
          .as("avg_precision"))
      .orderBy(col("query_id"))
  }

  val qMrrMapOracle: String =
    s"""WITH ex AS (${Similarity.qAnnTopkOracle}),
       |iv AS (${Similarity.qAnnIvfOracle}),
       |tr AS (SELECT query_id, neighbor_id FROM ex WHERE rank <= $MrrTruthK),
       |h AS (
       |  SELECT iv.query_id, iv.rank,
       |    CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM iv LEFT JOIN tr ON tr.query_id = iv.query_id
       |    AND tr.neighbor_id = iv.neighbor_id
       |),
       |p AS (
       |  SELECT query_id, rank, hit,
       |    sum(hit) OVER (PARTITION BY query_id ORDER BY rank) AS pref
       |  FROM h
       |),
       |a AS (
       |  SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_hits,
       |    max(CASE WHEN hit = 1 THEN 1.0 / rank END) AS rr_raw,
       |    sum(CAST(hit * pref / CAST(rank AS DOUBLE) AS DECIMAL(38,12)))
       |      AS ap_raw
       |  FROM p GROUP BY query_id
       |),
       |q AS (SELECT DISTINCT query_id FROM tr)
       |SELECT q.query_id, COALESCE(n_hits, 0) AS n_hits,
       |  ${NumFns.roundPortableSql("COALESCE(rr_raw, 0.0)", 6)}
       |    AS reciprocal_rank,
       |  ${NumFns.roundPortableSql(
            s"COALESCE(CAST(ap_raw AS DOUBLE), 0.0) / $MrrTruthK", 6)}
       |    AS avg_precision
       |FROM q LEFT JOIN a ON a.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin

  /** Murphy decomposition of the Brier score for the stopword-density
    * English-classifier — the scalar companion to q_calibration's
    * per-bin table: BS (mean squared forecast error), reliability
    * (Σ n_b(p̄_b−ō_b)²/N — calibration error, lower better), resolution
    * (Σ n_b(ō_b−ō)²/N — discrimination, higher better) and uncertainty
    * ō(1−ō) (the data's irreducible floor). Forecast p = score/1000 on
    * the SAME permille integer score and decile bins as q_calibration,
    * so the two reports reconcile. Shape: one scan projects (score,
    * pos); the Brier sum folds per-row (p−y)² — an exact small-rational
    * double — through DECIMAL; everything else lives on the ≤10-row bin
    * frame and one broadcast global row. Scan-side at any scale.
    */
  def qBrier(s: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(s, dir, 1000)
    val p = col("score") / 1000.0
    val bins = scored
      .select(least(floor(col("score") / 100), lit(9L)).as("bin"),
        col("score"), col("pos"),
        ((p - col("pos")) * (p - col("pos"))).cast(Dec12).as("sq"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("score")).as("ssum"),
        sum(col("pos")).as("npos"), sum(col("sq")).as("sqsum"))
      .localCheckpoint() // ≤10 rows; read by three reductions below
    val tot = bins.agg(sum(col("n")).as("nt"), sum(col("npos")).as("post"),
      sum(col("sqsum")).cast("double").as("bsum"))
    val obar = col("post") / col("nt").cast("double")
    val terms = bins.crossJoin(broadcast(tot))
      .select(col("n"), col("nt"), col("post"),
        col("bsum"),
        (col("ssum") / (col("n") * 1000.0)).as("pbar"),
        (col("npos") / col("n").cast("double")).as("obs"),
        obar.as("obar"))
      .select(col("nt"), col("post"), col("bsum"), col("obar"),
        (col("n") * (col("pbar") - col("obs")) * (col("pbar") - col("obs")))
          .cast(Dec12).as("rel_t"),
        (col("n") * (col("obs") - col("obar")) * (col("obs") - col("obar")))
          .cast(Dec12).as("res_t"))
    terms.groupBy(col("nt"), col("post"), col("bsum"), col("obar"))
      .agg(sum(col("rel_t")).cast("double").as("rel"),
        sum(col("res_t")).cast("double").as("res"))
      .select(col("nt").as("n_docs"),
        NumFns.roundPortable(col("bsum") / col("nt"), 6).as("brier"),
        NumFns.roundPortable(col("rel") / col("nt"), 6).as("reliability"),
        NumFns.roundPortable(col("res") / col("nt"), 6).as("resolution"),
        NumFns.roundPortable(col("obar") * (lit(1.0) - col("obar")), 6)
          .as("uncertainty"))
  }

  val qBrierOracle: String =
    s"""WITH sc AS (${scoredDocsSql(1000)}),
       |bins AS (
       |  SELECT least(CAST(floor(score / 100) AS BIGINT), 9) AS bin,
       |    count(*) AS n, sum(score) AS ssum, sum(pos) AS npos,
       |    sum(CAST((score / 1000.0 - pos) * (score / 1000.0 - pos)
       |      AS DECIMAL(38,12))) AS sqsum
       |  FROM sc GROUP BY bin
       |),
       |tt AS (
       |  SELECT sum(n) AS nt, sum(npos) AS post,
       |    CAST(sum(sqsum) AS DOUBLE) AS bsum
       |  FROM bins
       |),
       |terms AS (
       |  SELECT nt, post, bsum, post / CAST(nt AS DOUBLE) AS obar,
       |    CAST(n * (ssum / (n * 1000.0) - npos / CAST(n AS DOUBLE))
       |      * (ssum / (n * 1000.0) - npos / CAST(n AS DOUBLE))
       |      AS DECIMAL(38,12)) AS rel_t,
       |    CAST(n * (npos / CAST(n AS DOUBLE) - post / CAST(nt AS DOUBLE))
       |      * (npos / CAST(n AS DOUBLE) - post / CAST(nt AS DOUBLE))
       |      AS DECIMAL(38,12)) AS res_t
       |  FROM bins CROSS JOIN tt
       |)
       |SELECT CAST(nt AS BIGINT) AS n_docs,
       |  ${NumFns.roundPortableSql("bsum / nt", 6)} AS brier,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(rel_t) AS DOUBLE) / nt", 6)} AS reliability,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(res_t) AS DOUBLE) / nt", 6)} AS resolution,
       |  ${NumFns.roundPortableSql("obar * (1.0 - obar)", 6)}
       |    AS uncertainty
       |FROM terms GROUP BY nt, post, bsum, obar""".stripMargin

  /** Hosmer–Lemeshow goodness-of-fit test of the stopword-density
    * probability model on q_calibration's exact decile bins: HL =
    * Σ_g (O_g−E_g)²/(n_g·π̄_g(1−π̄_g)) against χ²_{g−2} — the
    * calibration-as-hypothesis-test reading (q_calibration reports ECE,
    * a magnitude; q_brier decomposes loss; HL says whether the
    * miscalibration is statistically significant at all). Shape: one
    * corpus scan → the ≤10-row score-bin frame; O, E and π̄ are exact
    * integer sums over it (E_g = Σscore/1000 is a ratio of integers);
    * bins with a degenerate mean prediction (π̄ ∈ {0,1}) drop from the
    * statistic with their count reported, keeping the χ² well-defined.
    */
  def qHosmerLemeshow(s: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(s, dir, 1000)
    val bins = scored
      .select(least(floor(col("score") / 100), lit(9L)).as("bin"),
        col("score"), col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("score")).as("ssum"),
        sum(col("pos")).as("o"))
    val terms = bins
      .select(col("bin"), col("n"), col("o"),
        (col("ssum").cast("double") / 1000.0).as("e"))
      .withColumn("pbar", col("e") / col("n"))
      .withColumn("use", col("pbar") > 0.0 && col("pbar") < 1.0)
      .select(col("use"),
        when(col("use"),
          ((col("o") - col("e")) * (col("o") - col("e"))
            / (col("n") * col("pbar") * (lit(1.0) - col("pbar"))))
            .cast(Dec12)).as("hterm"))
    terms.agg(
      sum(when(col("use"), 1L).otherwise(0L)).as("g_used"),
      sum(when(!col("use"), 1L).otherwise(0L)).as("g_dropped"),
      sum(col("hterm")).as("hl"))
      .select(col("g_used"), col("g_dropped"),
        (col("g_used") - 2).as("dof"),
        NumFns.roundPortable(col("hl").cast("double"), 4).as("hl_stat"))
  }

  val qHosmerLemeshowOracle: String =
    s"""WITH sc AS (${scoredDocsSql(1000)}),
       |bins AS (
       |  SELECT least(CAST(floor(score / 100) AS BIGINT), 9) AS bin,
       |    count(*) AS n, CAST(sum(score) AS BIGINT) AS ssum,
       |    CAST(sum(pos) AS BIGINT) AS o
       |  FROM sc GROUP BY bin
       |),
       |tm AS (
       |  SELECT n, o, CAST(ssum AS DOUBLE) / 1000.0 AS e,
       |    CAST(ssum AS DOUBLE) / 1000.0 / n AS pbar
       |  FROM bins
       |),
       |f AS (
       |  SELECT pbar > 0.0 AND pbar < 1.0 AS use,
       |    CASE WHEN pbar > 0.0 AND pbar < 1.0 THEN
       |      CAST((o - e) * (o - e) / (n * pbar * (1.0 - pbar))
       |        AS DECIMAL(38,12)) END AS hterm
       |  FROM tm
       |)
       |SELECT
       |  CAST(sum(CASE WHEN use THEN 1 ELSE 0 END) AS BIGINT) AS g_used,
       |  CAST(sum(CASE WHEN NOT use THEN 1 ELSE 0 END) AS BIGINT)
       |    AS g_dropped,
       |  CAST(sum(CASE WHEN use THEN 1 ELSE 0 END) AS BIGINT) - 2 AS dof,
       |  ${NumFns.roundPortableSql("CAST(sum(hterm) AS DOUBLE)", 4)}
       |    AS hl_stat
       |FROM f""".stripMargin
}
