package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NumFns
import graft.functions.NumFns.{Dec0, Dec12}
import graft.sources.Tables

/** Causal-inference and advanced hypothesis-testing operators (r9):
  * the estimators an experimentation / measurement platform runs beside
  * the suite's A/B family — instrumental variables, delta-method ratio
  * CIs, robust rank tests, variance-homogeneity and stationarity gates,
  * extreme-value and duration fits, and ordered-attribute privacy
  * distance. Shared discipline with the rest of the engine: integer or
  * quantized-DECIMAL accumulation wherever a sum crosses group order,
  * identical literal double formulas on both engines, portable rounding
  * on every emitted double, and windows only over bounded domains
  * (calendar days, value cells, QI groups) — never over fact-scale
  * partitions.
  */
object Inference {

  // ----------------------------------------------------------------- IV

  /** Instrumental-variable (Wald / 2SLS with a single binary
    * instrument) estimate of the effect of discount on extended price,
    * per return flag. The parity of the supplier key plays the
    * instrument role z ∈ {0,1}: β̂_IV = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) — the
    * reduced-form effect over the first stage, the workhorse estimator
    * when treatment is confounded but an exogenous shifter exists
    * (encouragement designs, lottery assignments). Shape: ONE lineitem
    * scan → 8 quantized-integer sums per flag (map-side combined, no
    * shuffle beyond the ≤3-row flag aggregate). Exactness: Σround(x·10⁶)
    * as exact integers; every emitted double is one literal formula of
    * those integers, portably rounded.
    */
  def qIv2sls(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      (pmod(col("l_suppkey"), lit(2L)) === 1L).as("z"),
      NumFns.roundAwayLong(col("l_discount") * 1e6).as("xq"),
      NumFns.roundAwayLong(col("l_extendedprice") * 1e6).as("yq"))
    li.groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("z"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("z"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("z"), col("xq")).otherwise(0L).cast(Dec0)).as("sx1"),
        sum(when(!col("z"), col("xq")).otherwise(0L).cast(Dec0)).as("sx0"),
        sum(when(col("z"), col("yq")).otherwise(0L).cast(Dec0)).as("sy1"),
        sum(when(!col("z"), col("yq")).otherwise(0L).cast(Dec0)).as("sy0"))
      .select(col("l_returnflag"), col("n1"), col("n0"),
        NumFns.roundPortable(
          (col("sx1").cast("double") / col("n1")
            - col("sx0").cast("double") / col("n0")) / 1e6, 8).as("first_stage"),
        NumFns.roundPortable(
          (col("sy1").cast("double") / col("n1")
            - col("sy0").cast("double") / col("n0")) / 1e6, 6).as("reduced_form"),
        NumFns.roundPortable(
          (col("sy1").cast("double") / col("n1")
            - col("sy0").cast("double") / col("n0"))
            / (col("sx1").cast("double") / col("n1")
              - col("sx0").cast("double") / col("n0")), 4).as("beta_iv"))
      .orderBy(col("l_returnflag"))
  }

  val qIv2slsOracle: String =
    s"""WITH b AS (
       |  SELECT l_returnflag,
       |    (l_suppkey % 2 = 1) AS z,
       |    CAST(round(l_discount * 1e6) AS BIGINT) AS xq,
       |    CAST(round(l_extendedprice * 1e6) AS BIGINT) AS yq
       |  FROM lineitem
       |),
       |g AS (
       |  SELECT l_returnflag,
       |    CAST(sum(CASE WHEN z THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN z THEN 0 ELSE 1 END) AS BIGINT) AS n0,
       |    sum(CASE WHEN z THEN CAST(xq AS HUGEINT) ELSE 0 END) AS sx1,
       |    sum(CASE WHEN z THEN 0 ELSE CAST(xq AS HUGEINT) END) AS sx0,
       |    sum(CASE WHEN z THEN CAST(yq AS HUGEINT) ELSE 0 END) AS sy1,
       |    sum(CASE WHEN z THEN 0 ELSE CAST(yq AS HUGEINT) END) AS sy0
       |  FROM b GROUP BY l_returnflag
       |)
       |SELECT l_returnflag, n1, n0,
       |  ${NumFns.roundPortableSql(
            "(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0) / 1e6",
            8)} AS first_stage,
       |  ${NumFns.roundPortableSql(
            "(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) / 1e6",
            6)} AS reduced_form,
       |  ${NumFns.roundPortableSql(
            "(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) / " +
            "(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)",
            4)} AS beta_iv
       |FROM g ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------- delta method

  /** Delta-method CI for the ratio metric value-per-event, per event
    * type — THE standard fix for "users, not events, are the
    * randomization unit": R̂ = Σy_u/Σn_u over user-level totals, with
    * Var(R̂) ≈ (σ²_y − 2R̂σ_yn + R̂²σ²_n)/(U·n̄²) from user-level moments
    * (Deng et al., KDD'18 framing). Naive per-event variance understates
    * the CI whenever a user's events correlate — i.e. always. Shape: one
    * events scan → user-level quantized totals (shuffles bare
    * (type, user, 2 longs) rows) → per-type moment aggregate over the
    * user-domain frame. Exactness: y_u is an exact Σround(value·10⁶);
    * the cross-moments are double products of exact integers summed as
    * DECIMAL so user order can't move the CI.
    */
  def qDeltaMethod(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(NumFns.roundAwayLong(col("value") * 1e6)).as("yq"),
        count(lit(1)).as("nu"))
    val m = users.groupBy(col("event_type"))
      .agg(count(lit(1)).as("u"),
        sum(col("yq").cast(Dec0)).as("sy"),
        sum(col("nu").cast(Dec0)).as("sn"),
        sum((col("yq").cast("double") * col("yq")).cast(Dec12)).as("syy"),
        sum((col("nu") * col("nu")).cast(Dec0)).as("snn"),
        sum((col("yq").cast("double") * col("nu")).cast(Dec12)).as("syn"))
      .select(col("event_type"), col("u").cast("double").as("u"),
        col("sy").cast("double").as("sy"), col("sn").cast("double").as("sn"),
        col("syy").cast("double").as("syy"),
        col("snn").cast("double").as("snn"),
        col("syn").cast("double").as("syn"))
    val r = col("sy") / col("sn")
    val ybar = col("sy") / col("u")
    val nbar = col("sn") / col("u")
    val vy = (col("syy") - col("u") * ybar * ybar) / (col("u") - 1)
    val vn = (col("snn") - col("u") * nbar * nbar) / (col("u") - 1)
    val cyn = (col("syn") - col("u") * ybar * nbar) / (col("u") - 1)
    val se = sqrt((vy - lit(2.0) * r * cyn + r * r * vn)
      / (col("u") * nbar * nbar))
    m.select(col("event_type"), col("u").cast("long").as("n_users"),
        NumFns.roundPortable(r / 1e6, 6).as("ratio"),
        NumFns.roundPortable(se / 1e6, 6).as("se"),
        NumFns.roundPortable((r - lit(1.959963984540054) * se) / 1e6, 6)
          .as("ci_lo"),
        NumFns.roundPortable((r + lit(1.959963984540054) * se) / 1e6, 6)
          .as("ci_hi"))
      .orderBy(col("event_type"))
  }

  val qDeltaMethodOracle: String =
    s"""WITH users AS (
       |  SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS yq,
       |    count(*) AS nu
       |  FROM events GROUP BY 1, 2
       |),
       |m AS (
       |  SELECT event_type,
       |    CAST(count(*) AS DOUBLE) AS u,
       |    CAST(sum(CAST(yq AS HUGEINT)) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(nu AS HUGEINT)) AS DOUBLE) AS sn,
       |    CAST(sum(CAST(CAST(yq AS DOUBLE) * yq AS DECIMAL(38,12)))
       |      AS DOUBLE) AS syy,
       |    CAST(sum(CAST(nu AS HUGEINT) * nu) AS DOUBLE) AS snn,
       |    CAST(sum(CAST(CAST(yq AS DOUBLE) * nu AS DECIMAL(38,12)))
       |      AS DOUBLE) AS syn
       |  FROM users GROUP BY event_type
       |),
       |c AS (
       |  SELECT event_type, u, sy / sn AS r,
       |    (syy - u * (sy / u) * (sy / u)) / (u - 1) AS vy,
       |    (snn - u * (sn / u) * (sn / u)) / (u - 1) AS vn,
       |    (syn - u * (sy / u) * (sn / u)) / (u - 1) AS cyn,
       |    sn / u AS nbar
       |  FROM m
       |),
       |f AS (
       |  SELECT event_type, u, r,
       |    sqrt((vy - 2.0 * r * cyn + r * r * vn) / (u * nbar * nbar)) AS se
       |  FROM c
       |)
       |SELECT event_type, CAST(u AS BIGINT) AS n_users,
       |  ${NumFns.roundPortableSql("r / 1e6", 6)} AS ratio,
       |  ${NumFns.roundPortableSql("se / 1e6", 6)} AS se,
       |  ${NumFns.roundPortableSql(
            "(r - 1.959963984540054 * se) / 1e6", 6)} AS ci_lo,
       |  ${NumFns.roundPortableSql(
            "(r + 1.959963984540054 * se) / 1e6", 6)} AS ci_hi
       |FROM f ORDER BY event_type""".stripMargin

  // ---------------------------------------------------- Brunner–Munzel

  /** The two document sources [[qBrunnerMunzel]] compares. */
  val BmSourceA = "src0"
  val BmSourceB = "src1"

  /** Document lengths `v` of the two sources, `isB` true for
    * [[BmSourceB]].
    */
  private def twoSourceLengths(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("source").isin(BmSourceA, BmSourceB))
      .select(col("n_chars").as("v"), (col("source") === BmSourceB).as("isB"))

  /** SQL twin of [[twoSourceLengths]]: CTE `d`. */
  private val twoSourceLengthsSql: String =
    s"""d AS (
       |  SELECT n_chars AS v, (source = '$BmSourceB') AS isB
       |  FROM documents WHERE source IN ('$BmSourceA', '$BmSourceB')
       |)""".stripMargin

  /** Brunner–Munzel rank test on document length between two sources —
    * the Mann–Whitney replacement when the two distributions may differ
    * in SHAPE as well as location (MW's equal-variance-of-ranks
    * assumption fails exactly when one source mixes short and long
    * docs). Statistic per Brunner & Munzel (2000): global and
    * within-sample midranks, per-sample rank variances S²_k, and
    * W = n₁n₂(R̄₂−R̄₁) / ((n₁+n₂)·√(n₁S₁²+n₂S₂²)). Engine: n_chars is an
    * integer, so EVERY member of a (value, sample) cell shares one
    * global and one within-sample midrank — both tests run entirely on
    * the ≤|values| cell frame (counts + two running sums), never
    * ranking rows. The cell windows order by value over the bounded
    * value domain. Exactness: midranks are half-integers from integer
    * cumulative counts; the S²_k terms are double squares summed as
    * DECIMAL.
    */
  def qBrunnerMunzel(s: SparkSession, dir: String): DataFrame = {
    val cells = twoSourceLengths(s, dir).groupBy(col("v"))
      .agg(sum(when(col("isB"), 0L).otherwise(1L)).as("c1"),
        sum(when(col("isB"), 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cumAll", sum(col("c1") + col("c2")).over(w))
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      // midrank of every member of this cell, globally and within-sample
      .withColumn("rg",
        (col("cumAll") - (col("c1") + col("c2"))).cast("double")
          + (col("c1") + col("c2") + 1).cast("double") / 2)
      .withColumn("r1",
        (col("cum1") - col("c1")).cast("double")
          + (col("c1") + 1).cast("double") / 2)
      .withColumn("r2",
        (col("cum2") - col("c2")).cast("double")
          + (col("c2") + 1).cast("double") / 2)
    val tot = ranked.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum((col("c1") * col("rg")).cast(Dec12)).as("sr1"),
      sum((col("c2") * col("rg")).cast(Dec12)).as("sr2"))
    val dev = ranked.crossJoin(broadcast(tot))
      .withColumn("rb1", col("sr1").cast("double") / col("n1"))
      .withColumn("rb2", col("sr2").cast("double") / col("n2"))
      .withColumn("d1", col("rg") - col("r1") - col("rb1")
        + (col("n1") + 1).cast("double") / 2)
      .withColumn("d2", col("rg") - col("r2") - col("rb2")
        + (col("n2") + 1).cast("double") / 2)
      .groupBy(col("n1"), col("n2"), col("rb1"), col("rb2"))
      .agg(sum((col("c1") * col("d1") * col("d1")).cast(Dec12)).as("ss1"),
        sum((col("c2") * col("d2") * col("d2")).cast(Dec12)).as("ss2"))
    dev.select(col("n1"), col("n2"),
        NumFns.roundPortable(col("rb1"), 6).as("rbar_a"),
        NumFns.roundPortable(col("rb2"), 6).as("rbar_b"),
        NumFns.roundPortable(
          col("n1") * col("n2") * (col("rb2") - col("rb1"))
            / ((col("n1") + col("n2"))
              * sqrt(col("n1") * (col("ss1").cast("double") / (col("n1") - 1))
                + col("n2") * (col("ss2").cast("double") / (col("n2") - 1)))),
          6).as("bm_stat"))
  }

  val qBrunnerMunzelOracle: String =
    s"""WITH $twoSourceLengthsSql,
       |cells AS (
       |  SELECT v,
       |    CAST(sum(CASE WHEN isB THEN 0 ELSE 1 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN isB THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM d GROUP BY v
       |),
       |rk AS (
       |  SELECT v, c1, c2,
       |    CAST(sum(c1 + c2) OVER (ORDER BY v) - (c1 + c2) AS DOUBLE)
       |      + (c1 + c2 + 1) / 2.0 AS rg,
       |    CAST(sum(c1) OVER (ORDER BY v) - c1 AS DOUBLE)
       |      + (c1 + 1) / 2.0 AS r1,
       |    CAST(sum(c2) OVER (ORDER BY v) - c2 AS DOUBLE)
       |      + (c2 + 1) / 2.0 AS r2
       |  FROM cells
       |),
       |tot AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
       |    CAST(sum(CAST(c1 * rg AS DECIMAL(38,12))) AS DOUBLE) AS sra,
       |    CAST(sum(CAST(c2 * rg AS DECIMAL(38,12))) AS DOUBLE) AS srb
       |  FROM rk
       |),
       |dev AS (
       |  SELECT n1, n2, sra / n1 AS rb1, srb / n2 AS rb2,
       |    CAST(sum(CAST(c1 * (rg - r1 - sra / n1 + (n1 + 1) / 2.0)
       |      * (rg - r1 - sra / n1 + (n1 + 1) / 2.0) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS ss1,
       |    CAST(sum(CAST(c2 * (rg - r2 - srb / n2 + (n2 + 1) / 2.0)
       |      * (rg - r2 - srb / n2 + (n2 + 1) / 2.0) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS ss2
       |  FROM rk, tot GROUP BY n1, n2, rb1, rb2
       |)
       |SELECT n1, n2,
       |  ${NumFns.roundPortableSql("rb1", 6)} AS rbar_a,
       |  ${NumFns.roundPortableSql("rb2", 6)} AS rbar_b,
       |  ${NumFns.roundPortableSql(
            "n1 * n2 * (rb2 - rb1) / ((n1 + n2) * " +
            "sqrt(n1 * (ss1 / (n1 - 1)) + n2 * (ss2 / (n2 - 1))))",
            6)} AS bm_stat
       |FROM dev""".stripMargin

  // ----------------------------------------------------------- Bartlett

  /** Bartlett's variance-homogeneity test across sources on document
    * length — the PARAMETRIC sibling of [[Profiling.qLevene]]'s
    * Brown–Forsythe: sharper under near-normality, and the classical
    * precondition certificate for the suite's pooled-variance consumers
    * (ANOVA, Cohen's d). T = [(N−k)·ln S²_p − Σ(n_j−1)·ln S²_j] / C with
    * the standard small-sample correction C. Shape: one corpus scan →
    * ≤|sources| cells of exact integer (n, Σx, Σx²) → one-row
    * reduction; ln over per-group doubles derived from exact integers,
    * the cross-group sums DECIMAL.
    */
  def qBartlett(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nj"),
        sum(col("n_chars").cast(Dec0)).as("sx"),
        sum((col("n_chars") * col("n_chars")).cast(Dec0)).as("sxx"))
      .withColumn("s2",
        (col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / col("nj"))
          / (col("nj") - 1))
    val m = g.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
      sum(((col("nj") - 1) * col("s2")).cast(Dec12)).as("pooled_ss"),
      sum(((col("nj") - 1) * log(col("s2"))).cast(Dec12)).as("slog"),
      sum((lit(1.0) / (col("nj") - 1)).cast(Dec12)).as("sinv"))
    m.select(col("k"), col("n"),
      NumFns.roundPortable(
        ((col("n") - col("k"))
          * log(col("pooled_ss").cast("double") / (col("n") - col("k")))
          - col("slog").cast("double"))
          / (lit(1.0) + (col("sinv").cast("double")
            - lit(1.0) / (col("n") - col("k"))) / (lit(3.0) * (col("k") - 1))),
        6).as("bartlett_stat"))
      .select(col("k").as("n_sources"), col("n").as("n_docs"),
        col("bartlett_stat"))
  }

  val qBartlettOracle: String =
    s"""WITH g AS (
       |  SELECT source, count(*) AS nj,
       |    (CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE)
       |      - CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE)
       |        * CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE) / count(*))
       |      / (count(*) - 1) AS s2
       |  FROM documents GROUP BY source
       |),
       |m AS (
       |  SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n,
       |    CAST(sum(CAST((nj - 1) * s2 AS DECIMAL(38,12))) AS DOUBLE)
       |      AS pooled_ss,
       |    CAST(sum(CAST((nj - 1) * ln(s2) AS DECIMAL(38,12))) AS DOUBLE)
       |      AS slog,
       |    CAST(sum(CAST(1.0 / (nj - 1) AS DECIMAL(38,12))) AS DOUBLE)
       |      AS sinv
       |  FROM g
       |)
       |SELECT k AS n_sources, n AS n_docs,
       |  ${NumFns.roundPortableSql(
            "((n - k) * ln(pooled_ss / (n - k)) - slog) / " +
            "(1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1)))",
            6)} AS bartlett_stat
       |FROM m""".stripMargin

  // --------------------------------------------------------------- KPSS

  /** Bartlett-kernel truncation lag for [[qKpss]] — Schwert's
    * ⌊4(n/100)^¼⌋ at the suite's ~2,500-day calendar (the DAY domain is
    * sf-invariant: more data densifies days, it doesn't add them), fixed
    * so both engines test the identical statistic.
    */
  val KpssLag = 8

  /** Lineitem revenue per ship day in integer cents, `(day, y)`, the
    * day spelled by `day`.
    */
  private def shipCents(s: SparkSession, dir: String, day: Column): DataFrame =
    Tables.lineitem(s, dir).groupBy(day)
      .agg(sum(NumFns.roundAwayLong(col("l_extendedprice") * 100)).as("y"))

  /** SQL twin of [[shipCents]]: the body of a CTE. */
  private def shipCentsSql(day: String): String =
    s"""SELECT $day,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM lineitem GROUP BY 1""".stripMargin

  /** KPSS level-stationarity test on daily revenue — the
    * REVERSED-null complement of [[Temporal.qDickeyFuller]]: DF's null
    * is a unit root, KPSS's null is stationarity, and the textbook
    * practice is to run both (agreement ⇒ confidence, disagreement ⇒
    * fractional/near-integration). η = n⁻²ΣS_t²/σ̂²_lr with partial sums
    * S_t of the demeaned series and a Bartlett-weighted long-run
    * variance at lag [[KpssLag]]. Engine: daily revenue in exact cents;
    * S_t = (n·Y_t − t·ΣY)/n is kept as its exact DECIMAL numerator
    * (running integer sums over the bounded day domain) and rounded
    * portably to integer cents before squaring (see inline note on the
    * DECIMAL headroom this buys); the autocovariances are
    * exact integer products summed as DECIMAL. All windows order the
    * ≤|days| calendar frame.
    */
  def qKpss(s: SparkSession, dir: String): DataFrame = {
    val days = shipCents(s, dir,
      datediff(to_date(col("l_shipdate")), lit("1992-01-01")).as("di"))
    val w = Window.orderBy(col("di"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lagged = (1 to KpssLag).foldLeft(
      days.withColumn("t", row_number().over(w))
        .withColumn("cy", sum(col("y").cast(Dec0)).over(wc))) {
      (df, j) => df.withColumn(s"y$j", lag(col("y"), j).over(w))
    }
    val tot = lagged.agg(count(lit(1)).as("n"), sum(col("y").cast(Dec0)).as("sy"))
    val j = lagged.crossJoin(broadcast(tot))
      // exact numerator of n·S_t: n·Y_t − t·ΣY  (DECIMAL, no rounding);
      // ΣS² is then accumulated intensively as Σ roundAway(snum/n)² —
      // the q_chow_test lesson applied pre-aggregation: Σsnum² at sf1
      // sits at ~1e37 with <1 decade of DECIMAL(38,0) headroom
      // (overflow→NULL at sf10), while Σ round(S_t)² ~1e28 survives past
      // sf1000. The division runs in double (exact-int→double cast, ÷n —
      // identical IEEE on both engines), [[NumFns.roundAwayLong]] is the
      // portable binary rounding, and the square of the rounded long is
      // exact DECIMAL again; quantizing S_t (~1e12 cents) to integers
      // perturbs η at the 1e-13 relative level, 7 orders below the
      // emitted 6-decimal rounding.
      .withColumn("snum", col("cy") * col("n") - col("sy") * col("t"))
      .withColumn("snl",
        NumFns.roundAwayLong(col("snum").cast("double") / col("n")).cast(Dec0))
    val gammas = (0 to KpssLag).map { jj =>
      val yj = if (jj == 0) col("y") else col(s"y$jj")
      // exact numerator of n²·e_t·e_{t−j}: (n·y_t − ΣY)(n·y_{t−j} − ΣY)
      sum(when(yj.isNotNull,
        (col("y") * col("n") - col("sy")) * (yj * col("n") - col("sy")))
        .otherwise(lit(0).cast(Dec0))).as(s"g$jj")
    }
    val agg = j.groupBy(col("n"))
      .agg(sum(col("snl") * col("snl")).as("ss2"), gammas: _*)
    // σ²_lr·n³ in exact units: γ0n + 2Σ w_j γ_jn with w_j = 1 − j/(l+1)
    val lrn = (1 to KpssLag).foldLeft(col("g0").cast("double")) { (acc, jj) =>
      acc + (lit(2.0 * (1.0 - jj.toDouble / (KpssLag + 1)))
        * col(s"g$jj").cast("double"))
    }
    agg.select(col("n").as("n_days"), lit(KpssLag.toLong).as("lag"),
        // η = (ΣS²/n²)/σ̂² = (ΣS²/n²) / (Σγnum/n³) = n·ΣS² / Σγnum
        NumFns.roundPortable(
          col("ss2").cast("double") * col("n") / lrn, 6).as("kpss_eta"))
      .withColumn("level_stationary", col("kpss_eta") <= 0.463)
  }

  val qKpssOracle: String = {
    val lagCols = (1 to KpssLag)
      .map(j => s"lag(y, $j) OVER (ORDER BY di) AS y$j").mkString(",\n    ")
    val gammaCols = (0 to KpssLag).map { j =>
      val yj = if (j == 0) "y" else s"y$j"
      s"""sum(CASE WHEN $yj IS NOT NULL
         |      THEN (CAST(y AS HUGEINT) * n - sy)
         |        * (CAST($yj AS HUGEINT) * n - sy) ELSE 0 END) AS g$j"""
        .stripMargin
    }.mkString(",\n    ")
    val lr = (1 to KpssLag).foldLeft("CAST(g0 AS DOUBLE)") { (acc, j) =>
      s"$acc + ${2.0 * (1.0 - j.toDouble / (KpssLag + 1))} * CAST(g$j AS DOUBLE)"
    }
    s"""WITH days AS (
       |  ${shipCentsSql("date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS di")}
       |),
       |lagged AS (
       |  SELECT di, y, row_number() OVER (ORDER BY di) AS t,
       |    sum(CAST(y AS HUGEINT)) OVER (ORDER BY di) AS cy,
       |    $lagCols
       |  FROM days
       |),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy
       |  FROM days
       |),
       |agg AS (
       |  SELECT n,
       |    sum(CAST(round(CAST(cy * n - sy * t AS DOUBLE) / n) AS HUGEINT)
       |      * CAST(round(CAST(cy * n - sy * t AS DOUBLE) / n) AS HUGEINT))
       |      AS ss2,
       |    $gammaCols
       |  FROM lagged, tot GROUP BY n
       |)
       |SELECT n AS n_days, CAST($KpssLag AS BIGINT) AS lag,
       |  ${NumFns.roundPortableSql(
            s"CAST(ss2 AS DOUBLE) * n / ($lr)", 6)} AS kpss_eta,
       |  ${NumFns.roundPortableSql(
            s"CAST(ss2 AS DOUBLE) * n / ($lr)", 6)} <= 0.463
       |    AS level_stationary
       |FROM agg""".stripMargin
  }

  // ---------------------------------------------------------- Cox–Stuart

  /** Cox–Stuart sign test for monotone trend in daily order counts —
    * the assumption-free trend gate beside [[Temporal.qMannKendall]]
    * (O(n) instead of MK's O(n²) pair space, and valid under any
    * marginal distribution): pair day i with day i+⌈n/2⌉, count rises
    * vs falls, normal-approximate the binomial. Engine: the pairing is
    * one self-join of the ≤|days| calendar frame on a row-number
    * offset; everything after is integer counting and one portable
    * normal p. The z tiebreak and verdict derive from integers, so
    * cross-engine ordering never touches the p-value.
    */
  def qCoxStuart(s: SparkSession, dir: String): DataFrame = {
    val days = Temporal.orderDates(s, dir, count(lit(1)).as("c"))
    val w = Window.orderBy(col("d"))
    val rn = days.withColumn("t", row_number().over(w)).localCheckpoint()
    val tot = rn.agg(count(lit(1)).as("n"))
    val m = rn.crossJoin(broadcast(tot))
      .withColumn("m", floor((col("n") + 1) / lit(2)).cast("long"))
    val paired = m.alias("a")
      .join(m.alias("b"),
        col("a.t") + col("a.m") === col("b.t"))
      .select(col("a.n").as("n"),
        (col("b.c") > col("a.c")).as("pos"),
        (col("b.c") < col("a.c")).as("neg"))
    paired.groupBy(col("n"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("neg"), 1L).otherwise(0L)).as("n_neg"))
      .withColumn("nt", col("n_pos") + col("n_neg"))
      .select(col("n").as("n_days"), col("n_pairs"), col("n_pos"),
        col("n_neg"),
        NumFns.roundPortable(
          (col("n_pos") - col("nt").cast("double") / 2)
            / sqrt(col("nt").cast("double") / 4), 6).as("z"),
        NumFns.roundPortable(NumFns.normTwoSidedP(
          (col("n_pos") - col("nt").cast("double") / 2)
            / sqrt(col("nt").cast("double") / 4)), 6).as("p_value"))
  }

  val qCoxStuartOracle: String = {
    val z = "(n_pos - nt / 2.0) / sqrt(nt / 4.0)"
    s"""WITH days AS (${Temporal.orderDatesSql("count(*) AS c")}),
       |rn AS (
       |  SELECT d, c, row_number() OVER (ORDER BY d) AS t FROM days
       |),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rn),
       |m AS (SELECT rn.*, n, (n + 1) // 2 AS m FROM rn, tot),
       |paired AS (
       |  SELECT a.n, (b.c > a.c) AS pos, (b.c < a.c) AS neg
       |  FROM m a JOIN m b ON a.t + a.m = b.t
       |),
       |agg AS (
       |  SELECT n, count(*) AS n_pairs,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(sum(CASE WHEN neg THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
       |  FROM paired GROUP BY n
       |)
       |SELECT n AS n_days, n_pairs, n_pos, n_neg,
       |  ${NumFns.roundPortableSql(z.replace("nt", "(n_pos + n_neg)"), 6)}
       |    AS z,
       |  ${NumFns.roundPortableSql(
            NumFns.normTwoSidedPSql(z.replace("nt", "(n_pos + n_neg)")), 6)}
       |    AS p_value
       |FROM agg""".stripMargin
  }

  // -------------------------------------------------------- Weibull fit

  /** Weibull fit of customer inter-order intervals by the method of
    * moments on log-durations: if T ~ Weibull(k, λ) then ln T is a
    * (reversed) Gumbel with Var = π²/(6k²) and mean = ln λ − γ/k, so
    * k̂ = π/(σ̂·√6) and λ̂ = exp(m̂ + γ/k̂) — the shape parameter is THE
    * reorder-behavior diagnostic (k<1 ⇒ churn-like bursts then silence,
    * k>1 ⇒ rhythmic replenishment) feeding inventory and CRM timing.
    * Closed-form and one-pass where the MLE needs iteration. Shape:
    * intervals from a customer-partitioned lag (entity-partitioned
    * window — never partitionless), then ONE moment aggregate; ln over
    * integer day gaps, sums DECIMAL.
    */
  def qWeibullFit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val gaps = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"))
      .withColumn("gap",
        datediff(to_date(col("o_orderdate")),
          to_date(lag(col("o_orderdate"), 1).over(w))))
      .filter(col("gap") >= 1)
      .select(col("gap"), log(col("gap").cast("double")).as("l"))
    val m = gaps.agg(count(lit(1)).as("n"),
        sum(col("gap").cast(Dec0)).as("sg"),
        sum(col("l").cast(Dec12)).as("sl"),
        sum((col("l") * col("l")).cast(Dec12)).as("sll"))
      .select(col("n").cast("double").as("n"),
        col("sg").cast("double").as("sg"),
        col("sl").cast("double").as("sl"),
        col("sll").cast("double").as("sll"))
    val mean = col("sl") / col("n")
    val sd = sqrt((col("sll") - col("n") * mean * mean) / (col("n") - 1))
    val k = lit(math.Pi) / (sd * sqrt(lit(6.0)))
    m.select(col("n").cast("long").as("n_gaps"),
      NumFns.roundPortable(col("sg") / col("n"), 6).as("mean_gap_days"),
      NumFns.roundPortable(k, 6).as("shape_k"),
      NumFns.roundPortable(
        exp(mean + lit(0.5772156649015329) / k), 6).as("scale_lambda"))
  }

  val qWeibullFitOracle: String =
    s"""WITH gaps AS (
       |  SELECT date_diff('day',
       |      CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
       |        ORDER BY o_orderdate) AS DATE),
       |      CAST(o_orderdate AS DATE)) AS gap
       |  FROM orders
       |),
       |g AS (
       |  SELECT gap, ln(CAST(gap AS DOUBLE)) AS l FROM gaps WHERE gap >= 1
       |),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(gap AS HUGEINT)) AS DOUBLE) AS sg,
       |    CAST(sum(CAST(l AS DECIMAL(38,12))) AS DOUBLE) AS sl,
       |    CAST(sum(CAST(l * l AS DECIMAL(38,12))) AS DOUBLE) AS sll
       |  FROM g
       |),
       |c AS (
       |  SELECT n, sg, sl / n AS mean,
       |    ${math.Pi} / (sqrt((sll - n * (sl / n) * (sl / n)) / (n - 1))
       |      * sqrt(6.0)) AS k
       |  FROM m
       |)
       |SELECT CAST(n AS BIGINT) AS n_gaps,
       |  ${NumFns.roundPortableSql("sg / n", 6)} AS mean_gap_days,
       |  ${NumFns.roundPortableSql("k", 6)} AS shape_k,
       |  ${NumFns.roundPortableSql(
            "exp(mean + 0.5772156649015329 / k)", 6)} AS scale_lambda
       |FROM c""".stripMargin

  // --------------------------------------------------------- Gumbel fit

  /** Return period (months) for [[qGumbelFit]]'s return level. */
  val GumbelT = 12

  /** Gumbel fit of monthly-maximum daily revenue by the method of
    * moments (block-maxima EVT — the classical complement of
    * [[Temporal.qPotGpd]]'s peaks-over-threshold view): β̂ = σ√6/π,
    * μ̂ = m − γβ̂, and the T-month return level μ̂ − β̂·ln(−ln(1−1/T)) —
    * "what daily revenue should we provision for once a year?".
    * Engine: daily cents are exact integer sums; block maxima are
    * integer maxes over the ≤|months| calendar domain; ONE moment
    * aggregate ends the plan. Identical literal constants (π, γ) on
    * both engines.
    */
  def qGumbelFit(s: SparkSession, dir: String): DataFrame = {
    val days = shipCents(s, dir, to_date(col("l_shipdate")).as("d"))
    val blocks = days.groupBy(trunc(col("d"), "month").as("mo"))
      .agg(max(col("y")).as("bm"))
    val m = blocks.agg(count(lit(1)).as("nb"),
        sum(col("bm").cast(Dec0)).as("sb"),
        sum((col("bm").cast("double") * col("bm")).cast(Dec12)).as("sbb"))
      .select(col("nb").cast("double").as("nb"),
        col("sb").cast("double").as("sb"), col("sbb").cast("double").as("sbb"))
    val mean = col("sb") / col("nb")
    val sd = sqrt((col("sbb") - col("nb") * mean * mean) / (col("nb") - 1))
    val beta = sd * sqrt(lit(6.0)) / lit(math.Pi)
    val mu = mean - lit(0.5772156649015329) * beta
    m.select(col("nb").cast("long").as("n_blocks"),
      NumFns.roundPortable(mu / 100, 4).as("gumbel_mu"),
      NumFns.roundPortable(beta / 100, 4).as("gumbel_beta"),
      NumFns.roundPortable(
        (mu - beta * log(-log(lit(1.0) - lit(1.0) / GumbelT))) / 100, 4)
        .as(s"return_level_$GumbelT"))
  }

  val qGumbelFitOracle: String =
    s"""WITH days AS (${shipCentsSql("CAST(l_shipdate AS DATE) AS d")}),
       |blocks AS (
       |  SELECT date_trunc('month', d) AS mo, max(y) AS bm FROM days
       |  GROUP BY 1
       |),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS nb,
       |    CAST(sum(CAST(bm AS HUGEINT)) AS DOUBLE) AS sb,
       |    CAST(sum(CAST(CAST(bm AS DOUBLE) * bm AS DECIMAL(38,12)))
       |      AS DOUBLE) AS sbb
       |  FROM blocks
       |),
       |c AS (
       |  SELECT nb, sb / nb AS mean,
       |    sqrt((sbb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) * sqrt(6.0)
       |      / ${math.Pi} AS beta
       |  FROM m
       |)
       |SELECT CAST(nb AS BIGINT) AS n_blocks,
       |  ${NumFns.roundPortableSql(
            "(mean - 0.5772156649015329 * beta) / 100", 4)} AS gumbel_mu,
       |  ${NumFns.roundPortableSql("beta / 100", 4)} AS gumbel_beta,
       |  ${NumFns.roundPortableSql(
            "(mean - 0.5772156649015329 * beta - beta * " +
            s"ln(-ln(1.0 - 1.0 / $GumbelT))) / 100", 4)}
       |    AS return_level_$GumbelT
       |FROM c""".stripMargin

  // -------------------------------------------------------- t-closeness

  /** Account-balance band width for the ordered sensitive attribute. */
  val TCloseBand = 2000.0

  /** t-closeness threshold flagged in the per-segment rollup. */
  val TCloseT = 0.25

  /** t-closeness audit of the customer table — the distribution-aware
    * step past [[Profiling.qKAnonymity]]'s k/l counts: an equivalence
    * class can be k-anonymous AND l-diverse yet still leak ("this
    * nation-segment is overwhelmingly top-band"), so t-closeness bounds
    * the ordered-EMD between each class's sensitive distribution and
    * the global one: t = Σ|cum(P−Q)|/(m−1) over the m balance bands.
    * Engine: counts per (segment, nation, band) and global per band;
    * the class×band grid is completed by a ≤|classes|×|bands| cross
    * join of two broadcast-sized frames, cum runs partitioned BY CLASS
    * over the band order, and the rollup is per segment. Exact rational
    * shares; one scan of customer.
    */
  def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(
      col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
      floor(col("c_acctbal") / TCloseBand).cast("long").as("band"))
    val cls = cust.groupBy(col("seg"), col("nat"), col("band"))
      .agg(count(lit(1)).as("cc"))
    val glob = cls.groupBy(col("band")).agg(sum(col("cc")).as("gc"))
    val sizes = cls.groupBy(col("seg"), col("nat")).agg(sum(col("cc")).as("cn"))
    val tot = glob.agg(sum(col("gc")).as("gn"), count(lit(1)).as("m"))
    // complete class × band grid (absent cells are genuine zeros in P)
    val grid = sizes.crossJoin(broadcast(glob)).crossJoin(broadcast(tot))
      .join(cls, Seq("seg", "nat", "band"), "left")
      .withColumn("diff",
        coalesce(col("cc"), lit(0L)).cast("double") / col("cn")
          - col("gc").cast("double") / col("gn"))
    val w = Window.partitionBy(col("seg"), col("nat")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = grid.withColumn("cum", sum(col("diff").cast(Dec12)).over(w))
      .groupBy(col("seg"), col("nat"), col("m"))
      .agg(sum(abs(col("cum"))).as("sabs"))
      .withColumn("t", col("sabs").cast("double") / (col("m") - 1))
    t.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_classes"),
        NumFns.roundPortable(max(col("t")), 6).as("max_t"),
        NumFns.roundPortable(
          sum(col("t").cast(Dec12)).cast("double") / count(lit(1)), 6)
          .as("avg_t"),
        sum(when(col("t") > TCloseT, 1L).otherwise(0L)).as("n_over"))
      .select(col("seg").as("segment"), col("n_classes"), col("max_t"),
        col("avg_t"), col("n_over"))
      .orderBy(col("segment"))
  }

  val qTClosenessOracle: String =
    s"""WITH cust AS (
       |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
       |    CAST(floor(c_acctbal / $TCloseBand) AS BIGINT) AS band
       |  FROM customer
       |),
       |cls AS (
       |  SELECT seg, nat, band, count(*) AS cc FROM cust GROUP BY 1, 2, 3
       |),
       |gdist AS (
       |  SELECT band, CAST(sum(cc) AS BIGINT) AS gc FROM cls GROUP BY band
       |),
       |sizes AS (
       |  SELECT seg, nat, CAST(sum(cc) AS BIGINT) AS cn FROM cls
       |  GROUP BY seg, nat
       |),
       |tot AS (
       |  SELECT CAST(sum(gc) AS BIGINT) AS gn, count(*) AS m FROM gdist
       |),
       |grid AS (
       |  SELECT s.seg, s.nat, g.band, t.m,
       |    COALESCE(c.cc, 0) / CAST(s.cn AS DOUBLE)
       |      - g.gc / CAST(t.gn AS DOUBLE) AS diff
       |  FROM sizes s CROSS JOIN gdist g CROSS JOIN tot t
       |  LEFT JOIN cls c ON c.seg = s.seg AND c.nat = s.nat
       |    AND c.band = g.band
       |),
       |cum AS (
       |  SELECT seg, nat, m,
       |    sum(CAST(diff AS DECIMAL(38,12)))
       |      OVER (PARTITION BY seg, nat ORDER BY band) AS cum
       |  FROM grid
       |),
       |t AS (
       |  SELECT seg, nat,
       |    CAST(sum(abs(cum)) AS DOUBLE) / (m - 1) AS t
       |  FROM cum GROUP BY seg, nat, m
       |)
       |SELECT seg AS segment, count(*) AS n_classes,
       |  ${NumFns.roundPortableSql("max(t)", 6)} AS max_t,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) / count(*)",
            6)} AS avg_t,
       |  CAST(sum(CASE WHEN t > $TCloseT THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_over
       |FROM t GROUP BY seg ORDER BY segment""".stripMargin

  // ------------------------------------------------- Anderson–Darling

  /** Anderson–Darling normality test of log document length — the
    * tail-weighted EDF test (AD weights the tails where KS is blind,
    * which is exactly where length-mixture contamination shows up):
    * A² = −n − (1/n)Σ(2i−1)[lnΦ(zᵢ) + ln(1−Φ(z_{n+1−i}))], with the
    * small-sample factor (1 + 0.75/n + 2.25/n²) and the 5% critical
    * value 0.752 (Stephens 1974). Engine: n_chars is an integer, so all
    * members of a value cell share one z — both rank-weight sums
    * collapse to CLOSED-FORM integer cell weights c(2s+c) and
    * c(2n−2s−c) from cumulative counts, and the whole test runs on the
    * ≤|values| cell frame (no row ranked). Φ from the shared
    * Abramowitz–Stegun literal ([[NumFns.normTwoSidedP]]), products
    * DECIMAL-folded.
    */
  def qAndersonDarling(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("n_chars").as("v"), log(col("n_chars").cast("double")).as("x"))
    val cells = docs.groupBy(col("v"), col("x"))
      .agg(count(lit(1)).as("c"),
        sum(col("x").cast(Dec12)).as("sx"),
        sum((col("x") * col("x")).cast(Dec12)).as("sxx"))
    val tot = cells.agg(sum(col("c")).as("n"),
      sum(col("sx")).as("sxt"), sum(col("sxx")).as("sxxt"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = cells.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("mu", col("sxt").cast("double") / col("n"))
      .withColumn("sd", sqrt(
        (col("sxxt").cast("double")
          - col("sxt").cast("double") * col("sxt").cast("double") / col("n"))
          / (col("n") - 1)))
      .withColumn("zv", (col("x") - col("mu")) / col("sd"))
      .withColumn("p", NumFns.normTwoSidedP(col("zv")))
      // clamp Φ away from {0, 1}: past |z|≈8.3 the A&S tail saturates to
      // exactly 1.0 and log(1−Φ) would hit log(0) — Spark's log returns
      // NULL (term silently dropped, A² understated) while the oracle's
      // ln(0) errors loudly. The identical clamp on both engines keeps
      // the divergence class closed on heavier-tailed data; it is the
      // identity on every |z| the current gates produce.
      .withColumn("phi", least(greatest(
        when(col("zv") >= 0, lit(1.0) - col("p") / 2).otherwise(col("p") / 2),
        lit(1e-300)), lit(1.0) - lit(1e-16)))
      .withColumn("s0", col("cum") - col("c"))
    val terms = z.select(col("n"),
      // Σ_{i∈cell}(2i−1) = c(2s+c) on lnΦ(z); the reversed-rank weight
      // Σ(2(n+1−i)−1) = c(2n−2s−c) on ln(1−Φ(z))
      ((col("c") * (lit(2) * col("s0") + col("c"))).cast("double")
        * log(col("phi"))).as("t1"),
      ((col("c") * (lit(2) * col("n") - lit(2) * col("s0") - col("c")))
        .cast("double") * log(lit(1.0) - col("phi"))).as("t2"))
    terms.groupBy(col("n"))
      .agg(sum(col("t1").cast(Dec12)).as("s1"), sum(col("t2").cast(Dec12)).as("s2"))
      .withColumn("a2",
        -col("n").cast("double")
          - (col("s1").cast("double") + col("s2").cast("double")) / col("n"))
      .withColumn("a2_star", col("a2")
        * (lit(1.0) + lit(0.75) / col("n") + lit(2.25) / (col("n") * col("n"))))
      .select(col("n").as("n_docs"),
        NumFns.roundPortable(col("a2"), 6).as("ad_stat"),
        NumFns.roundPortable(col("a2_star"), 6).as("ad_stat_adj"),
        (NumFns.roundPortable(col("a2_star"), 6) > 0.752).as("reject_normal"))
  }

  val qAndersonDarlingOracle: String = {
    // same Φ clamp as the engine side (see qAndersonDarling): identity on
    // the gated data, closes the log(0) silent-vs-loud divergence class.
    val phi = "least(greatest(" +
      "(CASE WHEN zv >= 0 THEN 1.0 - p / 2 ELSE p / 2 END)" +
      ", 1e-300), 1.0 - 1e-16)"
    s"""WITH d AS (
       |  SELECT n_chars AS v, ln(CAST(n_chars AS DOUBLE)) AS x FROM documents
       |),
       |cells AS (
       |  SELECT v, x, count(*) AS c,
       |    sum(CAST(x AS DECIMAL(38,12))) AS sx,
       |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx
       |  FROM d GROUP BY v, x
       |),
       |tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(sx) AS DOUBLE) AS sxt, CAST(sum(sxx) AS DOUBLE) AS sxxt
       |  FROM cells
       |),
       |z AS (
       |  SELECT c, n,
       |    sum(c) OVER (ORDER BY v) - c AS s0,
       |    (x - sxt / n)
       |      / sqrt((sxxt - sxt * sxt / n) / (n - 1)) AS zv
       |  FROM cells, tot
       |),
       |pz AS (
       |  SELECT c, n, s0, zv,
       |    ${NumFns.normTwoSidedPSql("zv")} AS p
       |  FROM z
       |),
       |terms AS (
       |  SELECT n,
       |    CAST(c * (2 * s0 + c) AS DOUBLE) * ln($phi) AS t1,
       |    CAST(c * (2 * n - 2 * s0 - c) AS DOUBLE) * ln(1.0 - $phi) AS t2
       |  FROM pz
       |),
       |agg AS (
       |  SELECT n,
       |    -CAST(n AS DOUBLE)
       |      - (CAST(sum(CAST(t1 AS DECIMAL(38,12))) AS DOUBLE)
       |        + CAST(sum(CAST(t2 AS DECIMAL(38,12))) AS DOUBLE)) / n AS a2
       |  FROM terms GROUP BY n
       |),
       |f AS (
       |  SELECT n, a2,
       |    a2 * (1.0 + 0.75 / n + 2.25 / (n * n)) AS a2s
       |  FROM agg
       |)
       |SELECT n AS n_docs,
       |  ${NumFns.roundPortableSql("a2", 6)} AS ad_stat,
       |  ${NumFns.roundPortableSql("a2s", 6)} AS ad_stat_adj,
       |  ${NumFns.roundPortableSql("a2s", 6)} > 0.752 AS reject_normal
       |FROM f""".stripMargin
  }

  // ------------------------------------------------- Hodges–Lehmann

  /** Hodges–Lehmann shift estimator between the [[BmSourceA]] and
    * [[BmSourceB]] document-length samples — the robust EFFECT SIZE
    * companion to [[qBrunnerMunzel]]'s test: the median of ALL n_a·n_b
    * pairwise differences (the estimator behind the Mann–Whitney CI),
    * 50% breakdown where the mean difference has none. Engine: the
    * pair space never materializes per-row — both samples collapse to
    * integer value cells first, the difference distribution is the
    * ≤|V|² convolution of the two cell frames with integer weights
    * c_a·c_b, and the weighted LOWER median is rank-picked from the
    * cumulative weight (exact integers end to end, zero doubles until
    * the emitted column). |V| is bounded by the value domain, not by
    * rows, so the convolution is sf-invariant.
    */
  def qHodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    val docs = twoSourceLengths(s, dir)
    val ca = docs.filter(!col("isB")).groupBy(col("v").as("va"))
      .agg(count(lit(1)).as("ca"))
    val cb = docs.filter(col("isB")).groupBy(col("v").as("vb"))
      .agg(count(lit(1)).as("cb"))
    val diff = cb.crossJoin(ca)
      .groupBy((col("vb") - col("va")).as("d"))
      .agg(sum(col("cb") * col("ca")).as("w"))
    val win = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = diff.withColumn("cw", sum(col("w")).over(win))
      .crossJoin(broadcast(diff.agg(sum(col("w")).as("tw"))))
    cum.filter(col("cw") * 2 >= col("tw"))
      .agg(min(col("d")).as("hl_shift"), max(col("tw")).as("n_pairs"))
      .select(col("n_pairs"), col("hl_shift"))
  }

  val qHodgesLehmannOracle: String =
    s"""WITH $twoSourceLengthsSql,
       |ca AS (
       |  SELECT v AS va, count(*) AS ca FROM d WHERE NOT isB GROUP BY v
       |),
       |cb AS (
       |  SELECT v AS vb, count(*) AS cb FROM d WHERE isB GROUP BY v
       |),
       |diff AS (
       |  SELECT vb - va AS d, CAST(sum(cb * ca) AS BIGINT) AS w
       |  FROM cb CROSS JOIN ca GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM diff),
       |cum AS (
       |  SELECT d, sum(w) OVER (ORDER BY d) AS cw, tw FROM diff, tot
       |)
       |SELECT max(tw) AS n_pairs, min(d) AS hl_shift
       |FROM cum WHERE cw * 2 >= tw""".stripMargin

  // --------------------------------------------- Jonckheere–Terpstra

  /** Jonckheere–Terpstra ordered-alternative test: does order value
    * (price band) trend UPWARD across the ordered priority classes? The
    * k-sample test with the ordering BUILT IN — Kruskal–Wallis asks
    * "any difference", JT asks "monotone in the given group order" and
    * buys its power from that (the complement of [[Temporal]]'s Page L,
    * which needs blocks). J = Σ_{g<h} [#(x_g<x_h) + ½#(x_g=x_h)] over
    * all between-group pairs, normal-approximated with the standard
    * tie-corrected variance (Hollander–Wolfe). Engine: observations
    * collapse to the ≤|bands|×k grid (price quantized to 1k-bands), so
    * the pair "space" is a 10-pair-of-groups × grid join, never a row
    * pair; 2J stays an exact integer (2·c_h·below_g + c_h·c_g); the
    * variance terms are single double products of exact integer
    * aggregates in one literal order. z ranks by exact integers; p is
    * the shared portable normal.
    */
  def qJonckheere(s: SparkSession, dir: String): DataFrame = {
    // the ordered alternative needs an EXPLICIT group rank: priorities
    // are ranked by the integer prefix before '-' ('1-URGENT' → 1), not
    // by accidental lexicographic order of the full string — on the
    // TPC-H domain the two coincide, but a priority domain without
    // sortable digit prefixes would silently invert the trend.
    val cells = Tables.orders(s, dir)
      .groupBy(substring_index(col("o_orderpriority"), "-", 1)
          .cast("int").as("g"),
        floor(col("o_totalprice") / 1000.0).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bands = cells.select(col("v")).distinct()
    val grps = cells.select(col("g")).distinct()
    val grid = grps.crossJoin(bands)
      .join(cells, Seq("g", "v"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
    val wcum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("below", sum(col("c0")).over(wcum) - col("c0"))
      .localCheckpoint()
    val j2 = cum.select(col("g").as("gl"), col("v"),
        col("c0").as("cg"), col("below").as("belowg"))
      .join(cum.select(col("g").as("gh"), col("v"), col("c0").as("ch")),
        Seq("v"))
      .filter(col("gl") < col("gh"))
      .agg(sum(lit(2L) * col("ch") * col("belowg")
        + col("ch") * col("cg")).as("j2"))
    val gm = cells.groupBy(col("g")).agg(sum(col("c")).as("ni"))
      .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
        sum(col("ni") * col("ni")).as("sn2"),
        sum(col("ni").cast("double") * (col("ni") - 1) * (col("ni") * 2 + 5))
          .as("sn25"),
        sum(col("ni").cast("double") * (col("ni") - 1) * (col("ni") - 2))
          .as("sn3"),
        sum(col("ni").cast("double") * (col("ni") - 1)).as("snn"))
    val tm = cells.groupBy(col("v")).agg(sum(col("c")).as("tj"))
      .agg(sum(col("tj").cast("double") * (col("tj") - 1) * (col("tj") * 2 + 5))
          .as("st25"),
        sum(col("tj").cast("double") * (col("tj") - 1) * (col("tj") - 2))
          .as("st3"),
        sum(col("tj").cast("double") * (col("tj") - 1)).as("stt"))
    val m = j2.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("j", col("j2").cast("double") / 2)
      .withColumn("ej",
        (col("nd") * col("nd") - col("sn2").cast("double")) / 4)
      .withColumn("varj",
        (col("nd") * (col("nd") - 1) * (col("nd") * 2 + 5)
          - col("sn25") - col("st25")) / 72
          + col("sn3") * col("st3")
            / (col("nd") * 36 * (col("nd") - 1) * (col("nd") - 2))
          + col("snn") * col("stt") / (col("nd") * 8 * (col("nd") - 1)))
      .withColumn("z", (col("j") - col("ej")) / sqrt(col("varj")))
    m.select(col("n").as("n_orders"), col("k").as("n_groups"),
      NumFns.roundPortable(col("j"), 1).as("jt_stat"),
      NumFns.roundPortable(col("ej"), 1).as("jt_mean"),
      NumFns.roundPortable(col("z"), 6).as("z"),
      NumFns.roundPortable(NumFns.normTwoSidedP(col("z")), 6).as("p_value"))
  }

  val qJonckheereOracle: String = {
    val varj =
      "(nd * (nd - 1) * (2 * nd + 5) - sn25 - st25) / 72" +
      " + sn3 * st3 / (36 * nd * (nd - 1) * (nd - 2))" +
      " + snn * stt / (8 * nd * (nd - 1))"
    val z = s"((j2 / 2 - (nd * nd - sn2) / 4) / sqrt($varj))"
    s"""WITH cells AS (
       |  SELECT CAST(split_part(o_orderpriority, '-', 1) AS INT) AS g,
       |    CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS v,
       |    count(*) AS c
       |  FROM orders GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT gg.g, bb.v, COALESCE(c.c, 0) AS c0
       |  FROM (SELECT DISTINCT g FROM cells) gg
       |  CROSS JOIN (SELECT DISTINCT v FROM cells) bb
       |  LEFT JOIN cells c ON c.g = gg.g AND c.v = bb.v
       |),
       |cum AS (
       |  SELECT g, v, c0,
       |    sum(c0) OVER (PARTITION BY g ORDER BY v) - c0 AS below
       |  FROM grid
       |),
       |j AS (
       |  SELECT CAST(sum(2 * h.c0 * l.below + h.c0 * l.c0) AS DOUBLE) AS j2
       |  FROM cum l JOIN cum h ON l.v = h.v AND l.g < h.g
       |),
       |gm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(ni) AS BIGINT) AS n,
       |    CAST(sum(ni * ni) AS DOUBLE) AS sn2,
       |    sum(CAST(ni AS DOUBLE) * (ni - 1) * (2 * ni + 5)) AS sn25,
       |    sum(CAST(ni AS DOUBLE) * (ni - 1) * (ni - 2)) AS sn3,
       |    sum(CAST(ni AS DOUBLE) * (ni - 1)) AS snn
       |  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS ni FROM cells GROUP BY g)
       |),
       |tm AS (
       |  SELECT
       |    sum(CAST(tj AS DOUBLE) * (tj - 1) * (2 * tj + 5)) AS st25,
       |    sum(CAST(tj AS DOUBLE) * (tj - 1) * (tj - 2)) AS st3,
       |    sum(CAST(tj AS DOUBLE) * (tj - 1)) AS stt
       |  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS tj FROM cells GROUP BY v)
       |),
       |m AS (
       |  SELECT n, k, j2, CAST(n AS DOUBLE) AS nd, sn2, sn25, sn3, snn,
       |    st25, st3, stt
       |  FROM j, gm, tm
       |)
       |SELECT n AS n_orders, k AS n_groups,
       |  ${NumFns.roundPortableSql("j2 / 2", 1)} AS jt_stat,
       |  ${NumFns.roundPortableSql("(nd * nd - sn2) / 4", 1)} AS jt_mean,
       |  ${NumFns.roundPortableSql(z, 6)} AS z,
       |  ${NumFns.roundPortableSql(NumFns.normTwoSidedPSql(z), 6)} AS p_value
       |FROM m""".stripMargin
  }

  // ------------------------------------------------ Fligner–Killeen

  /** Newton refinement steps for the portable normal quantile. */
  val FkNewtonSteps = 5

  /** χ² critical value at α = 0.05, df = 19 (20 sources − 1) — the
    * same literal [[Profiling.MoodsCrit19]] gates Mood's test with.
    */
  val FkCrit19 = 30.14352720564616

  /** Normal scores over the pooled midranks of value cells `(source, u,
    * c)`, shared by [[qFlignerKilleen]] and [[qVanDerWaerden]], which
    * differ only in the score's probability `p` (a function of the
    * midrank `r` and the pooled count `n`). Ties share one midrank, so
    * each value cell gets ONE score: a value-domain window gives the
    * midranks, and Φ⁻¹(p) is the A&S start + [[FkNewtonSteps]] Newton
    * steps against the engine-shared CDF literal, as STEPWISE named
    * columns (z0..z5 — nesting the CDF would expand the literal
    * exponentially). Returns `(u, a, n)`, checkpointed: callers feed it
    * to both a per-group and a global aggregate, which would otherwise
    * plan and run the Newton pipeline twice.
    */
  def normalScores(cells: DataFrame, p: Column): DataFrame = {
    val uc = cells.groupBy(col("u")).agg(sum(col("c")).as("cu"))
      .withColumn("cum", sum(col("cu")).over(Window.orderBy(col("u"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("r", (col("cum") - col("cu")).cast("double")
        + (col("cu") + 1).cast("double") / 2)
    val tot = uc.agg(sum(col("cu")).as("n"))
    val scored0 = uc.crossJoin(broadcast(tot))
      .withColumn("p", p)
      .withColumn("z0", NumFns.normQuantileStart(col("p")))
    (1 to FkNewtonSteps).foldLeft(scored0) { (df, i) =>
      df.withColumn(s"z$i",
        NumFns.normQuantileStep(col(s"z${i - 1}"), col("p")))
    }.withColumn("a", col(s"z$FkNewtonSteps"))
      .select(col("u"), col("a"), col("n"))
      .localCheckpoint()
  }

  /** SQL twin of [[normalScores]]: CTEs over `cells(source, u, c)`
    * ending in `sc(u, a, n)`; `p` is spelled over `r` and `n`.
    */
  def normalScoresSql(p: String): String = {
    val newton = (1 to FkNewtonSteps).map { i =>
      s"""nz$i AS (
         |  SELECT u, p, n, ${NumFns.normQuantileStepSql(s"z${i - 1}", "p")}
         |    AS z$i
         |  FROM nz${i - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""uc AS (
       |  SELECT u, CAST(sum(c) AS BIGINT) AS cu FROM cells GROUP BY u
       |),
       |rk AS (
       |  SELECT u, cu,
       |    CAST(sum(cu) OVER (ORDER BY u) - cu AS DOUBLE)
       |      + (cu + 1) / 2.0 AS r
       |  FROM uc
       |),
       |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uc),
       |nz0 AS (
       |  SELECT u, $p AS p, n,
       |    ${NumFns.normQuantileStartSql(s"($p)")} AS z0
       |  FROM rk, tot
       |),
       |$newton,
       |sc AS (SELECT u, z$FkNewtonSteps AS a, n FROM nz$FkNewtonSteps)""".stripMargin
  }

  /** Fligner–Killeen scale test across sources on document length —
    * the RANK-based member completing the variance-test trio
    * (q_bartlett: parametric, sharp under normality;
    * [[Profiling.qLevene]]: Brown–Forsythe, robust location;
    * Fligner–Killeen: normal-scores ranks, the most outlier-immune of
    * the three and scipy's recommendation for non-normal data).
    * Scores a(r) = Φ⁻¹((1 + r/(N+1))/2) over pooled midranks of
    * |x − med_g|; X² = Σ n_g(ā_g − ā)²/V, df = k−1. Engine: |x−med_g|
    * has ≤4 decimals (integer lengths, 4-decimal group medians), so
    * the pooled sample collapses to ≤|groups|·|values| cells sharing
    * one midrank and ONE score each ([[normalScores]]); moments are
    * DECIMAL-folded cell sums. No row is ever ranked, no partitionless
    * window exceeds the value-cell domain.
    */
  def qFlignerKilleen(s: SparkSession, dir: String): DataFrame = {
    val cells = Profiling.medianDeviations(s, dir)
      .groupBy(col("source"), col("adev").as("u"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val scored = normalScores(cells, (lit(1.0) + col("r") / (col("n") + 1)) / 2)
    val withScores = cells.join(broadcast(scored), Seq("u"))
    val grp = withScores.groupBy(col("source"))
      .agg(sum(col("c")).as("ng"), sum((col("c") * col("a")).cast(Dec12)).as("sa"))
    val glob = withScores.agg(max(col("n")).as("n"),
      sum((col("c") * col("a")).cast(Dec12)).as("sat"),
      sum((col("c") * col("a") * col("a")).cast(Dec12)).as("saa"))
    val j = grp.crossJoin(broadcast(glob))
      .withColumn("abar", col("sat").cast("double") / col("n"))
      .withColumn("dg", col("sa").cast("double") / col("ng") - col("abar"))
    j.groupBy(col("n"), col("abar"), col("saa"))
      .agg(count(lit(1)).as("k"),
        sum((col("ng") * col("dg") * col("dg")).cast(Dec12)).as("num"))
      .select(col("k").as("n_sources"), col("n").as("n_docs"),
        NumFns.roundPortable(
          col("num").cast("double")
            / ((col("saa").cast("double") - col("n") * col("abar") * col("abar"))
              / (col("n") - 1)), 6).as("fk_stat"))
      .withColumn("reject_equal_scale", col("fk_stat") > FkCrit19)
  }

  val qFlignerKilleenOracle: String =
    s"""WITH ${Profiling.medianDeviationsSql},
       |cells AS MATERIALIZED (
       |  SELECT source, adev AS u, count(*) AS c FROM dev GROUP BY 1, 2
       |),
       |${normalScoresSql("(1.0 + r / (n + 1)) / 2")},
       |ws AS (
       |  SELECT cells.source, cells.c, sc.a, sc.n
       |  FROM cells JOIN sc ON cells.u = sc.u
       |),
       |grp AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS ng,
       |    sum(CAST(c * a AS DECIMAL(38,12))) AS sa
       |  FROM ws GROUP BY source
       |),
       |gall AS (
       |  SELECT max(n) AS n,
       |    CAST(sum(CAST(c * a AS DECIMAL(38,12))) AS DOUBLE) AS sat,
       |    CAST(sum(CAST(c * a * a AS DECIMAL(38,12))) AS DOUBLE) AS saa
       |  FROM ws
       |),
       |j AS (
       |  SELECT grp.ng,
       |    CAST(grp.sa AS DOUBLE) / grp.ng - sat / n AS dg,
       |    n, sat / n AS abar, saa
       |  FROM grp, gall
       |),
       |ag AS (
       |  SELECT n, abar, saa, count(*) AS k,
       |    CAST(sum(CAST(ng * dg * dg AS DECIMAL(38,12))) AS DOUBLE) AS num
       |  FROM j GROUP BY n, abar, saa
       |)
       |SELECT k AS n_sources, n AS n_docs,
       |  ${NumFns.roundPortableSql(
            "num / ((saa - n * abar * abar) / (n - 1))", 6)} AS fk_stat,
       |  ${NumFns.roundPortableSql(
            "num / ((saa - n * abar * abar) / (n - 1))", 6)} > $FkCrit19
       |    AS reject_equal_scale
       |FROM ag""".stripMargin

  // ------------------------------------------------------------ TOST

  /** Relative equivalence margin: δ = 5% of the pooled mean. */
  val TostMarginShare = 0.05

  /** TOST equivalence test of mean event value between the two
    * user-parity arms, per event type — the inference DIRECTION the
    * A/B family lacked: q_ab_conversion / q_welch_ttest ask "is B
    * better?", TOST asks "are A and B the SAME within δ?" (the
    * regulatory / do-no-harm question a failed superiority test does
    * NOT answer). Two one-sided Welch z-tests against ±δ (δ =
    * [[TostMarginShare]] of the pooled mean, derived deterministically
    * from the same quantized moments); equivalence ⇔ max(p₁, p₂) < .05.
    * Engine: one events scan → per-(type, arm) quantized-integer
    * moments (map-side combined); every emitted double is one literal
    * formula of exact integers; one-sided p's from the shared portable
    * normal split by the sign branch both engines spell identically.
    */
  def qTostEquivalence(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      (pmod(col("user_id"), lit(2L)) === 1L).as("arm"),
      NumFns.roundAwayLong(col("value") * 1e6).as("vq"))
    val m = ev.groupBy(col("event_type"))
      .agg(
        sum(when(col("arm"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("na"),
        sum(when(col("arm"), col("vq")).otherwise(0L).cast(Dec0)).as("sb"),
        sum(when(!col("arm"), col("vq")).otherwise(0L).cast(Dec0)).as("sa"),
        sum(when(col("arm"), col("vq").cast("double") * col("vq"))
          .otherwise(0.0).cast(Dec12)).as("sbb"),
        sum(when(!col("arm"), col("vq").cast("double") * col("vq"))
          .otherwise(0.0).cast(Dec12)).as("saa"))
      .select(col("event_type"),
        col("na").cast("double").as("na"), col("nb").cast("double").as("nb"),
        col("sa").cast("double").as("sa"), col("sb").cast("double").as("sb"),
        col("saa").cast("double").as("saa"), col("sbb").cast("double").as("sbb"))
    // r12 (guide §1.2/§7.2): every moment below is a NAMED column, never
    // a nested expression. The old single-select form inlined se/diff/
    // delta into both one-sided CDFs and then roundPortable (which
    // references its argument ~18×) multiplied the whole tree again —
    // a ~170 KB physical plan whose analysis/codegen dominated the
    // query (2.6 s for a 100k-row scan). CollapseProject keeps a
    // non-cheap alias referenced more than once staged, so the chain
    // below stays ~10 KB. Identical arithmetic, identical results.
    val staged = m
      .withColumn("ma", col("sa") / col("na"))
      .withColumn("mb", col("sb") / col("nb"))
      .withColumn("va", (col("saa") - col("na") * col("ma") * col("ma"))
        / (col("na") - 1))
      .withColumn("vb", (col("sbb") - col("nb") * col("mb") * col("mb"))
        / (col("nb") - 1))
      .withColumn("se0", sqrt(col("va") / col("na") + col("vb") / col("nb")))
      .withColumn("diff0", col("mb") - col("ma"))
      .withColumn("delta0", lit(TostMarginShare) * (col("sa") + col("sb"))
        / (col("na") + col("nb")))
      // one-sided P(Z > t) = Φ(−t): the branch-on-sign literal lives in
      // ONE place ([[NumFns.normCdf]]) instead of a local duplicate.
      .withColumn("p1", NumFns.normCdf(-((col("diff0") + col("delta0"))
        / col("se0"))))                            // H0: diff ≤ −δ
      .withColumn("p2", NumFns.normCdf(-((col("delta0") - col("diff0"))
        / col("se0"))))                            // H0: diff ≥ +δ
      .withColumn("pt", greatest(col("p1"), col("p2")))
    staged.select(col("event_type"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        NumFns.roundPortable(col("diff0") / 1e6, 6).as("diff"),
        NumFns.roundPortable(col("delta0") / 1e6, 6).as("margin"),
        NumFns.roundPortable(col("se0") / 1e6, 6).as("se"),
        NumFns.roundPortable(col("pt"), 6).as("p_tost"))
      .withColumn("equivalent", col("p_tost") < 0.05)
      .orderBy(col("event_type"))
  }

  val qTostEquivalenceOracle: String = {
    // one-sided P(Z > t) = Φ(−t), via the shared CDF literal.
    def pUpper(t: String) = NumFns.normCdfSql(s"(-($t))")
    val p1 = pUpper("((diff + delta) / se)")
    val p2 = pUpper("((delta - diff) / se)")
    s"""WITH b AS (
       |  SELECT event_type, (user_id % 2 = 1) AS arm,
       |    CAST(round(value * 1e6) AS BIGINT) AS vq
       |  FROM events
       |),
       |m AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN arm THEN 0 ELSE 1 END) AS DOUBLE) AS na,
       |    CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
       |    CAST(sum(CASE WHEN arm THEN 0 ELSE CAST(vq AS HUGEINT) END)
       |      AS DOUBLE) AS sa,
       |    CAST(sum(CASE WHEN arm THEN CAST(vq AS HUGEINT) ELSE 0 END)
       |      AS DOUBLE) AS sb,
       |    CAST(sum(CAST(CASE WHEN arm THEN 0.0
       |      ELSE CAST(vq AS DOUBLE) * vq END AS DECIMAL(38,12)))
       |      AS DOUBLE) AS saa,
       |    CAST(sum(CAST(CASE WHEN arm THEN CAST(vq AS DOUBLE) * vq
       |      ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS sbb
       |  FROM b GROUP BY event_type
       |),
       |c AS (
       |  SELECT event_type, na, nb,
       |    sb / nb - sa / na AS diff,
       |    $TostMarginShare * (sa + sb) / (na + nb) AS delta,
       |    sqrt(((saa - na * (sa / na) * (sa / na)) / (na - 1)) / na
       |      + ((sbb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb) AS se
       |  FROM m
       |),
       |f AS (
       |  SELECT event_type, na, nb, diff, delta, se,
       |    greatest($p1, $p2) AS pt
       |  FROM c
       |)
       |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  ${NumFns.roundPortableSql("diff / 1e6", 6)} AS diff,
       |  ${NumFns.roundPortableSql("delta / 1e6", 6)} AS margin,
       |  ${NumFns.roundPortableSql("se / 1e6", 6)} AS se,
       |  ${NumFns.roundPortableSql("greatest(" + p1 + ", " + p2 + ")", 6)}
       |    AS p_tost,
       |  ${NumFns.roundPortableSql("greatest(" + p1 + ", " + p2 + ")", 6)}
       |    < 0.05 AS equivalent
       |FROM f ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------- distance correlation

  /** Character-band width for [[qDistanceCorr]] — bounds the x value
    * domain (and with it the cell-pair frame) independent of sf.
    */
  val DcorBand = 8L

  /** Distance correlation (Székely–Rizzo) between document length band
    * and token count — the dependence measure that sees what Pearson,
    * Spearman and binned MI can miss (dCor = 0 ⇔ INDEPENDENCE, any
    * relationship shape). The O(n²) pairwise-distance definition never
    * touches row pairs here: both variables are integers (length in
    * [[DcorBand]]-char bands, whitespace token counts), so the sample
    * collapses to joint value cells and every double-centering moment
    * is a WEIGHTED sum over the ≤|X|·|Y| cell-pair frame —
    * sf-invariant, exact int64/DECIMAL until six final double ops
    * (dCov² = S₁/N² + S₂ₐS₂ᵦ/N⁴ − 2S₃/N³, per variable and crossed).
    * Shape: one corpus scan → joint cells → one broadcast cell
    * self-join feeding one global and one per-cell aggregate.
    */
  def qDistanceCorr(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(floor(col("n_chars") / DcorBand).cast("long").as("x"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))
    val pairs = cells.select(col("x").as("xa"), col("y").as("ya"),
        col("w").as("wa"))
      .crossJoin(broadcast(cells.select(col("x").as("xb"), col("y").as("yb"),
        col("w").as("wb"))))
      .withColumn("ad", abs(col("xa") - col("xb")))
      .withColumn("bd", abs(col("ya") - col("yb")))
    val glob = pairs.agg(
      sum((col("wa") * col("wb") * col("ad") * col("bd")).cast(Dec0)).as("s1ab"),
      sum((col("wa") * col("wb") * col("ad") * col("ad")).cast(Dec0)).as("s1aa"),
      sum((col("wa") * col("wb") * col("bd") * col("bd")).cast(Dec0)).as("s1bb"),
      sum((col("wa") * col("wb") * col("ad")).cast(Dec0)).as("s2a"),
      sum((col("wa") * col("wb") * col("bd")).cast(Dec0)).as("s2b"))
    val rows = pairs.groupBy(col("xa"), col("ya"), col("wa"))
      .agg(sum((col("wb") * col("ad")).cast(Dec0)).as("rsa"),
        sum((col("wb") * col("bd")).cast(Dec0)).as("rsb"))
      .agg(sum(col("wa")).as("n"), count(lit(1)).as("n_cells"),
        sum(col("wa") * col("rsa") * col("rsb")).as("s3ab"),
        sum(col("wa") * col("rsa") * col("rsa")).as("s3aa"),
        sum(col("wa") * col("rsb") * col("rsb")).as("s3bb"))
    val j = rows.crossJoin(broadcast(glob))
      .withColumn("nd", col("n").cast("double"))
    def dform(s1: String, x2: org.apache.spark.sql.Column,
        s3: String): org.apache.spark.sql.Column =
      (col(s1).cast("double") / (col("nd") * col("nd"))
        + x2 / (col("nd") * col("nd") * col("nd") * col("nd"))
        - lit(2.0) * col(s3).cast("double")
          / (col("nd") * col("nd") * col("nd")))
    val dcov2 = dform("s1ab", col("s2a").cast("double") * col("s2b").cast("double"), "s3ab")
    val dvarx = dform("s1aa", col("s2a").cast("double") * col("s2a").cast("double"), "s3aa")
    val dvary = dform("s1bb", col("s2b").cast("double") * col("s2b").cast("double"), "s3bb")
    j.select(col("n").cast("long").as("n_docs"), col("n_cells"),
      NumFns.roundPortable(sqrt(dcov2), 6).as("dcov"),
      NumFns.roundPortable(
        sqrt(dcov2 / sqrt(dvarx * dvary)), 6).as("dcor"))
  }

  val qDistanceCorrOracle: String = {
    def dform(s1: String, x2: String, s3: String) =
      s"(CAST($s1 AS DOUBLE) / (nd * nd)" +
        s" + $x2 / (nd * nd * nd * nd)" +
        s" - 2.0 * CAST($s3 AS DOUBLE) / (nd * nd * nd))"
    val dcov2 = dform("s1ab", "CAST(s2a AS DOUBLE) * CAST(s2b AS DOUBLE)", "s3ab")
    val dvarx = dform("s1aa", "CAST(s2a AS DOUBLE) * CAST(s2a AS DOUBLE)", "s3aa")
    val dvary = dform("s1bb", "CAST(s2b AS DOUBLE) * CAST(s2b AS DOUBLE)", "s3bb")
    s"""WITH cells AS MATERIALIZED (
       |  SELECT CAST(floor(n_chars / $DcorBand) AS BIGINT) AS x,
       |    CAST(len(${graft.functions.TextFns.toksSql}) AS BIGINT) AS y,
       |    count(*) AS w
       |  FROM documents GROUP BY 1, 2
       |),
       |pairs AS (
       |  SELECT a.w AS wa, b.w AS wb, a.x AS xa, a.y AS ya,
       |    abs(a.x - b.x) AS ad, abs(a.y - b.y) AS bd
       |  FROM cells a CROSS JOIN cells b
       |),
       |gb AS (
       |  SELECT
       |    sum(CAST(wa * wb * ad * bd AS HUGEINT)) AS s1ab,
       |    sum(CAST(wa * wb * ad * ad AS HUGEINT)) AS s1aa,
       |    sum(CAST(wa * wb * bd * bd AS HUGEINT)) AS s1bb,
       |    sum(CAST(wa * wb * ad AS HUGEINT)) AS s2a,
       |    sum(CAST(wa * wb * bd AS HUGEINT)) AS s2b
       |  FROM pairs
       |),
       |rs AS (
       |  SELECT xa, ya, wa,
       |    CAST(sum(CAST(wb * ad AS HUGEINT)) AS BIGINT) AS rsa,
       |    CAST(sum(CAST(wb * bd AS HUGEINT)) AS BIGINT) AS rsb
       |  FROM pairs GROUP BY 1, 2, 3
       |),
       |agg AS (
       |  SELECT CAST(sum(wa) AS BIGINT) AS n, count(*) AS n_cells,
       |    sum(CAST(wa AS HUGEINT) * rsa * rsb) AS s3ab,
       |    sum(CAST(wa AS HUGEINT) * rsa * rsa) AS s3aa,
       |    sum(CAST(wa AS HUGEINT) * rsb * rsb) AS s3bb
       |  FROM rs
       |),
       |j AS (
       |  SELECT n, n_cells, CAST(n AS DOUBLE) AS nd,
       |    s1ab, s1aa, s1bb, s2a, s2b, s3ab, s3aa, s3bb
       |  FROM agg, gb
       |)
       |SELECT n AS n_docs, n_cells,
       |  ${NumFns.roundPortableSql(s"sqrt($dcov2)", 6)} AS dcov,
       |  ${NumFns.roundPortableSql(
            s"sqrt($dcov2 / sqrt($dvarx * $dvary))", 6)} AS dcor
       |FROM j""".stripMargin
  }

  // ------------------------------------------------- Van der Waerden

  /** Van der Waerden normal-scores location test across sources on
    * document length — the LOCATION sibling of [[qFlignerKilleen]]'s
    * scale test and the power-optimal compromise in the k-sample
    * location family: ANOVA's efficiency under normality with
    * Kruskal–Wallis's rank robustness (scores are Φ⁻¹(r/(N+1)) of the
    * pooled midranks of x itself, not of |x−med|). X² = Σ n_g ā_g²/s²
    * with s² = Σa²/(N−1), df = k−1, gated on the same χ²₁₉ literal.
    * Engine: value cells of x scored by [[normalScores]], then
    * DECIMAL-folded moments.
    */
  def qVanDerWaerden(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("source"), col("n_chars").as("u"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val scored = normalScores(cells, col("r") / (col("n") + 1))
    val ws = cells.join(broadcast(scored), Seq("u"))
    val grp = ws.groupBy(col("source"))
      .agg(sum(col("c")).as("ng"), sum((col("c") * col("a")).cast(Dec12)).as("sa"))
    val glob = ws.agg(max(col("n")).as("n"),
      sum((col("c") * col("a") * col("a")).cast(Dec12)).as("saa"))
    grp.crossJoin(broadcast(glob))
      .withColumn("abar", col("sa").cast("double") / col("ng"))
      .groupBy(col("n"), col("saa"))
      .agg(count(lit(1)).as("k"),
        sum((col("ng") * col("abar") * col("abar")).cast(Dec12)).as("num"))
      .select(col("k").as("n_sources"), col("n").as("n_docs"),
        NumFns.roundPortable(
          col("num").cast("double")
            / (col("saa").cast("double") / (col("n") - 1)), 6).as("vdw_stat"))
      .withColumn("reject_equal_location", col("vdw_stat") > FkCrit19)
  }

  val qVanDerWaerdenOracle: String =
    s"""WITH cells AS MATERIALIZED (
       |  SELECT source, n_chars AS u, count(*) AS c
       |  FROM documents GROUP BY 1, 2
       |),
       |${normalScoresSql("r / (n + 1)")},
       |ws AS (
       |  SELECT cells.source, cells.c, sc.a, sc.n
       |  FROM cells JOIN sc ON cells.u = sc.u
       |),
       |grp AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS ng,
       |    CAST(sum(CAST(c * a AS DECIMAL(38,12))) AS DOUBLE) AS sa
       |  FROM ws GROUP BY source
       |),
       |gb AS (
       |  SELECT max(n) AS n,
       |    CAST(sum(CAST(c * a * a AS DECIMAL(38,12))) AS DOUBLE) AS saa
       |  FROM ws
       |),
       |ag AS (
       |  SELECT n, saa, count(*) AS k,
       |    CAST(sum(CAST(ng * (sa / ng) * (sa / ng) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS num
       |  FROM grp, gb GROUP BY n, saa
       |)
       |SELECT k AS n_sources, n AS n_docs,
       |  ${NumFns.roundPortableSql("num / (saa / (n - 1))", 6)} AS vdw_stat,
       |  ${NumFns.roundPortableSql("num / (saa / (n - 1))", 6)} > $FkCrit19
       |    AS reject_equal_location
       |FROM ag""".stripMargin
}
