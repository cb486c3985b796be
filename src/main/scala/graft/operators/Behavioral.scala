package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, VectorFns}
import graft.functions.NumFns.{Dec0, Dec12}
import graft.sources.Tables

/** Behavioral / event-sequence analytics (SURVEY.md §2): funnel analysis,
  * cohort retention, and interval (range) joins over the event stream.
  *
  * These are the event-log counterparts of the reference's incremental
  * pipeline semantics: each is a fixed number of aggregations and
  * equi-key joins on `user_id`, so at 100 TB every shuffle in the query
  * aligns on the same key and AQE can reuse the exchange. No operator
  * here sorts globally except the final presentation ORDER BY.
  */
object Behavioral {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))

  /** Ordered funnel view → click → purchase: per user, the first view,
    * the first click strictly after that view, and the first purchase
    * strictly after that click. Three min-aggregations (map-side
    * combinable) chained by equi-joins on user_id — never a per-user
    * sort, never a collect. stage counts how deep the user got.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    // every stage frame is per-USER (entity-domain, ~10⁸ rows at 100×):
    // pin shuffle_hash so no stage ever rides a broadcast (r12 engine-
    // wide PlanAuditSpec ban; all frames arrive user-keyed from their
    // aggregates, so the joins are cheap co-shuffles)
    val t2 = e.filter(col("event_type") === "click")
      .join(t1.hint("shuffle_hash"), "user_id")
      .filter(col("us") > col("view_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2.hint("shuffle_hash"), "user_id")
      .filter(col("us") > col("click_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
    t1.join(t2.hint("shuffle_hash"), Seq("user_id"), "left")
      .join(t3.hint("shuffle_hash"), Seq("user_id"), "left")
      .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
        (lit(1L)
          + when(col("click_us").isNotNull, 1L).otherwise(0L)
          + when(col("purchase_us").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy(col("user_id"))
  }

  val qFunnelOracle: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |t1 AS (SELECT user_id, min(us) AS view_us FROM ev
      |       WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(e.us) AS click_us FROM ev e
      |       JOIN t1 ON e.user_id = t1.user_id AND e.us > t1.view_us
      |       WHERE e.event_type = 'click' GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(e.us) AS purchase_us FROM ev e
      |       JOIN t2 ON e.user_id = t2.user_id AND e.us > t2.click_us
      |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT t1.user_id, t1.view_us, t2.click_us, t3.purchase_us,
      |  CAST(1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage
      |FROM t1
      |LEFT JOIN t2 ON t1.user_id = t2.user_id
      |LEFT JOIN t3 ON t1.user_id = t3.user_id
      |ORDER BY t1.user_id""".stripMargin

  /** Cohort retention: users grouped by first-active day; for each
    * (cohort_day, day_offset) the count of distinct users active that
    * many days after their first day. Two aggregations on user_id plus
    * one equi-join — the first-seen frame is one row per USER, i.e.
    * entity-domain: smaller than the log but GROWING with it (~10⁸ rows
    * at 100×), so it joins back shuffle_hash, never broadcast (r12; the
    * log is already user-keyed for its own aggregate, so the join adds
    * one cheap co-shuffle).
    */
  def qRetentionCohort(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = act.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
    act.join(first.hint("shuffle_hash"), "user_id")
      .groupBy(col("cohort_d"), datediff(col("d"), col("cohort_d")).cast("bigint").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_d"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val qRetentionCohortOracle: String =
    """WITH act AS (SELECT user_id, ts::DATE AS d FROM events),
      |f AS (SELECT user_id, min(d) AS cohort_d FROM act GROUP BY user_id)
      |SELECT strftime(f.cohort_d, '%Y-%m-%d') AS cohort_day,
      |  date_diff('day', f.cohort_d, act.d) AS day_offset,
      |  count(DISTINCT act.user_id) AS n_users
      |FROM act JOIN f ON act.user_id = f.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Interval (range) join: for every purchase, the number of error
    * events by the same user within the following hour. The equality on
    * user_id makes this a hash join with the range as a residual
    * predicate — the scale-correct plan (a pure range join would be
    * O(n²) per overlap); both sides shuffle once on user_id.
    */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("us").as("p_us"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("us").as("e_us"))
    purchases
      .join(errors.hint("shuffle_hash"),
        col("p_user") === col("e_user")
          && col("e_us") > col("p_us")
          && col("e_us") <= col("p_us") + lit(3600000000L),
        "left")
      .groupBy(col("purchase_id"), col("p_user"))
      .agg(count(col("e_us")).as("n_errors"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("n_errors"))
      .orderBy(col("purchase_id"))
  }

  val qIntervalJoinOracle: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM ev
      |      WHERE event_type = 'purchase'),
      |e AS (SELECT user_id, us AS e_us FROM ev WHERE event_type = 'error')
      |SELECT p.purchase_id, p.user_id, count(e.e_us) AS n_errors
      |FROM p LEFT JOIN e
      |  ON p.user_id = e.user_id
      |  AND e.e_us > p.p_us AND e.e_us <= p.p_us + 3600000000
      |GROUP BY p.purchase_id, p.user_id
      |ORDER BY p.purchase_id""".stripMargin

  /** CUBE aggregation over orders: all four grouping sets of
    * (priority, status) in one pass. Like ROLLUP, Spark expands the
    * sets map-side so the shuffle carries one partial row per
    * (set × group) — four cheap groups, not four scans.
    */
  def qCubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        NumFns.stableSum(col("o_totalprice"), 2).as("sum_price"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("sum_price"), col("n_orders"))
      .orderBy(col("priority"), col("status"))

  val qCubeAggOracle: String =
    s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  ${NumFns.stableSumSql("o_totalprice", 2)} AS sum_price,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** Hot-key salted join, oracle-checked: the salted plan (fact keys
    * spread over 8 sub-reducers, dimension replicated ×8) must produce
    * EXACTLY the rows of the plain equi-join — the oracle is the plain
    * join, so any salting bug that duplicates or drops a row fails the
    * hash compare. This is the explicit-salt escape hatch for the
    * pathological key AQE's skew split can't fix (one key > one
    * reducer's memory).
    */
  def qSkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir)
      .filter(col("c_custkey") < 150)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val fact = Tables.events(s, dir).select(col("user_id"), col("value"))
    graft.plans.Salt.saltedJoin(fact, dim, "user_id", salts = 8)
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_events"), NumFns.stableSum(col("value"), 2).as("sum_value"))
      .orderBy(col("mktsegment"))
  }

  val qSkewSaltedJoinOracle: String =
    s"""SELECT c_mktsegment AS mktsegment,
      |  count(*) AS n_events,
      |  ${NumFns.stableSumSql("value", 2)} AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE c_custkey < 150
      |GROUP BY mktsegment
      |ORDER BY mktsegment""".stripMargin

  /** Heavy-hitter share threshold in basis points (80 = 0.8%). Integer
    * basis points keep the cut EXACT on both engines: `n·10000 ≥ tot·bp`
    * is pure int64 arithmetic — no double threshold a last bit could
    * flip.
    */
  val HeavyHitterBp = 80

  /** Heavy hitters (iceberg query): per event_type, the users holding
    * more than [[HeavyHitterBp]] basis points of that type's events —
    * the frequent-items question every skew audit and abuse filter asks.
    * Shape: one map-side-combined (type, user) count whose shuffle
    * carries partial cells; per-type totals are a second dimension-sized
    * aggregate broadcast back; the threshold filter drops the long tail
    * BEFORE presentation. At 100 TB the exact form is this same plan (the
    * candidate set after map-side combine is users×types cells); the
    * sketch alternative (space-saving / Datasketches frequent-items) only
    * becomes necessary when the CELL count itself is memory-hostile —
    * q_sketch_merge demonstrates that architecture.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("event_type")).agg(sum(col("n")).as("tot"))
    counts.join(broadcast(totals), "event_type")
      .filter(col("n") * 10000 >= col("tot") * HeavyHitterBp)
      .select(col("event_type"), col("user_id"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("share"))
      .orderBy(col("event_type"), col("user_id"))
  }

  val qHeavyHittersOracle: String =
    s"""WITH c AS (
       |  SELECT event_type, user_id, count(*) AS n
       |  FROM events GROUP BY event_type, user_id
       |), t AS (
       |  SELECT event_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY event_type
       |)
       |SELECT c.event_type, c.user_id, c.n,
       |  round(c.n / CAST(t.tot AS DOUBLE), 6) AS share
       |FROM c JOIN t ON c.event_type = t.event_type
       |WHERE c.n * 10000 >= t.tot * $HeavyHitterBp
       |ORDER BY c.event_type, c.user_id""".stripMargin

  /** Per-user activity bitmap: day-of-month presence packed into ONE
    * int64 via `bit_or(1 << (day-1))` — the roaring-bitmap idea at its
    * minimum viable size (the event log spans one calendar month, so 31
    * bits suffice; a multi-month corpus keys by (user, month) and ORs
    * month bitmaps together). Distinct-active-days becomes `bit_count`,
    * first active day is pure bit arithmetic on the lowest set bit
    * (`x ^ (x-1)` smears through it; popcount − 1 is its index), last
    * active day is floor(log2) — exact for any 31-bit bitmap since
    * log2(2^k)=k is IEEE-exact and non-powers sit ≥ 6e-10 from an
    * integer, far above double error. At 100 TB this is the cheapest
    * possible distinct-days aggregate: per-user state is a single long,
    * map-side combined, and bitmaps from different shards/days/months
    * merge by OR — mergeable like the HLL rollup ([[Sketches.qSketchMerge]])
    * but EXACT whenever the domain packs into machine words.
    */
  def qActivityBitmap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), dayofmonth(ts) - 1)").as("mask"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(mask)").as("bitmap"))
      .select(col("user_id"), col("bitmap"),
        expr("CAST(bit_count(bitmap) AS BIGINT)").as("n_active"),
        expr("CAST(bit_count(bitmap ^ (bitmap - 1)) AS BIGINT)").as("first_day"),
        expr("CAST(floor(log2(CAST(bitmap AS DOUBLE))) AS BIGINT) + 1").as("last_day"))
      .orderBy(col("user_id"))

  val qActivityBitmapOracle: String =
    """WITH m AS (
      |  SELECT user_id, (CAST(1 AS BIGINT) << CAST(day(ts) - 1 AS INTEGER)) AS mask
      |  FROM events
      |), b AS (
      |  SELECT user_id, bit_or(mask) AS bitmap FROM m GROUP BY user_id
      |)
      |SELECT user_id, bitmap,
      |  CAST(bit_count(bitmap) AS BIGINT) AS n_active,
      |  CAST(bit_count(xor(bitmap, bitmap - 1)) AS BIGINT) AS first_day,
      |  CAST(floor(log2(CAST(bitmap AS DOUBLE))) AS BIGINT) + 1 AS last_day
      |FROM b ORDER BY user_id""".stripMargin

  /** Attribution lookback window: 7 days, in microseconds. */
  val AttribWindowUs: Long = 7L * 86400L * 1000000L

  /** Linear multi-touch attribution: each purchase's value is split
    * EQUALLY across the user's page views in the preceding 7 days, and
    * credit is aggregated per pseudo-channel (the view's `props.k mod 4`
    * — the events table has no channel column, so the JSON payload
    * stands in). The canonical marketing-analytics shape: a per-user
    * interval join (purchase × prior views), a per-purchase touch count,
    * then per-row credit = value / n_touches rolled up by channel.
    * Float discipline: the division is one IEEE op (identical on both
    * engines); per-row credits are then summed as DECIMAL(38,12) via
    * [[NumFns.stableSum]] so accumulation order can't move the hash.
    * Scale shape: both sides of the interval join shuffle once on
    * user_id (shuffle_hash — the view side is derived, never broadcast);
    * per-user pair fan-out is bounded by the window; everything after is
    * dimension-sized (purchases, then 4 channels). Purchases with NO
    * prior view are reported in the 'unattributed' channel so total
    * credited value is conserved — the invariant the spec checks.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"), col("props"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("us").as("v_us"),
        concat(lit("ch"),
          get_json_object(col("props"), "$.k").cast("long") % 4).as("channel"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("us").as("p_us"), col("value"))
    val touched = purchases
      .join(views.hint("shuffle_hash"),
        col("user_id") === col("v_user")
          && col("v_us") < col("p_us")
          && col("v_us") >= col("p_us") - lit(AttribWindowUs),
        "left")
      .groupBy(col("purchase_id"), col("value"))
      .agg(count(col("v_us")).as("n_touch"))
    val credits = purchases
      .join(views.hint("shuffle_hash"),
        col("user_id") === col("v_user")
          && col("v_us") < col("p_us")
          && col("v_us") >= col("p_us") - lit(AttribWindowUs))
      .join(touched.hint("shuffle_hash").select(col("purchase_id"), col("n_touch")),
        "purchase_id")
      .select(col("channel"), (col("value") / col("n_touch")).as("credit"))
    val unattributed = touched.filter(col("n_touch") === 0)
      .select(lit("unattributed").as("channel"), col("value").as("credit"))
    credits.unionByName(unattributed)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        NumFns.stableSum(col("credit"), 4).as("attributed"))
      .orderBy(col("channel"))
  }

  val qAttributionOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us, value, props
       |  FROM events
       |), v AS (
       |  SELECT user_id AS v_user, us AS v_us,
       |    'ch' || CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT) % 4 AS VARCHAR) AS channel
       |  FROM e WHERE event_type = 'view'
       |), p AS (
       |  SELECT user_id, event_id AS purchase_id, us AS p_us, value
       |  FROM e WHERE event_type = 'purchase'
       |), t AS (
       |  SELECT purchase_id, p.value, count(v_us) AS n_touch
       |  FROM p LEFT JOIN v ON user_id = v_user
       |    AND v_us < p_us AND v_us >= p_us - $AttribWindowUs
       |  GROUP BY purchase_id, p.value
       |), c AS (
       |  SELECT channel, p.value / t.n_touch AS credit
       |  FROM p JOIN v ON user_id = v_user
       |    AND v_us < p_us AND v_us >= p_us - $AttribWindowUs
       |  JOIN t ON p.purchase_id = t.purchase_id
       |  UNION ALL
       |  SELECT 'unattributed' AS channel, value AS credit
       |  FROM t WHERE n_touch = 0
       |)
       |SELECT channel, count(*) AS n_touches,
       |  ${NumFns.stableSumSql("credit", 4)} AS attributed
       |FROM c GROUP BY channel
       |ORDER BY channel""".stripMargin

  /** RFM customer segmentation — the classic behavioral value model
    * (recency of last order, order frequency, lifetime spend), each
    * dimension cut at its corpus quartiles into 1–4, reported as the
    * up-to-64-cell segment grid with size and average spend. Shape:
    * one orders scan → per-customer aggregate (map-side combined);
    * quartile thresholds come from the distinct-value-cells percentile
    * engine ([[Analytics.exactPercentilesMulti]] — NEVER an ntile
    * window over raw customers, which would funnel every customer
    * through one task's sort) and come back as a broadcast 1-row
    * frame; segment assignment is a scan-side comparison; the final
    * grid is segment-count-sized. The per-customer frame feeds both
    * the threshold derivation and the assignment; both read its one
    * aggregation exchange (exchange reuse). Exactness:
    * recency/frequency are integers, spend is a DECIMAL-cast sum
    * rounded to cents, thresholds are
    * engine-rounded at 4 digits, and the strict `>` quartile rule
    * compares identical doubles on both engines.
    */
  def qRfmSegments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val o = Tables.orders(s, dir)
    val refDate = o.agg(max(to_date(col("o_orderdate"))).as("d_ref"))
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("d_last"),
        count(lit(1)).as("frequency"),
        NumFns.stableSum(col("o_totalprice"), 2).as("monetary"))
      .crossJoin(broadcast(refDate))
      .select(col("o_custkey"),
        datediff(col("d_ref"), col("d_last")).cast("long").as("recency"),
        col("frequency"), col("monetary"))
      .withColumn("grp", lit("all"))
    val th = Analytics.exactPercentilesMulti(rfm, "grp", Seq(
      "recency" -> Seq(0.25 -> "r25", 0.5 -> "r50", 0.75 -> "r75"),
      "frequency" -> Seq(0.25 -> "f25", 0.5 -> "f50", 0.75 -> "f75"),
      "monetary" -> Seq(0.25 -> "m25", 0.5 -> "m50", 0.75 -> "m75")))
      .drop("grp")
    def quartile(v: Column, q1: String, q2: String, q3: String): Column =
      lit(1) + (v > col(q1)).cast("int") + (v > col(q2)).cast("int") +
        (v > col(q3)).cast("int")
    rfm.crossJoin(broadcast(th))
      .select(
        quartile(col("recency"), "r25", "r50", "r75").as("r_q"),
        quartile(col("frequency"), "f25", "f50", "f75").as("f_q"),
        quartile(col("monetary"), "m25", "m50", "m75").as("m_q"),
        col("monetary"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        NumFns.stableMean(col("monetary"), count(lit(1)), 2).as("avg_monetary"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val qRfmSegmentsOracle: String = {
    def q(c: String, p: String, as: String) =
      s"round(quantile_cont(CAST($c AS DOUBLE), $p), 4) AS $as"
    s"""WITH o AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders
       |),
       |ref AS (SELECT max(d) AS d_ref FROM o),
       |rfm AS (
       |  SELECT o_custkey,
       |    CAST(date_diff('day', max(d), (SELECT d_ref FROM ref)) AS BIGINT) AS recency,
       |    count(*) AS frequency,
       |    ${NumFns.stableSumSql("o_totalprice", 2)} AS monetary
       |  FROM o GROUP BY o_custkey
       |),
       |th AS (
       |  SELECT ${q("recency", "0.25", "r25")}, ${q("recency", "0.5", "r50")},
       |    ${q("recency", "0.75", "r75")},
       |    ${q("frequency", "0.25", "f25")}, ${q("frequency", "0.5", "f50")},
       |    ${q("frequency", "0.75", "f75")},
       |    ${q("monetary", "0.25", "m25")}, ${q("monetary", "0.5", "m50")},
       |    ${q("monetary", "0.75", "m75")}
       |  FROM rfm
       |),
       |seg AS (
       |  SELECT
       |    1 + CASE WHEN recency > r25 THEN 1 ELSE 0 END
       |      + CASE WHEN recency > r50 THEN 1 ELSE 0 END
       |      + CASE WHEN recency > r75 THEN 1 ELSE 0 END AS r_q,
       |    1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
       |      + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
       |      + CASE WHEN frequency > f75 THEN 1 ELSE 0 END AS f_q,
       |    1 + CASE WHEN monetary > m25 THEN 1 ELSE 0 END
       |      + CASE WHEN monetary > m50 THEN 1 ELSE 0 END
       |      + CASE WHEN monetary > m75 THEN 1 ELSE 0 END AS m_q,
       |    monetary
       |  FROM rfm CROSS JOIN th
       |)
       |SELECT r_q, f_q, m_q, count(*) AS n_customers,
       |  ${NumFns.stableMeanSql("monetary", "count(*)", 2)} AS avg_monetary
       |FROM seg GROUP BY r_q, f_q, m_q
       |ORDER BY r_q, f_q, m_q""".stripMargin
  }

  /** DAU/WAU stickiness — the engagement ratio every product dashboard
    * leads with: per day, the distinct active users that day (DAU), the
    * distinct users active in the trailing 7 days (WAU), and their
    * ratio. Shape: the raw event stream collapses ONCE to the distinct
    * (day, user) presence frame (map-side combined — at 100 TB this is
    * the persisted daily-presence table, orders of magnitude smaller
    * than events); DAU is a per-day count over it, and WAU joins the
    * tiny day spine against the presence frame on a 7-day range — the
    * fan-out is ≤7× a DIMENSION-sized frame, never the event stream.
    * Exactness: counts are integers; the ratio is one portable-rounded
    * division.
    */
  def qStickiness(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .localCheckpoint() // feeds the spine, DAU, and the WAU range join
    val spine = du.select(col("day").as("d")).distinct()
    val dau = du.groupBy(col("day").as("d")).agg(count(lit(1)).as("dau"))
    val wau = broadcast(spine)
      .join(du, col("day") >= date_sub(col("d"), 6) && col("day") <= col("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("d"))
      .select(col("d").as("day"), col("dau"), col("wau"),
        NumFns.roundPortable(col("dau") / col("wau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  val qStickinessOracle: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |),
       |spine AS (SELECT DISTINCT day AS d FROM du),
       |dau AS (SELECT day AS d, count(*) AS dau FROM du GROUP BY day),
       |wau AS (
       |  SELECT d, count(DISTINCT user_id) AS wau
       |  FROM spine JOIN du ON du.day >= spine.d - 6 AND du.day <= spine.d
       |  GROUP BY d
       |)
       |SELECT d AS day, dau, wau,
       |  ${NumFns.roundPortableSql("dau / wau", 6)} AS stickiness
       |FROM dau JOIN wau USING (d)
       |ORDER BY day""".stripMargin

  /** Cohort LTV curves — cumulative revenue per customer by cohort age:
    * customers cohort by FIRST-order month, every order lands in a
    * (cohort, months-since-cohort) cell, and the running per-customer
    * cumulative is the curve finance extrapolates. Shape: one orders
    * scan → per-customer first-month aggregate (map-side combined),
    * joined back on custkey (the only fact-sized shuffle), then
    * everything is (cohorts × ages)-sized: revenue cells, a cumulative
    * window PARTITIONED by cohort over the cell frame, cohort sizes
    * broadcast. Exactness: months are integer year·12+month arithmetic
    * (never months_between's fractional days), revenue is a
    * DECIMAL-cast sum rounded to cents, LTV one portable division.
    */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"),
        col("o_totalprice"))
    val firstYm = o.groupBy(col("o_custkey")).agg(min(col("ym")).as("cohort_ym"))
    val cohortSize = firstYm.groupBy(col("cohort_ym"))
      .agg(count(lit(1)).as("n_customers"))
    val cells = o.join(firstYm.hint("shuffle_hash"), Seq("o_custkey"))
      .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("age_months"))
      .agg(NumFns.stableSum(col("o_totalprice"), 2).as("revenue"))
    val w = Window.partitionBy(col("cohort_ym")).orderBy(col("age_months"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_revenue", round(sum(col("revenue")).over(w), 2))
      .join(broadcast(cohortSize), Seq("cohort_ym"))
      .select(
        concat(
          floor((col("cohort_ym") - 1) / 12).cast("int").cast("string"), lit("-"),
          lpad(((col("cohort_ym") - 1) % 12 + 1).cast("string"), 2, "0")).as("cohort_month"),
        col("age_months").cast("int").as("age_months"), col("n_customers"),
        col("revenue"), col("cum_revenue"),
        NumFns.roundPortable(col("cum_revenue") / col("n_customers"), 4)
          .as("ltv_per_customer"))
      .orderBy(col("cohort_month"), col("age_months"))
  }

  val qCohortLtvOracle: String =
    s"""WITH o AS (
       |  SELECT o_custkey,
       |    year(o_orderdate) * 12 + month(o_orderdate) AS ym,
       |    o_totalprice
       |  FROM orders
       |),
       |f AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey),
       |cs AS (SELECT cohort_ym, count(*) AS n_customers FROM f GROUP BY cohort_ym),
       |cells AS (
       |  SELECT cohort_ym, ym - cohort_ym AS age_months,
       |    ${NumFns.stableSumSql("o_totalprice", 2)} AS revenue
       |  FROM o JOIN f USING (o_custkey)
       |  GROUP BY cohort_ym, ym - cohort_ym
       |),
       |cum AS (
       |  SELECT cohort_ym, age_months, revenue,
       |    round(sum(revenue) OVER (PARTITION BY cohort_ym ORDER BY age_months
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
       |  FROM cells
       |)
       |SELECT
       |  CAST(CAST(floor((cohort_ym - 1) / 12) AS INT) AS VARCHAR) || '-' ||
       |    lpad(CAST((cohort_ym - 1) % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
       |  CAST(age_months AS INT) AS age_months, n_customers, revenue, cum_revenue,
       |  ${NumFns.roundPortableSql("cum_revenue / n_customers", 4)} AS ltv_per_customer
       |FROM cum JOIN cs USING (cohort_ym)
       |ORDER BY cohort_month, age_months""".stripMargin

  /** Market-basket association lift between part brands co-purchased in
    * one order — the classic affinity analytic ("customers who buy X
    * also buy Y"): support, confidence and lift per ordered brand pair
    * with ≥ [[BasketMinCooc]] co-occurrences. Shape: lineitem joins the
    * broadcast part dim, collapses to DISTINCT (order, brand) — so the
    * pair fan-out is C(brands-in-order, 2) per order, a small constant —
    * and every aggregate after that is brand²-bounded (≤625 cells).
    * Exactness: supports are exact integer counts; lift multiplies
    * integers cross-wise BEFORE one double division (c_ab·N / c_a·c_b),
    * so there is no accumulated float anywhere.
    */
  val BasketMinCooc = 5L

  def qBasketLift(s: SparkSession, dir: String): DataFrame = {
    // ONE fact shuffle total: baskets collapse to a sorted distinct-brand
    // array per order (collect_set dedups in the same hash agg), and the
    // C(b,2) ordered pairs GENERATE scan-side from that array — no
    // (order, brand) self-join, no second fact-sized exchange. Everything
    // downstream of `byOrder` is order- or brand²-sized.
    val byOrder = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("brand"))).as("bs"))
      .localCheckpoint() // feeds totals, marginals, and the pair explode
    val n = byOrder.agg(count(lit(1)).as("n_orders"))
    val marg = byOrder
      .select(explode(col("bs")).as("brand"))
      .groupBy(col("brand")).agg(count(lit(1)).as("c"))
    // ordered pairs (a < b) from the sorted array
    val pairs = byOrder
      .select(explode(VectorFns.orderedPairs(col("bs"))((x, y) =>
        struct(x.as("brand_a"), y.as("brand_b")))).as("p"))
      .groupBy(col("p.brand_a").as("brand_a"), col("p.brand_b").as("brand_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= BasketMinCooc)
    pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"), col("c").as("c_a"))), "brand_a")
      .join(broadcast(marg.select(col("brand").as("brand_b"), col("c").as("c_b"))), "brand_b")
      .crossJoin(broadcast(n))
      .select(col("brand_a"), col("brand_b"), col("c_ab"), col("c_a"), col("c_b"),
        NumFns.roundPortable(col("c_ab") / col("n_orders"), 6).as("support"),
        NumFns.roundPortable(col("c_ab") / col("c_a"), 6).as("confidence"),
        NumFns.roundPortable(
          (col("c_ab") * col("n_orders")) / (col("c_a") * col("c_b")).cast("double"), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
  }

  val qBasketLiftOracle: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |),
       |n AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
       |marg AS (SELECT brand, count(*) AS c FROM ob GROUP BY brand),
       |p AS (
       |  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS c_ab
       |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
       |  GROUP BY a.brand, b.brand
       |  HAVING count(*) >= $BasketMinCooc
       |)
       |SELECT brand_a, brand_b, c_ab, ma.c AS c_a, mb.c AS c_b,
       |  ${NumFns.roundPortableSql("c_ab / n_orders", 6)} AS support,
       |  ${NumFns.roundPortableSql("c_ab / ma.c", 6)} AS confidence,
       |  ${NumFns.roundPortableSql("(c_ab * n_orders) / CAST(ma.c * mb.c AS DOUBLE)", 6)} AS lift
       |FROM p
       |JOIN marg ma ON ma.brand = p.brand_a
       |JOIN marg mb ON mb.brand = p.brand_b
       |CROSS JOIN n
       |ORDER BY lift DESC, brand_a, brand_b""".stripMargin

  /** Width of a Pareto revenue bucket in integer cents ($10k). */
  val ParetoBucketCents = 1000000L

  /** The revenue-concentration percentile levels reported. */
  val ParetoLevels = Seq(1, 5, 10, 25)

  /** Pareto / Lorenz revenue concentration: for the top 1/5/10/25% of
    * customers by lifetime revenue, the customer count and their share
    * of total revenue — the "80/20" query behind every account-tiering
    * decision.
    *
    * Scale shape: the cumulative-revenue-at-rank curve needs a GLOBAL
    * ordering, and the naive `sum().over(Window.orderBy(...))` is the
    * single-partition window this engine bans. Rank-from-counts instead
    * (the [[graft.operators.Analytics.qGlobalDeciles]] trick, revenue
    * descending): per-customer cents (exact longs) bucket into fixed
    * $10k bands; per-bucket (count, cents-sum) partials fold into an
    * exclusive prefix over the DIMENSION-sized bucket frame and
    * broadcast back; within-bucket row_number + running cents complete
    * the exact global rank AND exact cumulative revenue of every
    * customer with no task ever sorting more than one bucket. The four
    * cutoff ranks ⌈n·p/100⌉ join against the ranked frame as a
    * broadcast.
    *
    * Exactness: revenue is integer cents end-to-end (sum of
    * `round(price·100)` longs — order-independent); shares divide two
    * exact integers once, portably rounded.
    */
  def qParetoShare(s: SparkSession, dir: String): DataFrame = {
    val cr = Tables.orders(s, dir)
      .select(col("o_custkey"),
        NumFns.roundAwayLong(col("o_totalprice") * 100).as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("cents"))
      .withColumn("bucket", floor(col("cents") / ParetoBucketCents).cast("long"))
    val bagg = cr.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bc"), sum(col("cents")).as("bcents"))
    // revenue DESC ⇒ prefix over buckets in DESC order
    val wPrefix = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bagg
      .withColumn("off_n", coalesce(sum(col("bc")).over(wPrefix), lit(0L)))
      .withColumn("off_cents", coalesce(sum(col("bcents")).over(wPrefix), lit(0L)))
      .select(col("bucket"), col("off_n"), col("off_cents"))
    val totals = cr.agg(count(lit(1)).as("n_customers"),
      sum(col("cents")).as("total_cents"))
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("cents").desc, col("o_custkey"))
    val ranked = cr.join(broadcast(offsets), "bucket")
      .withColumn("rnk", col("off_n") + row_number().over(wIn))
      .withColumn("cum_cents", col("off_cents") +
        sum(col("cents")).over(wIn.rowsBetween(Window.unboundedPreceding, 0)))
    val cutoffs = totals
      .select(explode(lit(ParetoLevels.toArray)).as("pct"),
        col("n_customers"), col("total_cents"))
      .withColumn("k", expr("(n_customers * pct + 99) div 100"))
    ranked.join(broadcast(cutoffs), col("rnk") === col("k"))
      .select(col("pct"), col("k").as("n_top"),
        (col("cum_cents").cast("double") / 100).as("cum_revenue"),
        NumFns.roundPortable(
          col("cum_cents").cast("double") / col("total_cents"), 6)
          .as("revenue_share"))
      .orderBy(col("pct"))
  }

  val qParetoShareOracle: String =
    s"""WITH cr AS (
       |  SELECT o_custkey,
       |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
       |  FROM orders GROUP BY o_custkey
       |),
       |r AS (
       |  SELECT o_custkey, cents,
       |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS rnk,
       |    sum(cents) OVER (ORDER BY cents DESC, o_custkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
       |  FROM cr
       |),
       |t AS (SELECT count(*) AS n_customers, sum(cents) AS total_cents FROM cr),
       |p AS (SELECT unnest([${ParetoLevels.mkString(", ")}]) AS pct)
       |SELECT pct, (n_customers * pct + 99) // 100 AS n_top,
       |  CAST(cum_cents AS DOUBLE) / 100 AS cum_revenue,
       |  ${NumFns.roundPortableSql(
             "CAST(cum_cents AS DOUBLE) / total_cents", 6)} AS revenue_share
       |FROM p CROSS JOIN t
       |JOIN r ON r.rnk = (t.n_customers * p.pct + 99) // 100
       |ORDER BY pct""".stripMargin

  /** Inter-purchase interval regularity per market segment — the
    * mean/CV of consecutive order gaps: CV ≪ 1 is a subscription-like
    * regular buyer base, CV ≈ 1 memoryless, CV ≫ 1 bursty (the number
    * replenishment forecasting and churn horizons key off). Gaps are
    * integer days from a customer-keyed lag window with a total
    * (date, orderkey) order; segment moments are DECIMAL-folded
    * integer sums so mean and CV are engine-identical. One custkey
    * window + one broadcast customer join + a ≤segments aggregate.
    */
  def qPurchaseIntervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev", lag(to_date(col("o_orderdate")), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), col("prev")).cast("long")
          .as("gap_days"))
    gaps
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_days")).as("sg"),
        sum(col("gap_days") * col("gap_days")).as("sg2"))
      .select(col("c_mktsegment"), col("n_gaps"),
        NumFns.roundPortable(
          col("sg").cast("double") / col("n_gaps"), 4).as("mean_gap_days"),
        NumFns.roundPortable(
          sqrt((col("sg2") - col("sg").cast("double") * col("sg") /
            col("n_gaps")) / (col("n_gaps") - 1)) /
            (col("sg").cast("double") / col("n_gaps")), 4).as("cv"))
      .orderBy(col("c_mktsegment"))
  }

  val qPurchaseIntervalsOracle: String =
    s"""WITH g AS (
       |  SELECT o_custkey,
       |    CAST(date_diff('day',
       |      lag(o_orderdate::DATE) OVER (PARTITION BY o_custkey
       |        ORDER BY o_orderdate, o_orderkey),
       |      o_orderdate::DATE) AS BIGINT) AS gap_days
       |  FROM orders
       |),
       |gg AS (SELECT * FROM g WHERE gap_days IS NOT NULL),
       |a AS (
       |  SELECT c_mktsegment, count(*) AS n_gaps,
       |    CAST(sum(gap_days) AS BIGINT) AS sg,
       |    CAST(sum(gap_days * gap_days) AS BIGINT) AS sg2
       |  FROM gg JOIN customer ON o_custkey = c_custkey
       |  GROUP BY c_mktsegment
       |)
       |SELECT c_mktsegment, n_gaps,
       |  ${NumFns.roundPortableSql("CAST(sg AS DOUBLE) / n_gaps", 4)}
       |    AS mean_gap_days,
       |  ${NumFns.roundPortableSql(
            "sqrt((sg2 - CAST(sg AS DOUBLE) * sg / n_gaps) / (n_gaps - 1))" +
            " / (CAST(sg AS DOUBLE) / n_gaps)", 4)} AS cv
       |FROM a
       |ORDER BY c_mktsegment""".stripMargin

  /** Leaderboard width for [[qTrending]]. */
  val TrendingK = 5

  /** Sliding trending leaderboard — per day, the top-5 parts by
    * trailing-7-day order volume (the "trending now" surface): daily
    * (day, part) cells from one fact pass, the trailing sum as a 7-row
    * RANGE window over each part's DAY series (cell frame, not rows),
    * and the per-day top-k through a rank window that Spark prunes with
    * a map-side WindowGroupLimit.
    * The gap subtlety: a part with no orders on a day still has a
    * trailing total — the cell frame is densified against the day spine
    * per part ONLY where needed by windowing over day INDEX with a
    * range frame (rangeBetween on the integer day), which handles gaps
    * without materializing zeros. Integer volumes end-to-end.
    */
  def qTrending(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("day_idx"),
        col("l_partkey").as("part"))
      .agg(count(lit(1)).as("vol"))
    val wTrail = Window.partitionBy(col("part")).orderBy(col("day_idx"))
      .rangeBetween(-6, 0)
    val trail = cells.withColumn("vol7", sum(col("vol")).over(wTrail))
    val wRank = Window.partitionBy(col("day_idx"))
      .orderBy(col("vol7").desc, col("part"))
    trail.withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= TrendingK)
      .select(col("day_idx"), col("rk"), col("part"), col("vol7"))
      .orderBy(col("day_idx"), col("rk"))
  }

  val qTrendingOracle: String =
    s"""WITH cells AS (
       |  SELECT CAST(date_diff('day', DATE '1992-01-01',
       |      o_orderdate::DATE) AS BIGINT) AS day_idx,
       |    l_partkey AS part, count(*) AS vol
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |),
       |t AS (
       |  SELECT day_idx, part,
       |    CAST(sum(vol) OVER (PARTITION BY part ORDER BY day_idx
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS vol7
       |  FROM cells
       |),
       |r AS (
       |  SELECT day_idx, part, vol7,
       |    row_number() OVER (PARTITION BY day_idx
       |      ORDER BY vol7 DESC, part) AS rk
       |  FROM t
       |)
       |SELECT day_idx, CAST(rk AS INT) AS rk, part, vol7
       |FROM r WHERE rk <= $TrendingK
       |ORDER BY day_idx, rk""".stripMargin

  /** Step timeout for [[qWindowFunnel]] (microseconds). */
  val FunnelStepUs: Long = 3600L * 1000000L

  /** Time-bounded window funnel (the ClickHouse `windowFunnel` shape):
    * view → click → purchase where each NEXT step must land within an
    * hour of the previous one — q_funnel without the bound overstates
    * conversion (a purchase a week after the click is not that click's
    * conversion). Same three chained min-aggregations as q_funnel, each
    * join carrying the deadline as a post-probe residual; reported as
    * the stage distribution (stage → users), the form a funnel chart
    * consumes. At 100 TB: three user-keyed aggregates and two
    * broadcast-eligible user-frame joins, never a per-user sort.
    */
  def qWindowFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1.hint("shuffle_hash"), "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t1") + FunnelStepUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2.hint("shuffle_hash"), "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t2") + FunnelStepUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    val staged = t1.join(t2.hint("shuffle_hash"), Seq("user_id"), "left")
      .join(t3.hint("shuffle_hash"), Seq("user_id"), "left")
      .select((lit(1L)
        + when(col("t2").isNotNull, 1L).otherwise(0L)
        + when(col("t3").isNotNull, 1L).otherwise(0L)).as("stage"))
    staged.groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  val qWindowFunnelOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
       |),
       |t1 AS (SELECT user_id, min(us) AS t1 FROM ev
       |       WHERE event_type = 'view' GROUP BY user_id),
       |t2 AS (SELECT e.user_id, min(e.us) AS t2 FROM ev e
       |       JOIN t1 ON e.user_id = t1.user_id
       |         AND e.us > t1.t1 AND e.us <= t1.t1 + $FunnelStepUs
       |       WHERE e.event_type = 'click' GROUP BY e.user_id),
       |t3 AS (SELECT e.user_id, min(e.us) AS t3 FROM ev e
       |       JOIN t2 ON e.user_id = t2.user_id
       |         AND e.us > t2.t2 AND e.us <= t2.t2 + $FunnelStepUs
       |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
       |SELECT CAST(1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
       |    + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS stage,
       |  count(*) AS n_users
       |FROM t1
       |LEFT JOIN t2 ON t1.user_id = t2.user_id
       |LEFT JOIN t3 ON t1.user_id = t3.user_id
       |GROUP BY 1
       |ORDER BY stage""".stripMargin

  /** Growth accounting (new / retained / resurrected / churned per
    * week) — the canonical DAU/MAU decomposition every growth team
    * reports: a user active in week w is NEW (first-ever week),
    * RETAINED (also active in w−1) or RESURRECTED (active before, but
    * not w−1); a user counted in w−1 but absent in w CHURNS in w. All
    * four classes derive from ONE (user, week) presence frame: first
    * week by a running min, previous-activity flags by lag windows —
    * user-keyed windows over the presence frame (≤ users × weeks rows,
    * already collapsed), never over raw events. Churn is the w−1
    * presence row projected forward one week and anti-counted. Integer
    * counts; identity n_active(w) = new + retained + resurrected is
    * spec-asserted.
    */
  def qGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val pres = Tables.events(s, dir)
      .select(col("user_id"),
        floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7)
          .cast("long").as("week"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val classed = pres
      .withColumn("first_week", min(col("week")).over(
        Window.partitionBy(col("user_id"))))
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .select(col("week"),
        when(col("week") === col("first_week"), "new")
          .when(col("prev_week") === col("week") - 1, "retained")
          .otherwise("resurrected").as("cls"))
    val active = classed.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    // churned in w: present in w-1, absent in w — count by projecting
    // each presence row forward and anti-joining the presence frame
    val churn = pres.select(col("user_id"), (col("week") + 1).as("week"))
      .join(pres.hint("shuffle_hash"), Seq("user_id", "week"), "left_anti")
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_churned"))
    active.join(churn.hint("shuffle_hash"), Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("week"))
  }

  val qGrowthAccountingOracle: String =
    """WITH pres AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(date_diff('day', DATE '2024-01-01', ts::DATE) / 7)
      |      AS BIGINT) AS week
      |  FROM events
      |),
      |cl AS (
      |  SELECT week,
      |    CASE WHEN week = min(week) OVER (PARTITION BY user_id)
      |      THEN 'new'
      |    WHEN lag(week) OVER (PARTITION BY user_id ORDER BY week)
      |      = week - 1 THEN 'retained'
      |    ELSE 'resurrected' END AS cls
      |  FROM pres
      |),
      |act AS (
      |  SELECT week, count(*) AS n_active,
      |    CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_resurrected
      |  FROM cl GROUP BY week
      |),
      |ch AS (
      |  SELECT p.week + 1 AS week, count(*) AS n_churned
      |  FROM pres p
      |  WHERE NOT EXISTS (SELECT 1 FROM pres q
      |    WHERE q.user_id = p.user_id AND q.week = p.week + 1)
      |  GROUP BY p.week + 1
      |)
      |SELECT coalesce(act.week, ch.week) AS week,
      |  coalesce(n_active, 0) AS n_active,
      |  coalesce(n_new, 0) AS n_new,
      |  coalesce(n_retained, 0) AS n_retained,
      |  coalesce(n_resurrected, 0) AS n_resurrected,
      |  coalesce(n_churned, 0) AS n_churned
      |FROM act FULL OUTER JOIN ch ON act.week = ch.week
      |ORDER BY week""".stripMargin

  /** Attribution-window widths (hours) swept by [[qAttributionWindows]]. */
  val AttribSweepHours = Seq(1L, 6L, 24L, 168L)

  /** Attribution-window sensitivity — the robustness check behind
    * q_attribution's single fixed lookback: how many purchases have ANY
    * view touch within 1h / 6h / 24h / 7d, in ONE pass? The range join
    * runs once at the WIDEST window; each narrower answer is a
    * conditional aggregate over the observed (purchase, nearest-view
    * lag) — never four joins. Per purchase only the MINIMUM lag
    * matters, so the join result collapses immediately to one row per
    * purchase (map-side combinable min). Integer microsecond lags;
    * share is the one terminal division. At 100 TB: one user-keyed
    * exchange, the same as a single-window attribution.
    */
  def qAttributionWindows(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("us").as("v_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("us").as("p_us"))
    val widest = AttribSweepHours.max * 3600L * 1000000L
    val lags = purchases
      .join(views.hint("shuffle_hash"),
        col("user_id") === col("v_user")
          && col("v_us") < col("p_us")
          && col("v_us") >= col("p_us") - lit(widest), "left")
      .groupBy(col("purchase_id"))
      .agg(min(col("p_us") - col("v_us")).as("min_lag_us"))
    val windowCounts = AttribSweepHours.map { h =>
      sum(when(col("min_lag_us") <= h * 3600L * 1000000L, 1L)
        .otherwise(0L)).as(s"n_${h}h")
    }
    val agg = lags.agg(count(lit(1)).as("n_purchases"), windowCounts: _*)
    agg.select(col("n_purchases") +: AttribSweepHours.flatMap { h =>
        Seq(col(s"n_${h}h"),
          NumFns.roundPortable(
            col(s"n_${h}h").cast("double") / col("n_purchases"), 6)
            .as(s"share_${h}h"))
      }: _*)
  }

  val qAttributionWindowsOracle: String = {
    val widest = AttribSweepHours.max * 3600L * 1000000L
    val terms = AttribSweepHours.map { h =>
      s"""CAST(sum(CASE WHEN min_lag_us <= ${h * 3600L * 1000000L}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_${h}h,
         |  ${NumFns.roundPortableSql(
              s"sum(CASE WHEN min_lag_us <= ${h * 3600L * 1000000L} " +
              s"THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 6)}
         |    AS share_${h}h""".stripMargin
    }.mkString(",\n|  ")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
       |),
       |p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM ev
       |      WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, us AS v_us FROM ev WHERE event_type = 'view'),
       |lags AS (
       |  SELECT p.purchase_id, min(p.p_us - v.v_us) AS min_lag_us
       |  FROM p LEFT JOIN v ON p.user_id = v.user_id
       |    AND v.v_us < p.p_us AND v.v_us >= p.p_us - $widest
       |  GROUP BY p.purchase_id
       |)
       |SELECT count(*) AS n_purchases,
       |  $terms
       |FROM lags""".stripMargin
  }

  /** Result size for [[qPathMining]]. */
  val PathTopN = 15

  /** Sequential-pattern mining lite: the corpus's most common 3-step
    * event paths (what do users DO, in order?) — the navigation-flow /
    * funnel-discovery primitive that q_funnel (which checks ONE fixed
    * path) and q_markov_chain (which sees only pairwise transitions)
    * can't answer: a high-probability chain of two transitions need not
    * be a frequent 3-path. Shape: one user-keyed window (total
    * (ts, event_id) order — bare-ts would be nondeterministic under
    * same-microsecond events) producing both lead steps in one pass;
    * triple counting is a map-side-combined aggregate over short
    * strings; top-N by (count desc, path) total order. At 100 TB: one
    * exchange on user_id, one on the triple — both bare keys.
    */
  def qPathMining(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(PathTopN)
  }

  /** Shapley-value channel attribution (the game-theoretic answer to
    * first/last-touch's arbitrariness in [[qAttribution]]): each user's
    * view history collapses to a 4-channel exposure bitmask (same ch0-3
    * derivation as q_attribution), the coalition value v(S) is the count
    * of conversions among users whose exposure set is a NONEMPTY subset
    * of S, and channel i's credit is Σ_S w(|S|)·(v(S∪i)−v(S)) with the
    * exact Shapley weights w(s)=s!(3−s)!/4!. Exactness: v is integer;
    * the weight numerators s!(3−s)! are integers, so each channel's
    * credit is ONE integer sum divided by 24 at the very end — no double
    * accumulation anywhere, bit-identical on both engines and immune to
    * the 8-term summation order. Shape: one user-keyed collapse (map-
    * side-combined bit_or + max), a ≤16-cell mask aggregate, and every
    * subsequent frame is 16×16 or 4×8 — constant-sized at ANY corpus
    * scale. The 100 TB cost is exactly one exchange on user_id.
    */
  def qShapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val perUser = e
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("conv"))
    // presence-exact exposure mask: one row per DISTINCT (user, channel),
    // then summing the distinct bits IS the bitwise OR
    val bits = e.filter(col("event_type") === "view")
      .select(col("user_id"),
        (get_json_object(col("props"), "$.k").cast("int") % 4).as("ch"))
      .distinct()
      .groupBy(col("user_id"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), ch)")).as("mask"))
    val users = perUser
      .join(bits.hint("shuffle_hash"), Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("mask"), col("conv"))
    val cells = users.groupBy(col("mask"))
      .agg(sum(col("conv")).as("n_conv"))
    val subsets = cells.sparkSession.range(16).select(col("id").as("s"))
    val v = subsets.join(broadcast(cells),
        (col("mask").bitwiseAND(col("s")) === col("mask")) &&
          col("mask") =!= 0, "left")
      .groupBy(col("s"))
      .agg(coalesce(sum(col("n_conv")), lit(0L)).as("v"))
    val channels = cells.sparkSession.range(4).select(col("id").as("ch"))
    val pairs = channels.join(broadcast(v.select(col("s"), col("v"))),
        col("s").bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), ch)")) === 0)
      .join(broadcast(v.select(col("s").as("s1"), col("v").as("v1"))),
        col("s1") === col("s") + expr("shiftleft(CAST(1 AS BIGINT), ch)"))
    // popcount of s (s ≤ 15): 4 explicit bit terms, integer-exact
    val pop = (col("s").bitwiseAND(1)) +
      (col("s").bitwiseAND(2) / 2) + (col("s").bitwiseAND(4) / 4) +
      (col("s").bitwiseAND(8) / 8)
    val wNum = when(pop === 0, 6L).when(pop === 1, 2L)
      .when(pop === 2, 2L).otherwise(6L) // s!(3-s)!
    pairs
      .groupBy(col("ch"))
      .agg(sum(wNum * (col("v1") - col("v"))).as("num24"))
      .select(concat(lit("ch"), col("ch")).as("channel"),
        NumFns.roundPortable(col("num24") / 24.0, 4).as("shapley"))
      .orderBy(col("channel"))
  }

  val qShapleyAttributionOracle: String =
    s"""WITH ub AS (
       |  SELECT DISTINCT user_id,
       |    CAST(props ->> '$$.k' AS INT) % 4 AS ch
       |  FROM events WHERE event_type = 'view'
       |),
       |um AS (
       |  SELECT user_id, CAST(sum(1 << ch) AS BIGINT) AS mask
       |  FROM ub GROUP BY user_id
       |),
       |uc AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id
       |),
       |cells AS (
       |  SELECT coalesce(mask, 0) AS mask, CAST(sum(conv) AS BIGINT)
       |    AS n_conv
       |  FROM uc LEFT JOIN um USING (user_id)
       |  GROUP BY 1
       |),
       |subsets AS (SELECT unnest(range(0, 16)) AS s),
       |v AS (
       |  SELECT s, CAST(coalesce(sum(n_conv), 0) AS BIGINT) AS v
       |  FROM subsets LEFT JOIN cells
       |    ON (mask & s) = mask AND mask <> 0
       |  GROUP BY s
       |),
       |chs AS (SELECT unnest(range(0, 4)) AS ch),
       |pairs AS (
       |  SELECT ch, v0.s AS s, v0.v AS v, v1.v AS v1,
       |    (v0.s & 1) + (v0.s & 2) // 2 + (v0.s & 4) // 4 + (v0.s & 8) // 8
       |      AS pop
       |  FROM chs JOIN v v0 ON (v0.s & (1 << ch)) = 0
       |  JOIN v v1 ON v1.s = v0.s + (1 << ch)
       |)
       |SELECT 'ch' || ch AS channel,
       |  ${NumFns.roundPortableSql(
            "CAST(sum((CASE WHEN pop = 0 THEN 6 WHEN pop = 3 THEN 6 " +
            "ELSE 2 END) * (v1 - v)) AS DOUBLE) / 24.0", 4)} AS shapley
       |FROM pairs
       |GROUP BY ch
       |ORDER BY channel""".stripMargin

  val qPathMiningOracle: String =
    s"""WITH s AS (
       |  SELECT user_id, event_type,
       |    lead(event_type, 1) OVER w AS e2,
       |    lead(event_type, 2) OVER w AS e3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |)
       |SELECT event_type || '>' || e2 || '>' || e3 AS path,
       |  count(*) AS n_paths
       |FROM s
       |WHERE e2 IS NOT NULL AND e3 IS NOT NULL
       |GROUP BY 1
       |ORDER BY n_paths DESC, path
       |LIMIT $PathTopN""".stripMargin

  /** The two calendar years compared by [[qDecileTransition]]. */
  val TransitionYears: (Int, Int) = (1997, 1998)

  /** Width of a [[qDecileTransition]] revenue rank bucket in cents
    * ($10k): bounds the bucket frame by the yearly-revenue value
    * domain, and each within-bucket ranking task by one band's
    * customers.
    */
  val TransitionBucketCents = 1000000L

  /** Customer revenue-decile transition matrix between two years — the
    * migration view behind every "are our best customers staying on
    * top" question (RFM segments q_rfm_segments freeze ONE period; this
    * is the period-over-period flow). Per year, a customer's decile
    * comes from their revenue rank among that year's active customers
    * (rank-from-counts over $10k revenue buckets, r6 — the
    * q_global_deciles engine, replacing the partitionless row_number
    * that ranked the whole customer-domain frame in ONE task: per-
    * bucket counts → exclusive prefix over the value-domain-sized
    * bucket frame, broadcast back; the within-bucket row_number
    * partitions BY bucket, so every task ranks one $10k revenue band,
    * tie-broken by custkey exactly as before); customers active in both
    * years join on the key and the ≤100 (from, to) counts aggregate
    * map-side. Revenue quantizes to exact cents, ranks are exact
    * integers — the whole matrix is integer-exact.
    */
  def qDecileTransition(s: SparkSession, dir: String): DataFrame = {
    def yearly(y: Int, decCol: String): DataFrame = {
      val rev = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey"))
        .agg(sum(NumFns.roundAwayLong(col("o_totalprice") * 100)).as("rev"))
        .withColumn("bucket",
          floor(col("rev") / TransitionBucketCents).cast("long"))
      val wOff = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = rev.groupBy(col("bucket")).agg(count(lit(1)).as("bc"))
        .withColumn("off", coalesce(sum(col("bc")).over(wOff), lit(0L)))
        .select(col("bucket"), col("off"))
      val n = rev.agg(count(lit(1)).as("n"))
      val wIn = Window.partitionBy(col("bucket"))
        .orderBy(col("rev").desc, col("o_custkey"))
      rev.join(broadcast(offsets), Seq("bucket"))
        .withColumn("r", col("off") + row_number().over(wIn))
        .crossJoin(broadcast(n))
        .select(col("o_custkey"), expr("((r - 1) * 10) div n").as(decCol))
    }
    val (y1, y2) = TransitionYears
    // both yearly frames are per-CUSTOMER (entity-domain) — shuffle_hash,
    // never broadcast (r12 engine-wide PlanAuditSpec ban)
    yearly(y1, "decile_from")
      .join(yearly(y2, "decile_to").hint("shuffle_hash"), Seq("o_custkey"))
      .groupBy(col("decile_from"), col("decile_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("decile_from"), col("decile_to"))
  }

  val qDecileTransitionOracle: String = {
    def yearlySql(y: Int) =
      s"""SELECT o_custkey,
         |    ((CAST(row_number() OVER (ORDER BY rev DESC, o_custkey)
         |      AS BIGINT) - 1) * 10) // CAST(count(*) OVER () AS BIGINT)
         |      AS dec
         |  FROM (
         |    SELECT o_custkey,
         |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |        AS rev
         |    FROM orders WHERE year(o_orderdate) = $y GROUP BY o_custkey
         |  )""".stripMargin
    val (y1, y2) = TransitionYears
    s"""WITH a AS (
       |  ${yearlySql(y1)}
       |), b AS (
       |  ${yearlySql(y2)}
       |)
       |SELECT a.dec AS decile_from, b.dec AS decile_to,
       |  count(*) AS n_customers
       |FROM a JOIN b ON a.o_custkey = b.o_custkey
       |GROUP BY a.dec, b.dec
       |ORDER BY decile_from, decile_to""".stripMargin
  }

  /** Day offsets fitted by [[qRetentionHalflife]]. */
  val HalflifeMaxOffset = 14

  /** Retention half-life — the single number the q_retention_cohort
    * triangle is read FOR: pooled day-k retention r_k (right-censoring
    * corrected: only users whose first day is ≥ k days before the
    * stream's end are eligible at offset k), an exponential fit
    * ln r_k = a + b·k by closed-form OLS over k = 1..[[HalflifeMaxOffset]],
    * and half-life = −ln 2 / b. This is how LTV models and churn
    * alarms consume retention — a decay constant, not a matrix. Shape:
    * one pass builds per-user first days; eligibility is a broadcast of
    * the 1-row max-date frame fanned over ≤14 offsets; retained counts
    * come from the (user, offset) distinct frame; the OLS runs over the
    * ≤14-row curve. Exact integers until the log-linear fit.
    */
  def qRetentionHalflife(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = act.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
    val maxD = act.agg(max(col("d")).as("max_d"))
    val ks = s.range(1, HalflifeMaxOffset + 1).select(col("id").as("k"))
    val eligible = first.crossJoin(broadcast(maxD))
      .crossJoin(broadcast(ks))
      .filter(datediff(col("max_d"), col("cohort_d")) >= col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_eligible"))
    val retained = act.join(first.hint("shuffle_hash"), Seq("user_id"))
      .select(col("user_id"),
        datediff(col("d"), col("cohort_d")).cast("long").as("k"))
      .filter(col("k") >= 1 && col("k") <= HalflifeMaxOffset)
      .distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("n_retained"))
    val curve = eligible.join(retained, Seq("k"), "left")
      .select(col("k"), col("n_eligible"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
      .filter(col("n_retained") > 0)
      .withColumn("r", col("n_retained").cast("double") / col("n_eligible"))
      .withColumn("lr", log(col("r")))
    val wAll = Window.partitionBy()
    curve
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("sk", sum(col("k")).over(wAll))
      // log-sums as DECIMAL: an unordered whole-frame double sum is
      // accumulation-order-dependent; the decimal sum is not
      .withColumn("sl", sum(col("lr").cast(Dec12)).over(wAll).cast("double"))
      .withColumn("skl",
        sum((col("k") * col("lr")).cast(Dec12)).over(wAll).cast("double"))
      .withColumn("skk", sum(col("k") * col("k")).over(wAll))
      .withColumn("b",
        (col("cnt") * col("skl") - col("sk") * col("sl"))
          / (col("cnt") * col("skk") - col("sk") * col("sk")))
      .select(col("k"), col("n_eligible"), col("n_retained"),
        NumFns.roundPortable(col("r"), 6).as("retention"),
        NumFns.roundPortable(-log(lit(2.0)) / col("b"), 4).as("halflife_days"))
      .orderBy(col("k"))
  }

  val qRetentionHalflifeOracle: String =
    s"""WITH act AS (SELECT user_id, ts::DATE AS d FROM events),
       |f AS (SELECT user_id, min(d) AS cohort_d FROM act GROUP BY user_id),
       |mx AS (SELECT max(d) AS max_d FROM act),
       |ks AS (SELECT CAST(unnest(range(1, ${HalflifeMaxOffset + 1})) AS BIGINT) AS k),
       |el AS (
       |  SELECT k, count(*) AS n_eligible
       |  FROM f, mx, ks
       |  WHERE date_diff('day', cohort_d, max_d) >= k
       |  GROUP BY k
       |),
       |re AS (
       |  SELECT k, count(*) AS n_retained FROM (
       |    SELECT DISTINCT act.user_id,
       |      CAST(date_diff('day', f.cohort_d, act.d) AS BIGINT) AS k
       |    FROM act JOIN f ON act.user_id = f.user_id
       |  ) WHERE k >= 1 AND k <= $HalflifeMaxOffset
       |  GROUP BY k
       |),
       |curve AS (
       |  SELECT el.k, n_eligible, COALESCE(n_retained, 0) AS n_retained,
       |    CAST(COALESCE(n_retained, 0) AS DOUBLE) / n_eligible AS r
       |  FROM el LEFT JOIN re ON re.k = el.k
       |  WHERE COALESCE(n_retained, 0) > 0
       |),
       |ols AS (
       |  SELECT k, n_eligible, n_retained, r,
       |    count(*) OVER () AS cnt,
       |    sum(k) OVER () AS sk,
       |    CAST(sum(CAST(ln(r) AS DECIMAL(38,12))) OVER () AS DOUBLE) AS sl,
       |    CAST(sum(CAST(k * ln(r) AS DECIMAL(38,12))) OVER () AS DOUBLE)
       |      AS skl,
       |    sum(k * k) OVER () AS skk
       |  FROM curve
       |)
       |SELECT k, n_eligible, n_retained,
       |  ${NumFns.roundPortableSql("r", 6)} AS retention,
       |  ${NumFns.roundPortableSql(
            "-ln(2.0) / ((cnt * skl - sk * sl) / (cnt * skk - sk * sk))", 4)}
       |    AS halflife_days
       |FROM ols
       |ORDER BY k""".stripMargin

  /** Jain's fairness index of per-user event activity — the
    * systems-fairness single number beside the distributional views
    * (q_participation's tiers, q_gini): J = (Σx)²/(n·Σx²) ∈ (1/n, 1],
    * where 1 is perfectly even usage and 1/n is one user monopolizing
    * the platform; its reciprocal reads as "effectively how many equal
    * users". One grouped count + one moment aggregate, exact integers
    * until the final ratio; Σx² stays in int64 because per-user counts
    * are bounded by per-user activity (DECIMAL-cast anyway for the
    * corpus-scale story, mirrored in HUGEINT).
    */
  def qJainsIndex(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    users.agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sx"),
        sum(col("x").cast(Dec0) * col("x")).as("sxx"))
      .select(col("n_users"), col("sx").as("n_events"),
        NumFns.roundPortable(
          col("sx").cast("double") * col("sx")
            / (col("n_users") * col("sxx").cast("double")), 6)
          .as("jains_index"),
        NumFns.roundPortable(
          col("sx").cast("double") * col("sx")
            / col("sxx").cast("double"), 2).as("effective_users"))
  }

  val qJainsIndexOracle: String =
    s"""WITH u AS (
       |  SELECT user_id, count(*) AS x FROM events GROUP BY user_id
       |),
       |ag AS (
       |  SELECT count(*) AS n_users, CAST(sum(x) AS BIGINT) AS sx,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM u
       |)
       |SELECT n_users, sx AS n_events,
       |  ${NumFns.roundPortableSql(
            "CAST(sx AS DOUBLE) * sx / (n_users * CAST(sxx AS DOUBLE))", 6)}
       |    AS jains_index,
       |  ${NumFns.roundPortableSql(
            "CAST(sx AS DOUBLE) * sx / CAST(sxx AS DOUBLE)", 2)}
       |    AS effective_users
       |FROM ag""".stripMargin

  /** Participation inequality ("90-9-1") tiers of event activity: users
    * ranked by event count, split into the top 1%, next 9%, and the
    * remaining 90%, with each tier's share of ALL events — the standard
    * community-health read (is the platform a broadcast medium with a
    * tiny creator core, or broadly participatory?) that a mean or even
    * a Gini does not make actionable. Tier cuts are exact integer
    * ranks (⌈n/100⌉, ⌈n/10⌉ — documented convention). Shape (r6): NO
    * rank window at all — users ranked by (x desc, user_id) fall into
    * contiguous rank blocks per distinct activity count x, and a tier
    * only needs HOW MANY of a block's users land in it, never which:
    * with o users above a block of c users, tier-1 takes
    * clamp(⌈n/100⌉ − o, 0, c) of them (tier-2 analogously at ⌈n/10⌉).
    * So the whole answer reads off COUNT-OF-COUNTS cells (x, c) — a
    * ~√events-sized frame under any heavy-tailed activity law — with
    * one exclusive-prefix window over those cells and a 3-row roll-up.
    * The user-domain frame is never ranked, windowed, or re-shuffled.
    * All integer until the final shares.
    */
  def qParticipation(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    val cells = users.groupBy(col("x")).agg(count(lit(1)).as("c"))
    val wOff = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = cells.agg(sum(col("c")).as("n"),
      sum(col("x") * col("c")).as("total"))
    val contrib = cells
      .withColumn("o", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("a1",
        greatest(lit(0L), least(ceil(col("n") / 100.0) - col("o"), col("c"))))
      .withColumn("a2",
        greatest(lit(0L), least(ceil(col("n") / 10.0) - col("o"), col("c"))))
      .select(col("x"), col("total"), explode(array(
        struct(lit("1_top1pct").as("tier"), col("a1").as("u")),
        struct(lit("2_next9pct").as("tier"), (col("a2") - col("a1")).as("u")),
        struct(lit("3_rest").as("tier"), (col("c") - col("a2")).as("u"))))
        .as("e"))
    contrib.groupBy(col("e.tier").as("tier"))
      .agg(sum(col("e.u")).as("n_users"),
        sum(col("e.u") * col("x")).as("n_events"),
        max(col("total")).as("total"))
      .filter(col("n_users") > 0)
      .select(col("tier"), col("n_users"), col("n_events"),
        NumFns.roundPortable(
          col("n_events").cast("double") / col("total"), 6).as("event_share"))
      .orderBy(col("tier"))
  }

  val qParticipationOracle: String =
    s"""WITH u AS (
       |  SELECT user_id, count(*) AS x FROM events GROUP BY user_id
       |),
       |r AS (
       |  SELECT x,
       |    CAST(row_number() OVER (ORDER BY x DESC, user_id) AS BIGINT) AS i,
       |    CAST(count(*) OVER () AS BIGINT) AS n
       |  FROM u
       |),
       |t AS (
       |  SELECT x,
       |    CASE WHEN i <= ceil(n / 100.0) THEN '1_top1pct'
       |      WHEN i <= ceil(n / 10.0) THEN '2_next9pct'
       |      ELSE '3_rest' END AS tier
       |  FROM r
       |),
       |tot AS (SELECT CAST(sum(x) AS BIGINT) AS total FROM u)
       |SELECT tier, count(*) AS n_users, CAST(sum(x) AS BIGINT) AS n_events,
       |  ${NumFns.roundPortableSql("CAST(sum(x) AS DOUBLE) / total", 6)}
       |    AS event_share
       |FROM t, tot
       |GROUP BY tier, total
       |ORDER BY tier""".stripMargin
  /** Event-type entropy per user, rolled up by activity tier — the
    * behavioral-diversity read (is a "heavy user" a bot hammering one
    * event type, or a genuinely engaged human spreading across the
    * product?): per user H = ln T − Σc·ln c / T over their event-type
    * counts, averaged within light (<10 events) / mid (10–99) / heavy
    * (100+) tiers alongside the average distinct-type count. Bots
    * depress heavy-tier entropy — a segmentation signal no raw count
    * exposes. Shape: one (user, type) grouped count → user-bounded
    * per-user aggregate (per-term DECIMAL so the ≤|types| in-user sum
    * is order-independent) → 3-row roll-up, DECIMAL-folded averages.
    */
  def qEventEntropy(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val users = cells.groupBy(col("user_id"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("k"),
        sum((col("c") * log(col("c").cast("double"))).cast(Dec12)).as("sc"))
      .select(
        when(col("t") < 10, "1_light").when(col("t") < 100, "2_mid")
          .otherwise("3_heavy").as("tier"),
        col("k"),
        (log(col("t").cast("double"))
          - col("sc").cast("double") / col("t")).as("h"))
    users.groupBy(col("tier"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("k")).as("sk"), sum(col("h").cast(Dec12)).as("sh"))
      .select(col("tier"), col("n_users"),
        NumFns.roundPortable(
          col("sk").cast("double") / col("n_users"), 4).as("avg_types"),
        NumFns.roundPortable(
          col("sh").cast("double") / col("n_users"), 6).as("avg_entropy"))
      .orderBy(col("tier"))
  }

  val qEventEntropyOracle: String =
    s"""WITH cells AS (
       |  SELECT user_id, event_type, count(*) AS c
       |  FROM events GROUP BY 1, 2
       |),
       |u AS (
       |  SELECT user_id, CAST(sum(c) AS BIGINT) AS t, count(*) AS k,
       |    CAST(sum(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS sc
       |  FROM cells GROUP BY user_id
       |),
       |h AS (
       |  SELECT CASE WHEN t < 10 THEN '1_light'
       |    WHEN t < 100 THEN '2_mid' ELSE '3_heavy' END AS tier,
       |    k, ln(CAST(t AS DOUBLE)) - sc / t AS h
       |  FROM u
       |)
       |SELECT tier, count(*) AS n_users,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(k) AS DOUBLE) / count(*)", 4)} AS avg_types,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CAST(h AS DECIMAL(38,12))) AS DOUBLE) / count(*)", 6)}
       |    AS avg_entropy
       |FROM h GROUP BY tier
       |ORDER BY tier""".stripMargin

  /** Gap thresholds probed by [[qSessionGapSensitivity]], minutes. */
  val SessionGapsMin = Seq(15L, 30L, 60L)

  /** Sessionization parameter-sensitivity audit: session counts and
    * mean session length under 15/30/60-minute gap choices, from ONE
    * lag pass — the robustness check behind q_sessionize's fixed gap
    * (if halving the gap doubles session count, the metric is an
    * artifact of the parameter, not the behavior; stable counts mean
    * real session structure). Shape: one user-partitioned window
    * computes each event's gap-to-previous once; each threshold is a
    * conditional sum over the same pass — three parameters cost one
    * scan, the way q_pr_curve sweeps thresholds.
    */
  def qSessionGapSensitivity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    // the three threshold aggregates below each consume this frame;
    // they share the user-partitioned lag window's exchange, so the
    // events scan runs once: "three parameters, one scan"
    val gapped = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .select(col("us"), col("prev")) // 2 longs/row is all the sweeps read
    val perGap = SessionGapsMin.map { g =>
      val gapUs = g * 60L * 1000000L
      gapped.agg(
        count(lit(1)).as("n_events"),
        sum(when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
          .otherwise(0L)).as("n_sessions"))
        .select(lit(g).as("gap_min"), col("n_events"), col("n_sessions"),
          NumFns.roundPortable(
            col("n_events").cast("double") / col("n_sessions"), 4)
            .as("mean_events_per_session"))
    }
    perGap.reduce(_ union _).orderBy(col("gap_min"))
  }

  val qSessionGapSensitivityOracle: String = {
    val rows = SessionGapsMin.map { g =>
      val gapUs = g * 60L * 1000000L
      s"""SELECT CAST($g AS BIGINT) AS gap_min, count(*) AS n_events,
         |  CAST(sum(CASE WHEN prev IS NULL OR us - prev > $gapUs
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
         |  ${NumFns.roundPortableSql(
              s"CAST(count(*) AS DOUBLE) / sum(CASE WHEN prev IS NULL" +
                s" OR us - prev > $gapUs THEN 1 ELSE 0 END)", 4)}
         |    AS mean_events_per_session
         |FROM g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH o AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
       |),
       |g AS (
       |  SELECT us, lag(us, 1) OVER (PARTITION BY user_id
       |    ORDER BY us, event_id) AS prev
       |  FROM o
       |)
       |SELECT * FROM (
       |$rows
       |) ORDER BY gap_min""".stripMargin
  }

  /** Inter-event burstiness per event type: B = (σ−μ)/(σ+μ) of the
    * within-user inter-arrival times — B≈−1 periodic (bots, cron), ≈0
    * Poisson, →1 bursty humans; the ARRIVAL-PROCESS character read
    * that q_poisson_dispersion gives only for daily totals and
    * q_purchase_intervals only as quantiles. Shape: one
    * user×type-partitioned lag pass → per-type integer-microsecond
    * moment cells in DECIMAL(38,0) (Σdt² at corpus scale overflows a
    * long), ≤|types| report rows.
    */
  def qEventBurstiness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val dts = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("us") - col("prev")).as("dt"))
    dts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("dt").cast(Dec0)).as("s1"),
        sum(col("dt").cast(Dec0) * col("dt")).as("s2"))
      .filter(col("n") > 1)
      .select(col("event_type"), col("n").as("n_intervals"),
        NumFns.roundPortable(col("s1").cast("double") / col("n") / 1e6, 2)
          .as("mean_gap_s"),
        NumFns.roundPortable(
          (sqrt((col("n") * col("s2") - col("s1") * col("s1"))
            .cast("double")
            / (col("n").cast("double") * (col("n") - 1).cast("double")))
            - col("s1").cast("double") / col("n"))
            / (sqrt((col("n") * col("s2") - col("s1") * col("s1"))
              .cast("double")
              / (col("n").cast("double") * (col("n") - 1).cast("double")))
              + col("s1").cast("double") / col("n")), 6).as("burstiness"))
      .orderBy(col("event_type"))
  }

  val qEventBurstinessOracle: String =
    s"""WITH o AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |  FROM events
       |),
       |g AS (
       |  SELECT event_type,
       |    us - lag(us, 1) OVER (PARTITION BY user_id, event_type
       |      ORDER BY us, event_id) AS dt
       |  FROM o
       |),
       |m AS (
       |  SELECT event_type, count(*) AS n,
       |    sum(CAST(dt AS HUGEINT)) AS s1,
       |    sum(CAST(dt AS HUGEINT) * dt) AS s2
       |  FROM g WHERE dt IS NOT NULL GROUP BY 1
       |),
       |st AS (
       |  SELECT event_type, n,
       |    CAST(s1 AS DOUBLE) / n AS mean,
       |    sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd
       |  FROM m WHERE n > 1
       |)
       |SELECT event_type, n AS n_intervals,
       |  ${NumFns.roundPortableSql("mean / 1e6", 2)} AS mean_gap_s,
       |  ${NumFns.roundPortableSql("(sd - mean) / (sd + mean)", 6)}
       |    AS burstiness
       |FROM st
       |ORDER BY event_type""".stripMargin

  /** Wilson 95 % intervals on the funnel's step-conversion rates —
    * q_funnel counts stages; this puts calibrated uncertainty on each
    * adjacent conversion (the Wilson interval stays valid at small
    * counts and near 0/1 where the Wald interval q_ab_conversion-style
    * z±√(pq/n) collapses). Shape: the per-user stage frame collapses
    * to three stage counts; both rates and bounds are scalar formulas
    * of exact integers, spelled identically on both engines.
    */
  def qFunnelWilson(s: SparkSession, dir: String): DataFrame = {
    val stages = qFunnel(s, dir)
      .agg(count(lit(1)).as("s1"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("s2"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("s3"))
    def wilson(k: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) = {
      val z2 = 3.8416 // 1.96²
      val p = k.cast("double") / n
      val den = lit(1.0) + lit(z2) / n
      val ctr = (p + lit(z2) / (n * 2.0)) / den
      // n² in DOUBLE: a long·long square wraps at 100 TB user counts
      val hw = (lit(1.96) * sqrt(p * (lit(1.0) - p) / n
        + lit(z2) / (n.cast("double") * n * 4.0))) / den
      (p, ctr - hw, ctr + hw)
    }
    val (p1, lo1, hi1) = wilson(col("s2"), col("s1"))
    val (p2, lo2, hi2) = wilson(col("s3"), col("s2"))
    val steps = stages.select(
      struct(lit("view->click").as("step"), col("s1").as("n_from"),
        col("s2").as("n_to"),
        NumFns.roundPortable(p1, 6).as("rate"),
        NumFns.roundPortable(lo1, 6).as("wilson_lo"),
        NumFns.roundPortable(hi1, 6).as("wilson_hi")).as("a"),
      struct(lit("click->purchase").as("step"), col("s2").as("n_from"),
        col("s3").as("n_to"),
        NumFns.roundPortable(p2, 6).as("rate"),
        NumFns.roundPortable(lo2, 6).as("wilson_lo"),
        NumFns.roundPortable(hi2, 6).as("wilson_hi")).as("b"))
    steps.select(explode(array(col("a"), col("b"))).as("t"))
      .select(col("t.step").as("step"), col("t.n_from").as("n_from"),
        col("t.n_to").as("n_to"), col("t.rate").as("rate"),
        col("t.wilson_lo").as("wilson_lo"),
        col("t.wilson_hi").as("wilson_hi"))
      .orderBy(col("step"))
  }

  val qFunnelWilsonOracle: String = {
    def wilsonSql(k: String, n: String, out: String) = Seq(
      NumFns.roundPortableSql(s"CAST($k AS DOUBLE) / $n", 6) +
        s" AS rate",
      NumFns.roundPortableSql(
        s"((CAST($k AS DOUBLE) / $n + 3.8416 / ($n * 2.0))" +
          s" - 1.96 * sqrt((CAST($k AS DOUBLE) / $n)" +
          s" * (1.0 - CAST($k AS DOUBLE) / $n) / $n" +
          s" + 3.8416 / (CAST($n AS DOUBLE) * $n * 4.0)))" +
          s" / (1.0 + 3.8416 / $n)", 6) + s" AS wilson_lo",
      NumFns.roundPortableSql(
        s"((CAST($k AS DOUBLE) / $n + 3.8416 / ($n * 2.0))" +
          s" + 1.96 * sqrt((CAST($k AS DOUBLE) / $n)" +
          s" * (1.0 - CAST($k AS DOUBLE) / $n) / $n" +
          s" + 3.8416 / (CAST($n AS DOUBLE) * $n * 4.0)))" +
          s" / (1.0 + 3.8416 / $n)", 6) + s" AS wilson_hi").mkString(",\n  ")
    s"""WITH f AS ($qFunnelOracle),
       |m AS (
       |  SELECT count(*) AS s1,
       |    CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS s2,
       |    CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS s3
       |  FROM f
       |)
       |SELECT * FROM (
       |SELECT 'view->click' AS step, s1 AS n_from, s2 AS n_to,
       |  ${wilsonSql("s2", "s1", "a")}
       |FROM m
       |UNION ALL
       |SELECT 'click->purchase', s2, s3,
       |  ${wilsonSql("s3", "s2", "b")}
       |FROM m
       |) ORDER BY step""".stripMargin
  }
}
