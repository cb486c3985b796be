package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NumFns
import graft.sources.Tables
import graft.streaming.EventPipeline

/** Core relational/analytic operators (SURVEY.md §2, table 2).
  *
  * Float discipline shared with every oracle in this repo: aggregate sums
  * and means of doubles go through NumFns.stableSum/stableMean (exact
  * DECIMAL accumulation, rounded once) on BOTH engines, so the
  * order-dependent last bits of floating-point accumulation can never flip
  * a comparison; raw (unaggregated) doubles pass through untouched; every
  * query ends in a deterministic total ORDER BY mirrored by the oracle.
  *
  * Scale notes are per-operator; the common ones: dimension tables
  * (region/nation/supplier/part/customer) get broadcast hints — at 100 TB
  * the facts (lineitem/orders/events) are the only shuffled relations, and
  * each is shuffled at most once per query.
  */
object Relational {

  /** A lineitem's discounted revenue. */
  private[operators] def revenue: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** SQL twin of [[revenue]]. */
  private[operators] val RevSql = "l_extendedprice * (1.0 - l_discount)"

  /** The oracle's summed [[revenue]] select item, then `more`, over
    * lineitem ⋈ orders ⋈ customer: a FROM clause further joins extend.
    */
  private[operators] def customerRevenueSql(more: String*): String =
    s"""${NumFns.stableSumSql(RevSql, 2)} AS revenue${more.map(", " + _).mkString}
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** TPC-H Q1 shape: one full scan, map-side partial aggregation into a
    * 6-group hash table — no data shuffle beyond the per-task partial
    * rows. Scales linearly; AQE coalesces the tiny final stage.
    *
    * Float discipline via [[graft.plans.QuantAgg]] (r4): the six
    * money/mean aggregates are exact int64 micro-unit sums in a
    * two-phase salted aggregate, not per-row DECIMAL(38,12) — measured
    * 3.6× on this query (1.44 s → 0.40 s at sf0.1; the decimal Sum is
    * BigDecimal-backed per row), with the same order-independence
    * guarantee and the decimal cost paid only on the groups×salts
    * partial frame.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    graft.plans.QuantAgg.agg(
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02"))),
      Seq("l_returnflag", "l_linestatus"),
      saltKey = col("l_orderkey"),
      specs = Seq(
        graft.plans.QuantAgg.Spec(col("l_quantity"), "sum_qty", 2),
        graft.plans.QuantAgg.Spec(col("l_extendedprice"), "sum_base_price", 2),
        graft.plans.QuantAgg.Spec(revenue, "sum_disc_price", 2),
        graft.plans.QuantAgg.Spec(revenue * (lit(1.0) + col("l_tax")), "sum_charge", 2),
        graft.plans.QuantAgg.Spec(col("l_quantity"), "avg_qty", 6, mean = true),
        graft.plans.QuantAgg.Spec(col("l_discount"), "avg_disc", 6, mean = true)),
      countAs = Some("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Oracle: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${NumFns.quantSumSql("l_quantity", 2)} AS sum_qty,
      |  ${NumFns.quantSumSql("l_extendedprice", 2)} AS sum_base_price,
      |  ${NumFns.quantSumSql(RevSql, 2)} AS sum_disc_price,
      |  ${NumFns.quantSumSql(s"$RevSql * (1.0 + l_tax)", 2)} AS sum_charge,
      |  ${NumFns.quantMeanSql("l_quantity", "count(*)", 6)} AS avg_qty,
      |  ${NumFns.quantMeanSql("l_discount", "count(*)", 6)} AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: selective dimension filter, two fact joins, grouped
    * agg, top-k. customer is broadcast (a 1/5 segment of customers is small
    * relative to facts); orders⋈lineitem shuffles each side once on the
    * order key; final top-10 is TakeOrderedAndProject (no global sort).
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir).filter(col("o_orderdate") < to_timestamp(lit("1998-06-01")))
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > to_timestamp(lit("1998-06-01")))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(NumFns.stableSum(revenue, 2).as("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    s"""SELECT l_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  o_orderpriority,
      |  ${customerRevenueSql()}
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: star join. region→nation→customer and supplier are
    * all broadcast; lineitem⋈orders is the only shuffle join. The
    * c_nationkey = s_nationkey condition rides along as a post-join filter
    * on broadcast columns — zero extra shuffles.
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val nr = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    val cust = Tables.customer(s, dir)
    val supp = Tables.supplier(s, dir)
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(NumFns.stableSum(revenue, 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Oracle: String =
    s"""SELECT n_name,
      |  ${customerRevenueSql()}
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Pushdown showcase: both predicates and the 4-column projection reach
    * the parquet reader (PushedFilters + ReadSchema) — at 100 TB this scans
    * a fraction of one column-chunk stripe per row group, not the table.
    */
  def qFilterPushdown(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") <= to_timestamp(lit("1997-03-31")) &&
        col("l_quantity") <= 5.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val qFilterPushdownOracle: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <= TIMESTAMP '1997-03-31 00:00:00'
      |  AND l_quantity <= 5.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Window function: top-3 customers per market segment by balance.
    * Partitioned window — shuffles once on the partition key, sorts within
    * partitions only (no global sort); at scale the per-segment sort is
    * bounded by segment size, and AQE splits skewed segments.
    */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_mktsegment"), col("rk"), col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  val qWindowRankOracle: String =
    """SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, c_custkey, c_name, c_acctbal FROM (
      |  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk
      |  FROM customer) t
      |WHERE rk <= 3
      |ORDER BY c_mktsegment, rk""".stripMargin

  /** Exact multi-column distinct aggregation. Spark expands this to a
    * single aggregate with count(distinct) rewrite (expand + two-phase
    * agg); partials combine map-side so the shuffle carries distinct keys
    * only.
    */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val qDistinctAggOracle: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS distinct_parts,
      |  count(DISTINCT l_suppkey) AS distinct_supps,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Left-anti join: customers with no orders since 2001. The orders side
    * is filtered and reduced to its join key before the shuffle (column
    * pruning), so the anti join moves keys, not rows.
    */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01"))),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val qAntiJoinOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  /** Left-semi join: parts that shipped at least once, with attributes.
    * Same key-only shuffle shape as the anti join.
    */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .join(Tables.lineitem(s, dir), col("p_partkey") === col("l_partkey"), "left_semi")
      .filter(col("p_size") >= 40)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      .orderBy(col("p_partkey"))

  val qSemiJoinOracle: String =
    """SELECT p_partkey, p_brand, p_type, p_size
      |FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |  AND p_size >= 40
      |ORDER BY p_partkey""".stripMargin

  /** Event-time tumbling-window aggregation (batch mirror of the
    * streaming pipeline in graft.streaming). Hour buckets are emitted as
    * epoch seconds (BIGINT) so no timestamp-precision ambiguity survives
    * into the comparison.
    */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        NumFns.stableSum(col("value"), 2).as("sum_value"))
      .orderBy(col("hour_epoch"), col("event_type"))

  val qEventsHourlyOracle: String =
    s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |  event_type,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  ${NumFns.stableSumSql("value", 2)} AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_epoch, event_type""".stripMargin

  /** Gap-based sessionization (30-minute inactivity): lag + running sum
    * over a user-partitioned window. One shuffle on user_id; per-user
    * sort only. Timestamps are compared at microsecond precision on both
    * engines (Spark truncates parquet ns → µs; oracle uses epoch_us).
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    sessions(s, dir)
      .groupBy(col("user_id"))
      .agg(max(col("sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** Every event `(user_id, event_id, us, more*)` with its user's session
    * number `sess`: a session starts at a user's first event and after
    * each gap over [[EventPipeline.SessionGapUs]].
    */
  def sessions(s: SparkSession, dir: String, more: String*): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(Seq(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        ++ more.map(col): _*)
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > EventPipeline.SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** SQL twin of [[sessions]]: CTE `se` and the CTEs it reads. */
  def sessionsSql(more: String*): String =
    s"""o AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us${more.map(", " + _).mkString} FROM events
       |), g AS (
       |  SELECT *,
       |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > ${EventPipeline.SessionGapUs}
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), se AS (
       |  SELECT *,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                     ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM g
       |)""".stripMargin

  val qSessionizeOracle: String =
    s"""WITH ${sessionsSql()}
       |SELECT user_id, CAST(MAX(sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
       |FROM se GROUP BY user_id ORDER BY user_id""".stripMargin

  /** JSON field extraction from the events.props payload; integer sums are
    * exact so no rounding is needed. At scale this is a pure map + one agg
    * shuffle; get_json_object is codegen'd.
    */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val qJsonExtractOracle: String =
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
}
