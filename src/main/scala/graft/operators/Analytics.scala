package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, TextFns}
import graft.functions.NumFns.{Dec0, Dec12}
import graft.sources.Tables

/** Second-tier analytic operators (SURVEY.md §2): multi-level rollups,
  * exact percentiles, sliding-window aggregation, as-of joins and set
  * operations. Same float discipline as Relational (round after
  * aggregate, mirrored total ordering).
  */
object Analytics {

  /** ROLLUP aggregation: per-(flag,status), per-flag subtotal, and grand
    * total. Two-phase: the corpus first aggregates to its LEAF groups
    * (the only pass that touches scan rows — plain hash agg, no Expand),
    * and ROLLUP's grouping-set Expand then runs over the 6-row leaf
    * frame, re-summing partials. Valid because the DECIMAL partial sums
    * are associative-exact (bit-identical to the single-phase form by
    * construction); Spark's native rollup expands BEFORE the partial
    * aggregate, tripling every scan row through the decimal adders —
    * measured 2× slower at sf0.1. NULL subtotal markers are coalesced to
    * 'ALL' on both engines (the data itself is null-free).
    */
  def qRollupAgg(s: SparkSession, dir: String): DataFrame = {
    val leaves = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(Dec12)).as("s_qty"),
        sum(col("l_extendedprice").cast(Dec12)).as("s_price"),
        count(lit(1)).as("n"))
    leaves
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("s_qty")).cast("double"), 2).as("sum_qty"),
        round(sum(col("s_price")).cast("double"), 2).as("sum_price"),
        sum(col("n")).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("sum_price"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  val qRollupAggOracle: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  ${NumFns.stableSumSql("l_quantity", 2)} AS sum_qty,
      |  ${NumFns.stableSumSql("l_extendedprice", 2)} AS sum_price,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Exact interpolated percentiles (≡ DuckDB `quantile_cont`,
    * h = (n-1)·p, linear between the two bracketing order statistics)
    * computed via distributed sort + window, NOT Spark's `percentile`
    * aggregate: that one is an interpreted ObjectHashAggregate buffering
    * EVERY value per group — measured 5.6s at sf0.1 (the r1 count()-based
    * bench had pruned the percentile columns entirely and hid it), and at
    * 100 TB its per-group state is O(rows), a guaranteed OOM. This form
    * is one hash shuffle on the group key + an in-partition sort
    * (row_number), then a codegen'd max(when(rn = target)) agg — state is
    * O(1) per group and the heavy lifting is Tungsten sort.
    */
  def exactPercentiles(df: DataFrame, grp: String, valueCol: String,
      ps: Seq[(Double, String)]): DataFrame =
    exactPercentilesMulti(df, grp, Seq(valueCol -> ps))

  /** Multi-metric form (r4): percentiles of SEVERAL value columns in ONE
    * scan. The metrics melt scan-side (unpivot = Expand, no shuffle) into
    * (grp, metric, v) rows, so k metrics cost one table pass instead of
    * k — the per-metric cell shuffles were already disjoint, but the
    * fact-table scans were not.
    */
  def exactPercentilesMulti(df: DataFrame, grp: String,
      specs: Seq[(String, Seq[(Double, String)])]): DataFrame =
    exactPercentilesMulti(df, grp, specs, None)

  /** As above, optionally also emitting the group's non-null row count
    * for one metric as `countAs = Some(metric -> alias)` — the count is
    * already an engine byproduct (every cell carries its group size), so
    * callers needing (percentiles, n) per group avoid a second scan of
    * the input.
    */
  def exactPercentilesMulti(df: DataFrame, grp: String,
      specs: Seq[(String, Seq[(Double, String)])],
      countAs: Option[(String, String)]): DataFrame = {
    // melt to a common double type; percentile semantics ignore nulls
    // (quantile_cont / percentile both do) — unfiltered, nulls would
    // inflate n AND sort first, silently shifting every order statistic
    val melted = df.unpivot(
        Array(col(grp)),
        specs.map { case (c, _) => col(c).cast("double").as(c) }.toArray,
        "metric", "v")
      .filter(col("v").isNotNull)
    // rank DISTINCT-VALUE CELLS, not rows: ranking rows with row_number
    // over partitionBy(grp) funnels a whole group's rows through one
    // task's sort — with 3 groups over 100 TB that is 3 tasks doing the
    // corpus. The (grp, metric, value)→count aggregation is map-side
    // combined, so the shuffle and the per-group sort scale with the
    // value domain, not the row count; a cell's rank span
    // [hi_rank−c+1, hi_rank] reproduces row semantics exactly.
    // (Worst case — all values distinct — degrades to a row-rank shape.)
    val cells = melted.groupBy(col(grp), col("metric"), col("v"))
      .agg(count(lit(1)).as("c"))
    val wSort = Window.partitionBy(col(grp), col("metric")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // group sizes via a map-side-combined agg + broadcast join — NOT a
    // count().over(partitionBy) window, whose unbounded frame buffers the
    // whole partition per task (measured ~1.5s of the 2s runtime)
    val counts = cells.groupBy(col(grp), col("metric")).agg(sum(col("c")).as("n"))
    val indexed = cells
      .withColumn("hi_rank", sum(col("c")).over(wSort)) // running frame: streams
      .withColumn("lo_rank", col("hi_rank") - col("c") + 1)
      .join(broadcast(counts), Seq(grp, "metric"))
    def holds(rank: org.apache.spark.sql.Column) =
      rank >= col("lo_rank") && rank <= col("hi_rank")
    val targets = specs.flatMap { case (m, ps) => ps.map { case (p, name) => (m, p, name) } }
    // keep only the ≤2 cells holding bracketing order statistics per
    // (metric, percentile) before aggregating — the agg input is
    // ~2·|targets| cells per group
    val isTarget = targets.map { case (m, p, _) =>
      val lo = floor((col("n") - 1) * p) + 1
      col("metric") === m && (holds(lo) || holds(lo + 1))
    }.reduce(_ || _)
    val aggCols = targets.flatMap { case (m, p, name) =>
      val lo = floor((col("n") - 1) * p) + 1 // 1-based rank of the lower stat
      Seq(
        max(when(col("metric") === m && holds(lo), col("v"))).as(s"${name}_lo"),
        max(when(col("metric") === m && holds(lo + 1), col("v"))).as(s"${name}_hi"))
    } ++ specs.map { case (m, _) =>
      max(when(col("metric") === m, col("n"))).as(s"__n_$m")
    }
    val agged = indexed.filter(isTarget).groupBy(col(grp))
      .agg(aggCols.head, aggCols.tail: _*)
    targets.foldLeft(agged) { case (acc, (m, p, name)) =>
      val h = (col(s"__n_$m") - 1) * p
      val frac = h - floor(h)
      acc.withColumn(name,
        round(col(s"${name}_lo") +
          frac * (coalesce(col(s"${name}_hi"), col(s"${name}_lo")) - col(s"${name}_lo")),
          4))
    }.select(col(grp) +: (targets.map { case (_, _, name) => col(name) } ++
      countAs.map { case (m, alias) => col(s"__n_$m").as(alias) }): _*)
  }

  def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // both metrics AND the group row count from one exactPercentilesMulti
    // call — one lineitem scan total (r4; was two calls = two scans, then
    // one call + a separate count scan)
    exactPercentilesMulti(li, "l_returnflag", Seq(
        "l_extendedprice" -> Seq(0.5 -> "p50_price", 0.95 -> "p95_price"),
        "l_quantity" -> Seq(0.5 -> "p50_qty")),
      countAs = Some("l_quantity" -> "n_rows"))
      .select(col("l_returnflag"), col("p50_price"), col("p95_price"),
        col("p50_qty"), col("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val qPercentilesOracle: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Sliding-window aggregation: per-user 4-row moving average over event
    * time. One shuffle on user_id, per-user sort — the rows-frame is
    * streaming-friendly (bounded state) at any scale.
    */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("mavg", round(avg(col("value")).over(w), 6))
      .select(col("user_id"), col("event_id"), col("mavg"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val qMovingAvgOracle: String =
    """SELECT user_id, event_id,
      |  round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** As-of join, composed from Spark primitives (union + last-ignore-nulls
    * window): for each error event, the most recent purchase by the same
    * user at-or-before it. The union keeps it to ONE shuffle on user_id —
    * no range join, no per-row probe; ties at identical timestamps rank
    * the purchase first (at-or-before semantics). The oracle mirrors the
    * construction rather than using a native ASOF JOIN so tie handling is
    * identical by definition.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .filter(col("event_type").isin("error", "purchase"))
      .withColumn("is_err", when(col("event_type") === "error", 1).otherwise(0))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("is_err"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = ev
      .withColumn("purchase_id",
        when(col("is_err") === 0, col("event_id")))
      .withColumn("last_purchase_id", last(col("purchase_id"), ignoreNulls = true).over(w))
      .withColumn("purchase_us", when(col("is_err") === 0, col("us")))
      .withColumn("last_purchase_us", last(col("purchase_us"), ignoreNulls = true).over(w))
    tagged
      .filter(col("is_err") === 1 && col("last_purchase_id").isNotNull)
      .select(
        col("event_id").as("error_event_id"),
        col("user_id"),
        col("last_purchase_id"),
        (col("us") - col("last_purchase_us")).as("gap_us"))
      .orderBy(col("error_event_id"))
  }

  val qAsofJoinOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      |  FROM events
      |  WHERE event_type IN ('error', 'purchase')
      |), tagged AS (
      |  SELECT user_id, event_id, us, is_err,
      |    last_value(CASE WHEN is_err = 0 THEN event_id END IGNORE NULLS)
      |      OVER w AS last_purchase_id,
      |    last_value(CASE WHEN is_err = 0 THEN us END IGNORE NULLS)
      |      OVER w AS last_purchase_us
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, is_err, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id AS error_event_id, user_id, last_purchase_id,
      |  us - last_purchase_us AS gap_us
      |FROM tagged
      |WHERE is_err = 1 AND last_purchase_id IS NOT NULL
      |ORDER BY error_event_id""".stripMargin

  /** Correlated scalar subquery, decorrelated by hand into the plan Spark
    * would produce anyway (aggregate + join): orders whose total exceeds
    * 2× their customer's average order value. One extra aggregation on
    * the fact table, one broadcastable per-customer average.
    */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    // UNROUNDED exact mean (decimal sum ÷ count, both deterministic) —
    // the avg feeds a comparison, so order-dependent last bits would
    // flip rows in and out of the result, not just wiggle a decimal
    val custAvg = ord.groupBy(col("o_custkey").as("ck"))
      .agg((sum(col("o_totalprice").cast(Dec12))
        .cast("double") / count(lit(1))).as("avg_price"))
    // custAvg is per-CUSTOMER (entity-domain): shuffle_hash, never
    // broadcast (r12 engine-wide PlanAuditSpec ban)
    ord.join(custAvg.hint("shuffle_hash"), col("o_custkey") === col("ck"))
      .filter(col("o_totalprice") > col("avg_price") * 2.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        graft.functions.NumFns.roundPortable(col("avg_price"), 2).as("cust_avg"))
      .orderBy(col("o_orderkey"))
  }

  val qScalarSubqueryOracle: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice,
      |  ${graft.functions.NumFns.roundPortableSql("avg_price", 2)} AS cust_avg
      |FROM orders
      |JOIN (SELECT o_custkey AS ck,
      |        CAST(sum(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS avg_price
      |      FROM orders GROUP BY o_custkey) ca
      |  ON o_custkey = ck
      |WHERE o_totalprice > avg_price * 2.0
      |ORDER BY o_orderkey""".stripMargin

  /** Pivot: event counts per user across event types as columns. The
    * oracle mirrors with FILTERed aggregates (identical semantics to
    * Spark's pivot with an explicit value list — no engine-specific
    * column-name inference).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("user_id"), col("click").as("n_click"), col("error").as("n_error"),
        col("purchase").as("n_purchase"), col("signup").as("n_signup"),
        col("view").as("n_view"))
      .orderBy(col("user_id"))

  val qPivotOracle: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS n_click,
      |  count(*) FILTER (event_type = 'error') AS n_error,
      |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
      |  count(*) FILTER (event_type = 'signup') AS n_signup,
      |  count(*) FILTER (event_type = 'view') AS n_view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Lateral explode + aggregation: corpus-wide word counts (top 50).
    * explode is a generator — rows fan out scan-side, and the count
    * aggregate combines map-side, so the shuffle carries (word, n)
    * partials, not token rows.
    */
  def qExplodeWordcount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)

  val qExplodeWordcountOracle: String =
    s"""SELECT word, count(*) AS n
      |FROM (SELECT unnest(${TextFns.toksSql}) AS word
      |      FROM documents) t
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 50""".stripMargin

  /** Set operations: nations that have customers but no suppliers
    * (EXCEPT) and nations with both (INTERSECT), tagged and unioned.
    * Both are distinct-set operators — hash aggregates over keys only.
    */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val custN = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey")).distinct()
    val suppN = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")).distinct()
    val only = custN.except(suppN).withColumn("kind", lit("customer_only"))
    val both = custN.intersect(suppN).withColumn("kind", lit("both"))
    only.unionByName(both)
      .select(col("kind"), col("nationkey"))
      .orderBy(col("kind"), col("nationkey"))
  }

  /** ntile quartiles: assign each order to a price quartile within its
    * priority class, then profile each quartile. The ntile window sorts
    * per priority partition (bounded, not global); the follow-up
    * aggregate is map-side combinable.
    */
  def qWindowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("o_orderpriority").as("priority"), col("quartile"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("priority"), col("quartile"))
  }

  val qWindowNtileOracle: String =
    """WITH q AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    ntile(4) OVER (PARTITION BY o_orderpriority
      |                   ORDER BY o_totalprice, o_orderkey) AS quartile
      |  FROM orders
      |)
      |SELECT o_orderpriority AS priority, CAST(quartile AS INTEGER) AS quartile,
      |  count(*) AS n_orders,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price
      |FROM q
      |GROUP BY priority, quartile
      |ORDER BY priority, quartile""".stripMargin

  /** lead/lag offsets: per-customer day gaps between consecutive
    * orders. One shuffle on custkey, per-customer sort — the canonical
    * "previous row" pattern with explicit NULL rows at sequence edges.
    */
  def qLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_gap_days",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).cast("bigint"))
      .withColumn("next_gap_days",
        datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate")).cast("bigint"))
      .select(col("o_custkey"), col("o_orderkey"), col("prev_gap_days"), col("next_gap_days"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qLeadLagOracle: String =
    """SELECT o_custkey, o_orderkey,
      |  date_diff('day',
      |    CAST(lag(o_orderdate, 1) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS prev_gap_days,
      |  date_diff('day',
      |    CAST(o_orderdate AS DATE), CAST(lead(o_orderdate, 1) OVER w AS DATE)) AS next_gap_days
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Fixed-width histogram: floor-division binning of order totals —
    * binned aggregation is the scan-side pattern for distribution
    * profiling at scale (map-side combine into ~tens of buckets; the
    * shuffle carries one partial row per bucket per task, never data).
    * Fixed bin width (not min/max-relative) keeps bins deterministic
    * and engine-independent.
    */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("bigint").as("bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        NumFns.stableSum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy(col("bucket"))

  val qHistogramOracle: String =
    s"""SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      |  count(*) AS n_orders,
      |  ${NumFns.stableSumSql("o_totalprice", 2)} AS sum_price
      |FROM orders
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** Statistical aggregates per group: Pearson correlation and sample
    * covariance/stddev of quantity vs price. One map-side-combinable
    * aggregation (all four moments fold associatively); rounded to 4
    * decimals because the engines accumulate in different orders.
    */
  def qCorr(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
        round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val qCorrOracle: String =
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
      |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Argmax aggregation via lexicographic max-of-struct: per nation, the
    * top-balance customer. max(struct(...)) is fully deterministic under
    * value ties (custkey disambiguates inside the struct) and folds
    * associatively — one map-side-combinable aggregate, no window, no
    * sort beyond presentation.
    */
  def qArgmaxAgg(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(max(struct(col("c_acctbal"), col("c_custkey"), col("c_name"))).as("m"))
      .select(col("nationkey"),
        col("m.c_acctbal").as("top_acctbal"),
        col("m.c_custkey").as("top_custkey"),
        col("m.c_name").as("top_name"))
      .orderBy(col("nationkey"))

  val qArgmaxAggOracle: String =
    """SELECT c_nationkey AS nationkey,
      |  max(struct_pack(ab := c_acctbal, ck := c_custkey, nm := c_name)).ab AS top_acctbal,
      |  max(struct_pack(ab := c_acctbal, ck := c_custkey, nm := c_name)).ck AS top_custkey,
      |  max(struct_pack(ab := c_acctbal, ck := c_custkey, nm := c_name)).nm AS top_name
      |FROM customer
      |GROUP BY nationkey
      |ORDER BY nationkey""".stripMargin

  /** Ordered string aggregation: comma-joined sorted nation list per
    * region. collect_list order is nondeterministic under parallelism,
    * so the engine sorts the collected array before joining — the only
    * way a distributed string_agg can be deterministic.
    */
  def qStringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .groupBy(col("n_regionkey").as("regionkey"))
      .agg(
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("regionkey"))

  val qStringAggOracle: String =
    """SELECT n_regionkey AS regionkey,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  count(*) AS n_nations
      |FROM nation
      |GROUP BY regionkey
      |ORDER BY regionkey""".stripMargin

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM): grouped
    * counts from two tables joined on a derived nullable key, where the
    * NULL groups match each other. Null-safe equality is hash-joinable
    * (NULL becomes an ordinary key value) — same single-shuffle plan as
    * a plain equi-join.
    */
  def qNullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    val custG = Tables.customer(s, dir)
      .groupBy(nullif(col("c_nationkey") % 5, lit(2)).as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val suppG = Tables.supplier(s, dir)
      .groupBy(nullif(col("s_nationkey") % 5, lit(2)).as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    custG.join(suppG, col("ck") <=> col("sk"))
      .select(col("ck").as("k"), col("n_cust"), col("n_supp"))
      .orderBy(col("k").asc_nulls_first)
  }

  val qNullsafeJoinOracle: String =
    """WITH c AS (
      |  SELECT nullif(c_nationkey % 5, 2) AS ck, count(*) AS n_cust
      |  FROM customer GROUP BY ck
      |), s AS (
      |  SELECT nullif(s_nationkey % 5, 2) AS sk, count(*) AS n_supp
      |  FROM supplier GROUP BY sk
      |)
      |SELECT c.ck AS k, c.n_cust, s.n_supp
      |FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
      |ORDER BY k NULLS FIRST""".stripMargin

  /** Full outer join: per-nation customer and supplier counts where
    * either side may be absent (suppliers span fewer nations than
    * customers in the synthetic skew). Both inputs pre-aggregate to one
    * row per key before the join — at scale a full outer join of raw
    * facts is a memory hazard; of aggregates it's a dictionary merge.
    */
  def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val custG = Tables.customer(s, dir)
      .filter(col("c_nationkey") < 20)
      .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
    val suppG = Tables.supplier(s, dir)
      .filter(col("s_nationkey") >= 5)
      .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
    custG.join(suppG, col("ck") === col("sk"), "full_outer")
      .select(
        coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val qFullOuterOracle: String =
    """WITH c AS (
      |  SELECT c_nationkey AS ck, count(*) AS n_cust
      |  FROM customer WHERE c_nationkey < 20 GROUP BY ck
      |), s AS (
      |  SELECT s_nationkey AS sk, count(*) AS n_supp
      |  FROM supplier WHERE s_nationkey >= 5 GROUP BY sk
      |)
      |SELECT coalesce(ck, sk) AS nationkey,
      |  coalesce(n_cust, 0) AS n_cust,
      |  coalesce(n_supp, 0) AS n_supp
      |FROM c FULL OUTER JOIN s ON ck = sk
      |ORDER BY nationkey""".stripMargin

  val qSetOpsOracle: String =
    """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
      |s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier),
      |o AS (SELECT 'customer_only' AS kind, nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s) t1),
      |b AS (SELECT 'both' AS kind, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s) t2)
      |SELECT kind, nationkey FROM o
      |UNION ALL
      |SELECT kind, nationkey FROM b
      |ORDER BY kind, nationkey""".stripMargin

  /** Unpivot (wide → long): melt three lineitem measures into
    * (metric, val) rows, then profile each metric. The melt is a
    * scan-side generator (Spark's Expand node — each input row fans out
    * to 3, no shuffle), and the follow-up aggregate combines map-side,
    * so the shuffle carries 3 partial rows per task regardless of fact
    * size. The oracle mirrors with an explicit UNION ALL — identical
    * semantics to the relational unpivot.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "val")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"),
        NumFns.stableSum(col("val"), 2).as("sum_val"),
        NumFns.stableMean(col("val"), count(lit(1)), 6).as("avg_val"))
      .orderBy(col("metric"))

  val qUnpivotOracle: String =
    s"""WITH u AS (
      |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
      |)
      |SELECT metric, count(*) AS n,
      |  ${NumFns.stableSumSql("val", 2)} AS sum_val,
      |  ${NumFns.stableMeanSql("val", "count(*)", 6)} AS avg_val
      |FROM u GROUP BY metric
      |ORDER BY metric""".stripMargin

  /** Deterministic mode: the most frequent order priority per market
    * segment, ties broken lexicographically (smallest priority wins) —
    * the reproducible form of a distributed mode, vs. built-in `mode()`
    * whose tie choice is engine-/partition-order-dependent. Fact join
    * broadcasts the customer side's two columns; the candidate frame
    * after the first aggregate is dimension-sized (segments × priorities
    * ≈ 25 rows), so the rank window is over a trivial frame.
    */
  def qModeAgg(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("c_mktsegment"), col("o_orderpriority").as("modal_priority"),
        col("n"))
      .orderBy(col("c_mktsegment"))
  }

  val qModeAggOracle: String =
    """WITH c AS (
      |  SELECT c_mktsegment, o_orderpriority, count(*) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment, o_orderpriority
      |), r AS (
      |  SELECT c_mktsegment, o_orderpriority, n,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY n DESC, o_orderpriority) AS rk
      |  FROM c
      |)
      |SELECT c_mktsegment, o_orderpriority AS modal_priority, n
      |FROM r WHERE rk = 1
      |ORDER BY c_mktsegment""".stripMargin

  /** Relative-standing: percent_rank and cume_dist of each customer's
    * balance within its market segment. The ordering key includes
    * c_custkey, so ranks are total and both engines compute identical
    * (rank−1)/(n−1) and rank/n ratios — exact integer divisions that
    * round(6) cannot disagree on.
    *
    * Rank-from-counts shape (r4 — replaces the 5-partition window sort,
    * which at 100 TB funnels 20 TB through one task): the same cells
    * trick as exactPercentiles.
    *   1. cells = per-(segment, balance) counts — map-side combined; the
    *      frame scales with the value domain, not the row count.
    *   2. lo_rank per cell via a running sum over the CELLS frame
    *      (partitioned by segment, but over aggregate cells — the skew
    *      cap is the per-segment value domain).
    *   3. each row's total rank = its cell's lo_rank + its row_number
    *      within the cell (custkey tiebreak) − 1. The within-cell window
    *      partitions on the fine-grained (segment, balance) pair — no
    *      hot partition possible.
    *   4. per-segment n broadcast back; pct_rank = (rank−1)/(n−1),
    *      cume = rank/n — with a total ordering these equal Spark's
    *      percent_rank()/cume_dist() by definition, and the operands are
    *      the same exact integers, so the double divisions agree bitwise.
    */
  def qPercentRank(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val cells = cust.groupBy(col("c_mktsegment"), col("c_acctbal"))
      .agg(count(lit(1)).as("c"))
    val wCells = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val indexed = cells
      .withColumn("lo_rank", sum(col("c")).over(wCells) - col("c") + 1)
      .select(col("c_mktsegment"), col("c_acctbal"), col("lo_rank"))
    val counts = cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    val wTie = Window.partitionBy(col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
    cust
      .withColumn("tie_rn", row_number().over(wTie))
      .join(indexed, Seq("c_mktsegment", "c_acctbal"))
      .join(broadcast(counts), Seq("c_mktsegment"))
      .withColumn("rnk", col("lo_rank") + col("tie_rn") - 1)
      .withColumn("pct_rank",
        round((col("rnk") - 1).cast("double") / (col("n") - 1).cast("double"), 6))
      .withColumn("cume", round(col("rnk").cast("double") / col("n").cast("double"), 6))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("pct_rank"), col("cume"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  val qPercentRankOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  // the decimal-stable sum rides in the SHARED SQL string — Spark and
  // DuckDB execute the identical text, so the aggregate is
  // order-independent on both engines
  private val groupingSetsSql =
    s"""SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
      |  count(*) AS n,
      |  ${NumFns.stableSumSql("l_quantity", 2)} AS sum_qty
      |FROM %s
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS — two independent one-dimension marginals
    * ((l_returnflag), (l_linestatus)) in ONE pass, a shape neither ROLLUP
    * nor CUBE expresses. Exercises the engine's SQL entry path
    * (`spark.sql` over a registered view); the plan is a single scan +
    * Expand (each row feeds both sets) + map-side-combined aggregate, so
    * k grouping sets cost one scan, not k. The `grouping()` markers
    * disambiguate the NULL produced by set-collapse from a NULL value —
    * part of the result contract, cast to INT on both engines.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
    s.sql(groupingSetsSql.format("lineitem_gs"))
  }

  val qGroupingSetsOracle: String = groupingSetsSql.format("lineitem")

  /** Width of a skyline price bucket in integer cents ($10). The bucket
    * count is price_domain / width — dimension-sized, independent of row
    * count — so the prefix-max frame stays tiny at any corpus scale.
    */
  val SkylineBucketCents = 1000L

  /** 2-D skyline (Pareto frontier): parts not dominated on (cheaper
    * price, larger size) — a part survives iff no STRICTLY cheaper part
    * has size ≥ its own. Money as integer cents is the cross-engine
    * ordering guarantee: no double last-bit can reorder a frame.
    *
    * Scale shape (r4 — replaces the r3 single-partition global window,
    * which funneled every row through one task's sort): the two-pass CDF
    * trick over fixed-width price buckets.
    *   pass 1: per-bucket max size — map-side-combined aggregate whose
    *     frame is the bucket domain, then an EXCLUSIVE prefix max over
    *     that dimension-sized frame (the only orderBy-without-partitionBy
    *     window left runs over ~domain/width aggregate rows, never raw
    *     rows). Every row of a strictly earlier bucket is strictly
    *     cheaper by construction (cents' < b·W ≤ cents).
    *   pass 2: within-bucket strictly-cheaper running max — a
    *     bucket-PARTITIONED window with a RANGE frame ending 1 cent
    *     before the current row (the value bound is what keeps "strictly
    *     cheaper" exact under price ties; a ROWS frame would leak peers).
    * best_cheaper = greatest(prefix, in_bucket) — greatest skips NULLs,
    * so the open ends of both frames compose correctly.
    */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"),
        round(col("p_retailprice") * 100).cast("long").as("cents"))
      .withColumn("bucket", floor(col("cents") / SkylineBucketCents).cast("long"))
    val bmax = parts.groupBy(col("bucket")).agg(max(col("p_size")).as("bsize"))
    val wPrefix = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = bmax
      .withColumn("prev_max", max(col("bsize")).over(wPrefix))
      .select(col("bucket"), col("prev_max"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    parts.join(broadcast(prefix), "bucket")
      .withColumn("in_bucket", max(col("p_size")).over(wIn))
      .withColumn("best_cheaper", greatest(col("prev_max"), col("in_bucket")))
      .filter(col("best_cheaper").isNull || col("p_size") > col("best_cheaper"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** Width of a global-decile price bucket in integer cents. */
  val DecileBucketCents = 5000L

  /** GLOBAL decile assignment without a global sort — the scale form of
    * ntile() with no partition key, which Spark would otherwise run on a
    * single task ([[qWindowNtile]] is the partitioned exact form; this is
    * the one you need when the ranking is corpus-wide). Rank-from-counts
    * over fixed-width price buckets, then Spark's exact ntile remainder
    * rule applied arithmetically:
    *   1. per-bucket counts (map-side combined) → exclusive prefix sum
    *      over the dimension-sized bucket frame = each bucket's rank
    *      offset; broadcast back.
    *   2. within-bucket row_number (bucket-partitioned, bounded) + offset
    *      = the exact global rank of every row under
    *      ORDER BY cents, o_orderkey — no single-partition window ever
    *      sees raw rows.
    *   3. ntile semantics from rank and n: the first n%k groups take
    *      ceil(n/k) rows, the rest floor(n/k) —
    *      decile = (rank−1) div big + 1 inside the big groups,
    *      r + (rank−1−r·big) div small after them. Integer arithmetic,
    *      bit-identical to the oracle's native ntile(10).
    * The final profile per decile is a 10-row aggregate.
    */
  def qGlobalDeciles(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val rows = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("bucket", floor(col("cents") / DecileBucketCents).cast("long"))
    val bcounts = rows.groupBy(col("bucket")).agg(count(lit(1)).as("bc"))
    val wPrefix = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bcounts
      .withColumn("offset", coalesce(sum(col("bc")).over(wPrefix), lit(0L)))
      .select(col("bucket"), col("offset"))
    val total = rows.agg(count(lit(1)).as("n"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("cents"), col("o_orderkey"))
    val ranked = rows
      .join(broadcast(offsets), "bucket")
      .withColumn("rnk", col("offset") + row_number().over(wIn))
      .crossJoin(broadcast(total))
      // `div` keeps everything in exact int64 — `/` on longs is double
      // division in Spark, a floor() away from an off-by-one at 2^53
      .withColumn("big", expr(s"(n + ${k - 1}) div $k"))
      .withColumn("small", expr(s"n div $k"))
      .withColumn("rmod", col("n") % k)
    ranked
      .withColumn("decile",
        when(col("rnk") <= col("rmod") * col("big"),
          expr("(rnk - 1) div big") + 1)
        .otherwise(col("rmod") + expr("(rnk - 1 - rmod * big) div small") + 1))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("decile"))
  }

  val qGlobalDecilesOracle: String =
    """WITH r AS (
      |  SELECT o_totalprice,
      |    ntile(10) OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
      |                    o_orderkey) AS decile
      |  FROM orders
      |)
      |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_orders,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price
      |FROM r
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  val qSkylineOracle: String =
    """WITH p AS (
      |  SELECT p_partkey, p_retailprice, p_size,
      |    CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      |  FROM part
      |), w AS (
      |  SELECT p_partkey, p_retailprice, p_size,
      |    max(p_size) OVER (ORDER BY cents
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper
      |  FROM p
      |)
      |SELECT p_partkey, p_retailprice, p_size
      |FROM w
      |WHERE best_cheaper IS NULL OR p_size > best_cheaper
      |ORDER BY p_partkey""".stripMargin

  /** Width of a [[qAbcClass]] running-sum bucket in micro-dollars
    * ($10k): per-part revenue is price-domain-scaled (lineitems/part is
    * a TPC-H constant), so the bucket frame stays value-domain-bounded
    * at any SF.
    */
  val AbcBucketMicros = 10000000000L

  /** ABC inventory classification — parts bucketed A/B/C at the 80 %/
    * 95 % cumulative-revenue cuts (the classic Pareto operations read;
    * q_pareto_share reports the curve, this assigns the CLASSES and
    * their footprint). Revenue is micro-quantized int64 so the running
    * total and both thresholds are exact integers — a boundary part
    * cannot flip class between engines. The running sum is the bucketed
    * prefix form (r6 — the partitionless window over the part-domain
    * frame was the q_decile_transition scale bug wearing a different
    * hat): per-$10k-bucket sums → exclusive prefix over the value-
    * domain-sized bucket frame → broadcast back; the within-bucket
    * running sum partitions BY bucket, so no task ever holds more than
    * one revenue band of parts. Output is the 3-row class report: part
    * count, revenue share, count share.
    */
  def qAbcClass(s: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(NumFns.roundAwayLong(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(1e6)))
        .as("rev_q"))
      .withColumn("bucket", floor(col("rev_q") / AbcBucketMicros).cast("long"))
    val wOff = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perPart.groupBy(col("bucket")).agg(sum(col("rev_q")).as("bs"))
      .withColumn("off", coalesce(sum(col("bs")).over(wOff), lit(0L)))
      .select(col("bucket"), col("off"))
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("rev_q").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perPart.agg(sum(col("rev_q")).as("tot"),
      count(lit(1)).as("n_parts"))
    val classed = perPart
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", col("off") + sum(col("rev_q")).over(wIn))
      .crossJoin(broadcast(tot))
      .select(col("rev_q"),
        when(col("cum") * 5 <= col("tot") * 4, "A")         // 80 % = 4/5
          .when(col("cum") * 20 <= col("tot") * 19, "B")    // 95 % = 19/20
          .otherwise("C").as("abc"),
        col("tot"), col("n_parts"))
    classed.groupBy(col("abc"))
      .agg(count(lit(1)).as("n_parts_class"),
        sum(col("rev_q")).as("rev_class_q"),
        max(col("tot")).as("tot"), max(col("n_parts")).as("n_parts"))
      .select(col("abc"), col("n_parts_class"),
        NumFns.roundPortable(
          col("rev_class_q").cast("double") / col("tot"), 6)
          .as("revenue_share"),
        NumFns.roundPortable(
          col("n_parts_class").cast("double") / col("n_parts"), 6)
          .as("count_share"))
      .orderBy(col("abc"))
  }

  val qAbcClassOracle: String =
    s"""WITH pp AS (
       |  SELECT l_partkey,
       |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1e6)
       |      AS BIGINT)) AS BIGINT) AS rev_q
       |  FROM lineitem GROUP BY l_partkey
       |),
       |t AS (
       |  SELECT CAST(sum(rev_q) AS BIGINT) AS tot, count(*) AS n_parts
       |  FROM pp
       |),
       |c AS (
       |  SELECT rev_q,
       |    CASE WHEN CAST(sum(rev_q) OVER w AS BIGINT) * 5 <= tot * 4
       |      THEN 'A'
       |    WHEN CAST(sum(rev_q) OVER w AS BIGINT) * 20 <= tot * 19
       |      THEN 'B'
       |    ELSE 'C' END AS abc,
       |    tot, n_parts
       |  FROM pp, t
       |  WINDOW w AS (ORDER BY rev_q DESC, l_partkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT abc, count(*) AS n_parts_class,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(rev_q) AS DOUBLE) / max(tot)", 6)} AS revenue_share,
       |  ${NumFns.roundPortableSql(
            "count(*) / CAST(max(n_parts) AS DOUBLE)", 6)} AS count_share
       |FROM c GROUP BY abc
       |ORDER BY abc""".stripMargin

  /** Shard fan and per-shard candidate width for [[qTwoPhaseTopk]]. */
  val TpShards = 8
  val TpPerShard = 25

  /** Two-phase certified global top-k (the threshold-algorithm pattern
    * behind every distributed top-k): events are sharded by event_id (so
    * one user's count is SPLIT across shards — the hard case), each
    * shard keeps only its local top-[[TpPerShard]] partial counts, the
    * union of candidates is exactly re-counted, and the result carries
    * its own soundness certificate: a non-candidate's global count is
    * ≤ Σ_shards (shard's k-th kept partial), so if the 10th candidate's
    * exact count beats that threshold sum, the true top-10 is PROVABLY
    * inside the candidate set. This is how a 1000-executor top-k avoids
    * shuffling the full (user, count) domain: each executor ships k
    * rows, the coordinator re-counts |candidates| keys, and the
    * certificate says whether k was wide enough (if false, rerun with
    * wider k — the bound is constructive). All counts integer-exact.
    */
  def qTwoPhaseTopk(s: SparkSession, dir: String): DataFrame = {
    val partials = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % TpShards).as("shard"))
      .groupBy(col("shard"), col("user_id"))
      .agg(count(lit(1)).as("pc"))
      .localCheckpoint() // feeds candidates AND thresholds
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("pc").desc, col("user_id"))
    val kept = partials.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TpPerShard)
      .localCheckpoint()
    val candidates = kept.select(col("user_id")).distinct()
    val thresholds = kept.filter(col("rn") === TpPerShard)
      .agg(coalesce(sum(col("pc")), lit(0L)).as("tsum"))
    val exact = Tables.events(s, dir)
      .join(broadcast(candidates), Seq("user_id"), "left_semi")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)
    exact.crossJoin(broadcast(thresholds))
      .select(col("user_id"), col("n_events"),
        (col("n_events") >= col("tsum")).as("certified"))
      .orderBy(col("n_events").desc, col("user_id"))
  }

  val qTwoPhaseTopkOracle: String =
    s"""WITH p AS (
       |  SELECT event_id % $TpShards AS shard, user_id, count(*) AS pc
       |  FROM events GROUP BY 1, 2
       |),
       |k AS (
       |  SELECT shard, user_id, pc,
       |    row_number() OVER (PARTITION BY shard
       |      ORDER BY pc DESC, user_id) AS rn
       |  FROM p
       |),
       |kept AS (SELECT * FROM k WHERE rn <= $TpPerShard),
       |cand AS (SELECT DISTINCT user_id FROM kept),
       |th AS (
       |  SELECT CAST(coalesce(sum(pc), 0) AS BIGINT) AS tsum
       |  FROM kept WHERE rn = $TpPerShard
       |),
       |ex AS (
       |  SELECT e.user_id, count(*) AS n_events
       |  FROM events e JOIN cand USING (user_id)
       |  GROUP BY e.user_id
       |  ORDER BY n_events DESC, e.user_id
       |  LIMIT 10
       |)
       |SELECT user_id, n_events, n_events >= tsum AS certified
       |FROM ex, th
       |ORDER BY n_events DESC, user_id""".stripMargin

  /** Exact nonparametric 95 % confidence interval for the MEDIAN order
    * value via order statistics (binomial rank bounds ⌊(n±1.96√n)/2⌋)
    * — the uncertainty q_percentiles' point estimates don't carry, by
    * the distribution-free route (no normality, no bootstrap). Scale
    * shape: rank picks NEVER sort rows — a $100-bucket histogram
    * locates each target rank's bucket (bounded frame, exclusive
    * prefix), and the within-bucket refinement windows only THAT
    * bucket's value cells (bucket-width-bounded) — the
    * q_global_deciles rank-from-counts engine applied to three ranks.
    * Integer cents end-to-end.
    */
  def qMedianCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.orders(s, dir)
      .select(NumFns.roundAwayLong(col("o_totalprice") * 100).as("v"))
      .localCheckpoint() // feeds the bucket histogram AND refinement
    val buckets = vals.groupBy((col("v") / 10000L).cast("long").as("b"))
      .agg(count(lit(1)).as("c"))
    val n = vals.agg(count(lit(1)).as("n"))
    val wB = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumB = buckets
      .withColumn("before", coalesce(sum(col("c")).over(wB), lit(0L)))
      .localCheckpoint() // bounded bucket frame, reused per target
    // target ranks: lo/med/hi from the binomial normal approximation
    val targets = n.select(
      explode(array(
        struct(lit("ci_lo").as("which"),
          floor((col("n") - lit(1.96) * sqrt(col("n"))) / 2.0)
            .cast("long").as("k")),
        struct(lit("median").as("which"),
          ceil(col("n") / 2.0).cast("long").as("k")),
        struct(lit("ci_hi").as("which"),
          least(col("n"),
            ceil((col("n") + lit(1.96) * sqrt(col("n"))) / 2.0 + 1)
              .cast("long")).as("k")))).as("t"))
      .select(col("t.which").as("which"),
        greatest(lit(1L), col("t.k")).as("k"))
    // bucket holding each rank: smallest b with before+c >= k
    val picked = targets.join(broadcast(cumB),
        col("before") + col("c") >= col("k"))
      .groupBy(col("which"), col("k"))
      .agg(min_by(struct(col("b"), col("before")), col("b")).as("bb"))
      .select(col("which"), col("k"), col("bb.b").as("b"),
        col("bb.before").as("before"))
    // refine inside the one straddling bucket: cells + in-bucket prefix
    val inBucket = vals.join(broadcast(picked.select(col("b")).distinct()),
        (col("v") / 10000L).cast("long") === col("b"))
      .groupBy(col("b"), col("v")).agg(count(lit(1)).as("cv"))
    val wV = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumV = inBucket.withColumn("cum", sum(col("cv")).over(wV))
    picked.join(broadcast(cumV), Seq("b"))
      .filter(col("before") + col("cum") >= col("k"))
      .groupBy(col("which"))
      .agg(min(col("v")).as("v"))
      .select(col("which"),
        NumFns.roundPortable(col("v") / 100.0, 2).as("order_value"))
      .orderBy(col("which"))
  }

  val qMedianCiOracle: String =
    s"""WITH vals AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
       |),
       |nn AS (SELECT count(*) AS n FROM vals),
       |t AS (
       |  SELECT which, greatest(1, k) AS k FROM (
       |    SELECT 'ci_lo' AS which,
       |      CAST(floor((n - 1.96 * sqrt(n)) / 2.0) AS BIGINT) AS k FROM nn
       |    UNION ALL
       |    SELECT 'median', CAST(ceil(n / 2.0) AS BIGINT) FROM nn
       |    UNION ALL
       |    SELECT 'ci_hi',
       |      least(n, CAST(ceil((n + 1.96 * sqrt(n)) / 2.0 + 1) AS BIGINT))
       |      FROM nn
       |  )
       |),
       |rk AS (
       |  SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS rn
       |  FROM vals
       |)
       |SELECT which,
       |  ${NumFns.roundPortableSql(
            "(SELECT min(v) FROM rk WHERE rn >= k) / 100.0", 2)}
       |    AS order_value
       |FROM t
       |ORDER BY which""".stripMargin

  /** Trim share per tail for [[qTrimmedMean]]. */
  val TrimShare = 0.1

  /** 10 %-trimmed mean of order value per priority, beside the raw
    * mean — the robust location aggregate between mean (outlier-
    * dragged) and median (throws away 98 % of the data): drop the k =
    * ⌊0.1n⌋ smallest and largest values per group and average the
    * rest. Scale shape: NO per-group row sort — each group's trimmed
    * SUM comes from its value cells via clamped-overlap arithmetic
    * (a cell [before, before+cnt) contributes (min(cum, n−k) −
    * max(before, k))⁺ copies of its value — rank-from-counts
    * generalized from rank PICKS to rank RANGES), with the cum/before
    * windows partitioned by the 5-value priority key over cells.
    * Integer cents exact until the final division.
    */
  def qTrimmedMean(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("prio"),
        NumFns.roundAwayLong(col("o_totalprice") * 100).as("v"))
    val cells = vals.groupBy(col("prio"), col("v"))
      .agg(count(lit(1)).as("cv"))
    val tot = cells.groupBy(col("prio"))
      .agg(sum(col("cv")).as("n"), sum(col("v").cast(Dec0) * col("cv"))
        .as("sraw"))
      .withColumn("k", floor(col("n") * TrimShare).cast("long"))
    val wCum = Window.partitionBy(col("prio")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trimmed = cells
      .withColumn("cum", sum(col("cv")).over(wCum))
      .join(broadcast(tot), Seq("prio"))
      .select(col("prio"), col("v"), col("n"), col("k"), col("sraw"),
        greatest(lit(0L),
          least(col("cum"), col("n") - col("k"))
            - greatest(col("cum") - col("cv"), col("k"))).as("keep"))
      .groupBy(col("prio"), col("n"), col("k"), col("sraw"))
      .agg(sum(col("v").cast(Dec0) * col("keep")).as("strim"),
        sum(col("keep")).as("nkeep"))
    trimmed.select(col("prio"), col("n").as("n_orders"),
      col("k").as("n_trimmed_per_tail"),
      NumFns.roundPortable(
        col("sraw").cast("double") / col("n") / 100.0, 2).as("raw_mean"),
      NumFns.roundPortable(
        col("strim").cast("double") / col("nkeep") / 100.0, 2)
        .as("trimmed_mean"))
      .orderBy(col("prio"))
  }

  val qTrimmedMeanOracle: String =
    s"""WITH vals AS (
       |  SELECT o_orderpriority AS prio,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
       |  FROM orders
       |),
       |rk AS (
       |  SELECT prio, v,
       |    CAST(row_number() OVER (PARTITION BY prio ORDER BY v)
       |      AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS n
       |  FROM vals
       |),
       |ag AS (
       |  SELECT prio, max(n) AS n,
       |    CAST(floor(max(n) * $TrimShare) AS BIGINT) AS k,
       |    sum(CAST(v AS HUGEINT)) AS sraw,
       |    sum(CASE WHEN rn > floor(n * $TrimShare)
       |      AND rn <= n - floor(n * $TrimShare)
       |      THEN CAST(v AS HUGEINT) END) AS strim,
       |    CAST(sum(CASE WHEN rn > floor(n * $TrimShare)
       |      AND rn <= n - floor(n * $TrimShare) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nkeep
       |  FROM rk GROUP BY prio
       |)
       |SELECT prio, n AS n_orders, k AS n_trimmed_per_tail,
       |  ${NumFns.roundPortableSql(
            "CAST(sraw AS DOUBLE) / n / 100.0", 2)} AS raw_mean,
       |  ${NumFns.roundPortableSql(
            "CAST(strim AS DOUBLE) / nkeep / 100.0", 2)} AS trimmed_mean
       |FROM ag
       |ORDER BY prio""".stripMargin
}
