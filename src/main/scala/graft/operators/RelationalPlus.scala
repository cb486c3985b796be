package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NumFns
import graft.functions.NumFns.Dec12
import graft.sources.Tables

/** Deep relational coverage (SURVEY.md §2, table 2): the TPC-H query
  * shapes beyond Q1/Q3/Q5 — EXISTS / NOT EXISTS decorrelation, correlated
  * scalar aggregates, HAVING join-back, OR-of-conjunction pushdown,
  * multi-fact semi/anti chains — each adapted to the testdata star schema
  * (no partsupp / commit dates; lateness is derived from ship-vs-order
  * dates).
  *
  * Scale discipline shared with [[Relational]]: dimension tables
  * (region/nation/customer/supplier/part, and dimension-sized aggregate
  * frames) are broadcast; fact⋈fact joins shuffle each side once on the
  * join key; fact-DERIVED frames are never broadcast (the r1
  * driver-build cliff) — they join via shuffle_hash; money sums go
  * through [[NumFns.stableSum]] so partial-aggregation order can never
  * flip a hash comparison.
  */
object RelationalPlus {

  import Relational.{RevSql, customerRevenueSql, revenue}

  /** TPC-H Q4 shape (order-priority checking): EXISTS over a fact table
    * decorrelates to a left-semi join — the lineitem side is pruned to
    * (l_orderkey, l_shipdate) before the shuffle, so the semi join moves
    * two columns, and the non-equi lateness predicate rides the equi
    * join as a post-probe filter (no extra pass).
    */
  def qPriorityExists(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val qPriorityExistsOracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q7 shape (volume shipping): cross-region trade flows by ship
    * year. All five dimension hops (supplier→nation→region on one side,
    * customer→nation→region on the other) are broadcast; the only
    * shuffle is lineitem⋈orders on the order key. The region-pair
    * predicate lands post-broadcast-join as a cheap string filter.
    */
  def qRegionTrade(s: SparkSession, dir: String): DataFrame = {
    val nr1 = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name").isin("ASIA", "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("s_nkey"), col("r_name").as("supp_region"))
    val nr2 = nr1.select(col("s_nkey").as("c_nkey"), col("supp_region").as("cust_region"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nr1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(nr2), col("c_nationkey") === col("c_nkey"))
      .filter(col("supp_region") =!= col("cust_region"))
      .groupBy(col("supp_region"), col("cust_region"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(NumFns.stableSum(revenue, 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("supp_region"), col("cust_region"), col("l_year"))
  }

  val qRegionTradeOracle: String =
    s"""SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
       |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |  ${customerRevenueSql("count(*) AS n_items")}
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
       |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
       |WHERE r1.r_name <> r2.r_name
       |  AND r1.r_name IN ('ASIA', 'EUROPE') AND r2.r_name IN ('ASIA', 'EUROPE')
       |GROUP BY 1, 2, 3
       |ORDER BY supp_region, cust_region, l_year""".stripMargin

  /** TPC-H Q8 shape (market share): a conditional-sum ratio — the share
    * of ASIA-customer ECONOMY-part revenue supplied by one nation, per
    * order year. Both numerator and denominator are stable decimal sums
    * computed in ONE grouped pass (the CASE rides the same aggregate);
    * the ratio is rounded with the portable binary-rounding form so the
    * two engines can't disagree at a decimal boundary.
    */
  def qMarketShare(s: SparkSession, dir: String): DataFrame = {
    val nAsia = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"))
    val nSupp = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val joined = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nAsia), col("c_nationkey") === col("c_nkey"), "left_semi")
      .join(Tables.part(s, dir).filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("s_nkey"))
    joined
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        NumFns.stableSum(
          when(col("supp_nation") === "NATION_5", revenue).otherwise(lit(0.0)), 2).as("nrev"),
        NumFns.stableSum(revenue, 2).as("rev"))
      .select(col("o_year"),
        NumFns.roundPortable(col("nrev") / col("rev"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val qMarketShareOracle: String = {
    val nrev = NumFns.stableSumSql(
      s"CASE WHEN n1.n_name = 'NATION_5' THEN $RevSql ELSE 0.0 END", 2)
    val rev = NumFns.stableSumSql(RevSql, 2)
    s"""WITH t AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |    $nrev AS nrev, $rev AS rev
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  JOIN region ON n2.n_regionkey = r_regionkey
       |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
       |  GROUP BY 1
       |)
       |SELECT o_year, ${NumFns.roundPortableSql("nrev / rev", 6)} AS mkt_share
       |FROM t ORDER BY o_year""".stripMargin
  }

  /** TPC-H Q9 shape (product-type profit): profit per supplier nation and
    * order year for a part-name family. The cost side has no partsupp in
    * this schema, so cost is modeled as a retail-price fraction — the
    * plan shape (fact⋈fact shuffle + three broadcast dims + grouped
    * stable sum) is the Q9 one.
    *
    * Float discipline: the profit expression mixes two 4-decimal money
    * products, and its double→DECIMAL(38,12) cast can round DIFFERENTLY
    * on the two engines (Spark casts the shortest-decimal string, DuckDB
    * the exact binary value) — so this aggregate quantizes per row to
    * int64 micro-units with the portable binary round instead
    * ([[NumFns.roundAwayLong]]), summing exactly in BIGINT on both.
    */
  def qProductProfit(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(s, dir).filter(col("p_name").contains("widget")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(NumFns.roundPortable(
        sum(NumFns.roundAwayLong(
          (revenue - lit(0.5) * col("p_retailprice") * col("l_quantity")) * lit(1e6)))
          .cast("double") / lit(1e6), 2).as("profit"))
      .orderBy(col("nation"), col("o_year"))

  val qProductProfitOracle: String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  ${NumFns.quantSumSql(s"$RevSql - 0.5 * p_retailprice * l_quantity", 2)} AS profit
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY 1, 2
       |ORDER BY nation, o_year""".stripMargin

  /** TPC-H Q10 shape (returned items): top-20 customers by revenue lost
    * to returns in a half-year window. Grouped agg on the customer key
    * then TakeOrderedAndProject — the top-k never globally sorts.
    */
  def qReturnedItems(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-07-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(NumFns.stableSum(revenue, 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  val qReturnedItemsOracle: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  ${customerRevenueSql("count(*) AS n_items")}
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** TPC-H Q12 shape (shipping modes → lateness mix): conditional counts
    * by a derived delay bucket. One fact⋈fact shuffle; the CASE
    * aggregates combine map-side, so the shuffle carries 3 buckets × 2
    * counters per task.
    */
  def qShipDelayMix(s: SparkSession, dir: String): DataFrame = {
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        when(delay > 60, "late").when(delay > 30, "slow").otherwise("ontime")
          .as("delay_bucket"))
      .agg(
        sum(when(isHigh, 1L).otherwise(0L)).as("high_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_count"))
      .orderBy(col("delay_bucket"))
  }

  val qShipDelayMixOracle: String =
    """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60 THEN 'late'
      |            WHEN datediff('day', o_orderdate, l_shipdate) > 30 THEN 'slow'
      |            ELSE 'ontime' END AS delay_bucket,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1
      |ORDER BY delay_bucket""".stripMargin

  /** TPC-H Q14 shape (promotion effect), widened from one month to a
    * per-ship-year series: PROMO revenue share as a conditional-sum
    * ratio. Same one-pass + portable-round discipline as
    * [[qMarketShare]].
    */
  def qPromoShare(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("s_year"))
      .agg(
        NumFns.stableSum(
          when(col("p_type") === "PROMO", revenue).otherwise(lit(0.0)), 2).as("prev"),
        NumFns.stableSum(revenue, 2).as("rev"))
      .select(col("s_year"),
        NumFns.roundPortable(col("prev") / col("rev"), 6).as("promo_share"))
      .orderBy(col("s_year"))

  val qPromoShareOracle: String = {
    val prev = NumFns.stableSumSql(
      s"CASE WHEN p_type = 'PROMO' THEN $RevSql ELSE 0.0 END", 2)
    val rev = NumFns.stableSumSql(RevSql, 2)
    s"""WITH t AS (
       |  SELECT CAST(year(l_shipdate) AS BIGINT) AS s_year,
       |    $prev AS prev, $rev AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1
       |)
       |SELECT s_year, ${NumFns.roundPortableSql("prev / rev", 6)} AS promo_share
       |FROM t ORDER BY s_year""".stripMargin
  }

  /** TPC-H Q16 shape (supplier diversity): distinct-supplier counts per
    * (brand, size) cell with NOT-filters on the part dim. The distinct
    * rewrite shuffles (brand, size, suppkey) triples once; the part
    * filters are all broadcast-side.
    */
  def qSupplierDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
          .filter(col("p_type") =!= "PROMO" && col("p_brand") =!= "Brand#5" &&
            col("p_size").isin(10, 20, 30, 40)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))

  val qSupplierDiversityOracle: String =
    """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_type <> 'PROMO' AND p_brand <> 'Brand#5'
      |  AND p_size IN (10, 20, 30, 40)
      |GROUP BY 1, 2
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    * AVG subquery decorrelates to a grouped aggregate joined back on the
    * part key. The per-part frame is fact-DERIVED → shuffle_hash, never
    * broadcast (the r1 cliff); both sides shuffle once on l_partkey.
    * The 0.2·avg threshold compares exactly on both engines: quantities
    * are integer-valued doubles, so the per-part sum (< 2^53) and the
    * division are bit-identical.
    */
  def qSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val pa = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("a_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
          .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")),
        col("l_partkey") === col("p_partkey"))
      .join(pa.hint("shuffle_hash"), col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .groupBy(col("p_brand"))
      .agg(NumFns.stableSum(col("l_extendedprice"), 2).as("sum_extended"),
        count(lit(1)).as("n_small"))
      .orderBy(col("p_brand"))
  }

  val qSmallQtyRevenueOracle: String =
    s"""WITH pa AS (
       |  SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
       |  FROM lineitem GROUP BY 1
       |)
       |SELECT p_brand, ${NumFns.stableSumSql("l_extendedprice", 2)} AS sum_extended,
       |  count(*) AS n_small
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN pa ON l_partkey = a_partkey
       |WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
       |  AND l_quantity < 0.2 * avg_qty
       |GROUP BY 1
       |ORDER BY p_brand""".stripMargin

  /** TPC-H Q18 shape (large-volume orders): HAVING over a fact aggregate,
    * joined back to orders/customer for attribution, top-20 by price.
    * The aggregate side is fact-derived → shuffle_hash on the order key
    * (both sides already hash-partitioned by it); quantity sums are
    * exact integer-valued doubles.
    */
  def qLargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("b_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150.0)
    big.hint("shuffle_hash")
      .join(Tables.orders(s, dir), col("b_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  val qLargeOrdersOracle: String =
    """WITH big AS (
      |  SELECT l_orderkey AS b_orderkey, sum(l_quantity) AS sum_qty
      |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
      |)
      |SELECT c_custkey, c_name, o_orderkey, o_totalprice, CAST(sum_qty AS DOUBLE) AS sum_qty
      |FROM big
      |JOIN orders ON b_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q19 shape (discounted revenue): an OR of three
    * (brand, size, quantity) conjunctions. The disjunction spans both
    * sides of the join so it can't fully push into either scan, but
    * column pruning still holds and the part side is broadcast — the OR
    * evaluates post-probe in codegen.
    */
  def qOrPushdown(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20, 35)))
      .agg(NumFns.stableSum(revenue, 2).as("revenue"), count(lit(1)).as("n_rows"))

  val qOrPushdownOracle: String =
    s"""SELECT ${NumFns.stableSumSql(RevSql, 2)} AS revenue, count(*) AS n_rows
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    * EXISTS + NOT EXISTS pair over the same derived relation — suppliers
    * late (shipped >60 days after order) on multi-supplier orders where
    * no OTHER supplier was late. EXISTS → left_semi against raw
    * lineitem; NOT EXISTS → left_anti against the late set itself. The
    * late set is fact-derived, so its self-anti-join is shuffle_hash on
    * the order key — three hash exchanges on l_orderkey total, no
    * broadcast of anything fact-sized.
    */
  def qWaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    val late = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .distinct()
    val others = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val lateOthers = late
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    late
      .join(others.hint("shuffle_hash"),
        col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"), "left_semi")
      .join(lateOthers.hint("shuffle_hash"),
        col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"), "left_anti")
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  val qWaitingSupplierOracle: String =
    """WITH late AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      |)
      |SELECT s_name, count(*) AS numwait
      |FROM late l1
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 10""".stripMargin

  /** TPC-H Q22 shape (global sales opportunity): customers above the
    * positive-balance average with no recent orders. The scalar average
    * is a 1-row dimension aggregate (broadcast is correct — it is not
    * fact-derived); recency is a left-anti join against date-filtered
    * orders, moving keys only. The threshold is a 6-digit stable mean so
    * both engines compare against the IDENTICAL double.
    */
  def qIdleRichCustomers(s: SparkSession, dir: String): DataFrame = {
    val thr = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 0.0)
      .agg(NumFns.stableMean(col("c_acctbal"), count(lit(1)), 6).as("avg_bal"))
    Tables.customer(s, dir)
      .crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01"))),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        NumFns.stableSum(col("c_acctbal"), 2).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val qIdleRichCustomersOracle: String =
    s"""WITH thr AS (
       |  SELECT ${NumFns.stableMeanSql("c_acctbal", "count(*)", 6)} AS avg_bal
       |  FROM customer WHERE c_acctbal > 0.0
       |)
       |SELECT c_mktsegment, count(*) AS numcust,
       |  ${NumFns.stableSumSql("c_acctbal", 2)} AS totacctbal
       |FROM customer, thr
       |WHERE c_acctbal > avg_bal
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    * becomes a per-(part,supplier) stable-mean aggregate + an argmin by
    * struct ordering — min(struct(avg_unit, suppkey)) picks the cheapest
    * supplier with a deterministic key tie-break in the SAME grouped
    * pass (no window, no second shuffle). Dimension joins (part filter,
    * supplier, nation) broadcast onto the 1-row-per-part result.
    *
    * The mean is int64-quantized (micro-units, exact codegen'd
    * half-away round) rather than per-row DECIMAL(38,12): this
    * aggregate runs over ~|lineitem| groups, where the BigDecimal Sum
    * is the dominant cost (the Q1/QuantAgg measurement — 3.6×) —
    * measured 1.6× on this query at sf0.1.
    */
  def qMinPriceSupplier(s: SparkSession, dir: String): DataFrame = {
    val unitQ = NumFns.roundAwayLong(
      col("l_extendedprice") / col("l_quantity") * lit(1e6))
    // per-part minima are independent across parts, so the selective
    // part filter (~2% of parts) pushes BELOW the aggregate as a
    // broadcast semi-join — the grouped agg runs over 1/50th of lineitem
    val ps = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter(col("p_size") === 15)
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(NumFns.roundPortable(
        sum(unitQ).cast("double") / lit(1e6) / count(lit(1)), 4).as("avg_unit"))
    val best = ps
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("avg_unit"), col("l_suppkey"))).as("b"))
      .select(col("l_partkey"), col("b.avg_unit").as("avg_unit"),
        col("b.l_suppkey").as("l_suppkey"))
    best
      .join(Tables.part(s, dir).filter(col("p_size") === 15),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
        col("avg_unit"))
      .orderBy(col("p_partkey"))
  }

  /** TPC-H Q6 shape (forecast revenue change): the pure-predicate
    * aggregate — every filter pushes to the parquet scan (shipdate range,
    * discount band, quantity cap are all scan-pushable), so at 100 TB
    * this reads the row groups the statistics admit and nothing else.
    */
  def qForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(NumFns.stableSum(col("l_extendedprice") * col("l_discount"), 2).as("revenue"),
        count(lit(1)).as("n_rows"))

  val qForecastRevenueOracle: String =
    s"""SELECT ${NumFns.stableSumSql("l_extendedprice * l_discount", 2)} AS revenue,
       |  count(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24.0""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): LEFT join so
    * zero-order customers keep their c_count = 0 bucket, then the
    * distribution of the per-customer counts — a two-level aggregate
    * whose second level runs over the count domain (≤ max orders per
    * customer), not the customer set.
    */
  def qCustDistribution(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val qCustDistributionOracle: String =
    """WITH co AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1
      |)
      |SELECT c_count, count(*) AS custdist
      |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15 shape (top supplier): the revenue "view" is a grouped
    * aggregate; the correlated MAX becomes a 1-row broadcast aggregate
    * joined back with an equality filter — ALL ties surface (the Q15
    * contract), no row_number cutoff. The revenue frame is fact-derived
    * and read by both the max and the equality probe, which share its
    * aggregation exchange, so it is computed once.
    */
  def qTopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-04-01")))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(NumFns.stableSum(revenue, 2).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    Tables.supplier(s, dir)
      .join(rev.hint("shuffle_hash"), col("s_suppkey") === col("supplier_no"))
      .crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val qTopSupplierOracle: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey AS supplier_no,
       |    ${NumFns.stableSumSql(RevSql, 2)} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
       |  GROUP BY 1
       |)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier JOIN rev ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  val qMinPriceSupplierOracle: String =
    s"""WITH ps AS (
       |  SELECT l_partkey, l_suppkey,
       |    ${NumFns.quantMeanSql("l_extendedprice / l_quantity", "count(*)", 4)} AS avg_unit
       |  FROM lineitem GROUP BY 1, 2
       |), rk AS (
       |  SELECT l_partkey, l_suppkey, avg_unit,
       |    row_number() OVER (PARTITION BY l_partkey ORDER BY avg_unit, l_suppkey) AS rn
       |  FROM ps
       |)
       |SELECT p_partkey, p_brand, s_name, n_name, avg_unit
       |FROM rk
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE rn = 1 AND p_size = 15
       |ORDER BY p_partkey""".stripMargin

  /** Order-to-ship cycle-time profile per priority — the operational
    * latency read (how long from order to first/complete shipment, by
    * urgency): per-order first/last ship lag in integer days, then
    * exact p50/p90 of both metrics per priority via the value-cell
    * percentile engine (one pass, two melted metrics — never a
    * per-priority row sort). Integer day lags make every order
    * statistic engine-identical by construction.
    */
  def qCycleTime(s: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(
        datediff(min(to_date(col("l_shipdate"))), min(to_date(col("o_orderdate"))))
          .cast("long").as("first_ship_days"),
        datediff(max(to_date(col("l_shipdate"))), min(to_date(col("o_orderdate"))))
          .cast("long").as("full_ship_days"))
    Analytics.exactPercentilesMulti(perOrder, "o_orderpriority",
        Seq("first_ship_days" -> Seq(0.5 -> "p50_first", 0.9 -> "p90_first"),
          "full_ship_days" -> Seq(0.5 -> "p50_full", 0.9 -> "p90_full")),
        Some("first_ship_days" -> "n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val qCycleTimeOracle: String =
    """WITH po AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(date_diff('day', min(o_orderdate::DATE),
      |      min(l_shipdate::DATE)) AS BIGINT) AS first_ship_days,
      |    CAST(date_diff('day', min(o_orderdate::DATE),
      |      max(l_shipdate::DATE)) AS BIGINT) AS full_ship_days
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY o_orderkey, o_orderpriority
      |)
      |SELECT o_orderpriority,
      |  round(quantile_cont(first_ship_days, 0.5), 4) AS p50_first,
      |  round(quantile_cont(first_ship_days, 0.9), 4) AS p90_first,
      |  round(quantile_cont(full_ship_days, 0.5), 4) AS p50_full,
      |  round(quantile_cont(full_ship_days, 0.9), 4) AS p90_full,
      |  count(*) AS n_orders
      |FROM po
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q7 shape (volume shipping): bilateral trade between two named
    * nations by ship year. The supplier→nation and orders→customer→nation
    * legs are both dimension-sized and broadcast; the ONLY shuffle is
    * lineitem⋈orders on l_orderkey (fact⋈fact, both sides pruned to the
    * join key + 3 columns before the exchange). The nation-pair
    * restriction is applied on the broadcast side BEFORE the probe, so
    * the fact rows that survive the hash probe are already pair-filtered
    * — at 100 TB the exchange carries only the two nations' traffic.
    */
  def qVolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_3", "NATION_8"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custNation = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_3", "NATION_8"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(s, dir)
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(NumFns.stableSum(revenue, 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val qVolumeShippingOracle: String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |  ${NumFns.stableSumSql(RevSql, 2)} AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |WHERE sn.n_name IN ('NATION_3', 'NATION_8')
       |  AND cn.n_name IN ('NATION_3', 'NATION_8')
       |  AND sn.n_name <> cn.n_name
       |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q11 shape (important stock): per-part value held by suppliers
    * of a nation subset, kept only where the part's share exceeds a
    * fixed fraction of the subset's total. The total is a 1-row
    * aggregate over the SAME grouped frame — the per-part aggregate
    * (dimension-sized: ≤ |part|) whose exchange both readers share —
    * broadcast into the HAVING filter, so the fact table is scanned
    * exactly once. Money goes through the exact-decimal sum: a share
    * threshold comparison on an order-dependent double sum would
    * admit/reject boundary parts nondeterministically. The cut is 2× the
    * AVERAGE part share (TPC-H's fixed fraction is divided by SF for the
    * same reason: part count grows with scale, so any constant share
    * eventually admits nothing) — scale-invariant by construction.
    */
  def qImportantStock(s: SparkSession, dir: String): DataFrame = {
    val suppIn = Tables.supplier(s, dir)
      .filter(col("s_nationkey") < 5).select(col("s_suppkey"))
    val perPart = Tables.lineitem(s, dir)
      .join(broadcast(suppIn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("ps_partkey"))
      .agg(NumFns.stableSum(col("l_extendedprice"), 2).as("value"))
    val total = perPart.agg(NumFns.stableSum(col("value"), 2).as("tot"),
      count(lit(1)).cast("double").as("np"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value") * col("np") > col("tot") * lit(2.0))
      .select(col("ps_partkey"), col("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  val qImportantStockOracle: String =
    s"""WITH pp AS (
       |  SELECT l_partkey AS ps_partkey,
       |    ${NumFns.stableSumSql("l_extendedprice", 2)} AS value
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE s_nationkey < 5
       |  GROUP BY 1
       |), tot AS (
       |  SELECT ${NumFns.stableSumSql("value", 2)} AS tot,
       |    CAST(count(*) AS DOUBLE) AS np FROM pp
       |)
       |SELECT ps_partkey, value FROM pp, tot
       |WHERE value * np > tot * 2.0
       |ORDER BY value DESC, ps_partkey""".stripMargin

  /** TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    * counts per (brand, type, size) over the lineitem part-supplier
    * pairs, minus an excluded supplier set (NOT IN → broadcast left-anti
    * — the excluded set is dimension-sized by construction). The
    * part⋈lineitem join broadcasts part; the distinct-count shuffles
    * (brand, type, size, suppkey) cells — already deduplicated map-side
    * by the partial aggregate — never raw fact rows.
    */
  def qPartsSupplierCount(s: SparkSession, dir: String): DataFrame = {
    val excluded = Tables.supplier(s, dir)
      .filter(col("s_nationkey") >= 20).select(col("s_suppkey"))
    val dims = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 4, 9, 14, 19, 24))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(excluded, col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(dims, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val qPartsSupplierCountOracle: String =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND p_size IN (1, 4, 9, 14, 19, 24)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_nationkey >= 20)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** The two calendar years decomposed by [[qRevenueBridge]]. */
  val BridgeYears: (Int, Int) = (1997, 1998)

  /** The orders ⋈ lineitem facts of the two [[BridgeYears]]. */
  private def bridgeFacts(s: SparkSession, dir: String): DataFrame = {
    val (y1, y2) = BridgeYears
    Tables.orders(s, dir)
      .filter(year(col("o_orderdate")).isin(y1, y2))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
  }

  /** Per `key` of [[bridgeFacts]] traded in both years, each year's
    * revenue in integer cents (`r1`, `r2`) and quantity (`q1`, `q2`).
    */
  private def bridgeCells(facts: DataFrame, key: String): DataFrame = {
    val (y1, y2) = BridgeYears
    def pick(y: Int, c: String) = max(when(col("yr") === y, col(c)))
    facts.groupBy(col(key), year(col("o_orderdate")).as("yr"))
      .agg(sum(NumFns.roundAwayLong(col("l_extendedprice") * 100)).as("rev"),
        sum(NumFns.roundAwayLong(col("l_quantity"))).as("qty"))
      .groupBy(col(key))
      .agg(pick(y1, "rev").as("r1"), pick(y1, "qty").as("q1"),
        pick(y2, "rev").as("r2"), pick(y2, "qty").as("q2"))
      .filter(col("r1").isNotNull && col("r2").isNotNull)
  }

  /** SQL twin of [[bridgeCells]]: CTEs `cells` and `w`; `joins` extends
    * the fact join.
    */
  private def bridgeCellsSql(key: String, joins: String = ""): String = {
    val (y1, y2) = BridgeYears
    s"""cells AS (
       |  SELECT $key, year(o_orderdate) AS yr,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev,
       |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey$joins
       |  WHERE year(o_orderdate) IN ($y1, $y2)
       |  GROUP BY 1, 2
       |),
       |w AS (
       |  SELECT $key,
       |    max(CASE WHEN yr = $y1 THEN rev END) AS r1,
       |    max(CASE WHEN yr = $y1 THEN qty END) AS q1,
       |    max(CASE WHEN yr = $y2 THEN rev END) AS r2,
       |    max(CASE WHEN yr = $y2 THEN qty END) AS q2
       |  FROM cells GROUP BY $key
       |  HAVING r1 IS NOT NULL AND r2 IS NOT NULL
       |)""".stripMargin
  }

  /** Revenue bridge — the year-over-year decomposition every revenue
    * review starts from: per region, ΔR splits EXACTLY into a volume
    * effect (ΔV · P₁: how much of the change is selling more units at
    * last year's realized price) and a price effect (ΔP · V₂: how much
    * is price/mix on this year's volume) — (V₂−V₁)P₁ + (P₂−P₁)V₂ ≡
    * R₂−R₁ by telescoping, so the bridge always closes (spec-asserted).
    * Shape: one fact scan collapses to (region, year) cells of exact
    * integer cent/quantity sums (map-side combined through the
    * broadcast dimension chain); the decomposition is arithmetic on the
    * 5-row frame. Determinism: realized prices are single divisions of
    * exact integers; effects round portably.
    */
  def qRevenueBridge(s: SparkSession, dir: String): DataFrame = {
    val wide = bridgeCells(bridgeFacts(s, dir)
      .join(Temporal.custRegion(s, dir), col("o_custkey") === col("c_custkey")), "r_name")
    val p1 = col("r1").cast("double") / col("q1")
    val p2 = col("r2").cast("double") / col("q2")
    wide.select(col("r_name"),
        NumFns.roundPortable(col("r1").cast("double") / 100.0, 2).as("rev_y1"),
        NumFns.roundPortable(col("r2").cast("double") / 100.0, 2).as("rev_y2"),
        NumFns.roundPortable(
          (col("r2") - col("r1")).cast("double") / 100.0, 2).as("delta"),
        NumFns.roundPortable(
          (col("q2") - col("q1")).cast("double") * p1 / 100.0, 2)
          .as("volume_effect"),
        NumFns.roundPortable(
          (p2 - p1) * col("q2") / 100.0, 2).as("price_effect"))
      .orderBy(col("r_name"))
  }

  val qRevenueBridgeOracle: String =
    s"""WITH ${bridgeCellsSql("r_name",
            s"\n  JOIN (${Temporal.custRegionSql}) ON o_custkey = c_custkey")}
       |SELECT r_name,
       |  ${NumFns.roundPortableSql("CAST(r1 AS DOUBLE) / 100.0", 2)} AS rev_y1,
       |  ${NumFns.roundPortableSql("CAST(r2 AS DOUBLE) / 100.0", 2)} AS rev_y2,
       |  ${NumFns.roundPortableSql("CAST(r2 - r1 AS DOUBLE) / 100.0", 2)}
       |    AS delta,
       |  ${NumFns.roundPortableSql(
            "CAST(q2 - q1 AS DOUBLE) * (CAST(r1 AS DOUBLE) / q1) / 100.0", 2)}
       |    AS volume_effect,
       |  ${NumFns.roundPortableSql(
            "(CAST(r2 AS DOUBLE) / q2 - CAST(r1 AS DOUBLE) / q1) * q2 / 100.0",
            2)} AS price_effect
       |FROM w
       |ORDER BY r_name""".stripMargin

  /** Basket-weighted price indices between [[BridgeYears]] — the
    * part-level rigor [[qRevenueBridge]]'s two aggregate effects
    * deliberately blur: Laspeyres (year-2 prices on the YEAR-1 basket),
    * Paasche (on the year-2 basket) and their geometric mean (Fisher's
    * ideal index), over the parts traded in BOTH years. L > P signals
    * substitution away from items whose prices rose — invisible to any
    * region-level number. Shape: the fact table collapses to
    * (part, year) integer cells; the common-part join is part-keyed;
    * the four cross-basket sums quantize each p·q term to exact
    * micro-cents (round(pᵢ·qⱼ·1e2) of cents — integer, order-free), so
    * the indices are ratios of exact integers. One row out.
    */
  def qPriceIndex(s: SparkSession, dir: String): DataFrame = {
    val wide = bridgeCells(bridgeFacts(s, dir), "l_partkey")
    // p_i in cents (exact ratio); cross terms p_i·q_j quantized to an
    // exact integer hundredth-cent before summing — order-free
    val p1 = col("r1").cast("double") / col("q1")
    val p2 = col("r2").cast("double") / col("q2")
    val agg = wide.agg(
      count(lit(1)).as("n_parts"),
      sum(NumFns.roundAwayLong(p1 * col("q1") * 100)).as("p1q1"),
      sum(NumFns.roundAwayLong(p2 * col("q1") * 100)).as("p2q1"),
      sum(NumFns.roundAwayLong(p1 * col("q2") * 100)).as("p1q2"),
      sum(NumFns.roundAwayLong(p2 * col("q2") * 100)).as("p2q2"))
    val lasp = col("p2q1").cast("double") / col("p1q1")
    val paas = col("p2q2").cast("double") / col("p1q2")
    agg.select(col("n_parts"),
      NumFns.roundPortable(lasp, 6).as("laspeyres"),
      NumFns.roundPortable(paas, 6).as("paasche"),
      NumFns.roundPortable(sqrt(lasp * paas), 6).as("fisher"))
  }

  val qPriceIndexOracle: String =
    s"""WITH ${bridgeCellsSql("l_partkey")},
       |ag AS (
       |  SELECT count(*) AS n_parts,
       |    CAST(sum(CAST(round(CAST(r1 AS DOUBLE) / q1 * q1 * 100) AS BIGINT))
       |      AS BIGINT) AS p1q1,
       |    CAST(sum(CAST(round(CAST(r2 AS DOUBLE) / q2 * q1 * 100) AS BIGINT))
       |      AS BIGINT) AS p2q1,
       |    CAST(sum(CAST(round(CAST(r1 AS DOUBLE) / q1 * q2 * 100) AS BIGINT))
       |      AS BIGINT) AS p1q2,
       |    CAST(sum(CAST(round(CAST(r2 AS DOUBLE) / q2 * q2 * 100) AS BIGINT))
       |      AS BIGINT) AS p2q2
       |  FROM w
       |)
       |SELECT n_parts,
       |  ${NumFns.roundPortableSql("CAST(p2q1 AS DOUBLE) / p1q1", 6)}
       |    AS laspeyres,
       |  ${NumFns.roundPortableSql("CAST(p2q2 AS DOUBLE) / p1q2", 6)}
       |    AS paasche,
       |  ${NumFns.roundPortableSql(
            "sqrt((CAST(p2q1 AS DOUBLE) / p1q1) * " +
            "(CAST(p2q2 AS DOUBLE) / p1q2))", 6)} AS fisher
       |FROM ag""".stripMargin

  /** Discount elasticity of demand: OLS slope of ln(mean line quantity)
    * on ln(1−discount) across the ≤11 discount levels — "how many more
    * units does a point of discount move?" as one elasticity number
    * with its R², the pricing-analytics read none of the revenue
    * rollups give. Shape: one scan → discount-level cells (exact
    * integer quantity sums and counts); the 11-cell regression is
    * scalar arithmetic with per-term DECIMAL folds; ln runs once per
    * cell on identical ratio-of-integer doubles.
    */
  def qPriceElasticity(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .groupBy(NumFns.roundAwayLong(col("l_discount") * 100).as("dpct"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("long")).as("sq"))
      .select(col("dpct"),
        log(lit(1.0) - col("dpct") / 100.0).as("x"),
        log(col("sq").cast("double") / col("cnt")).as("y"))
    val m = cells.agg(count(lit(1)).cast("double").as("k"), TextAnalysis.momentSums: _*)
    val sxxc = col("k") * col("sxx") - col("sx") * col("sx")
    val sxyc = col("k") * col("sxy") - col("sx") * col("sy")
    val syyc = col("k") * col("syy") - col("sy") * col("sy")
    m.select(col("k").cast("long").as("n_levels"),
      NumFns.roundPortable(sxyc / sxxc, 4).as("elasticity"),
      NumFns.roundPortable(sxyc * sxyc / (sxxc * syyc), 4).as("r2"))
  }

  val qPriceElasticityOracle: String =
    s"""WITH cells AS (
       |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS dpct,
       |    count(*) AS cnt,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
       |  FROM lineitem GROUP BY 1
       |),
       |xy AS (
       |  SELECT ln(1.0 - dpct / 100.0) AS x,
       |    ln(CAST(sq AS DOUBLE) / cnt) AS y
       |  FROM cells
       |),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS k,
       |    ${TextAnalysis.momentSumsSql}
       |  FROM xy
       |)
       |SELECT CAST(k AS BIGINT) AS n_levels,
       |  ${NumFns.roundPortableSql(
            "(k * sxy - sx * sy) / (k * sxx - sx * sx)", 4)} AS elasticity,
       |  ${NumFns.roundPortableSql(
            "(k * sxy - sx * sy) * (k * sxy - sx * sy)" +
              " / ((k * sxx - sx * sx) * (k * syy - sy * sy))", 4)} AS r2
       |FROM m""".stripMargin

  /** Herfindahl–Hirschman supplier-concentration index per nation:
    * HHI = Σ shareᵢ² of each supplier's revenue within its nation,
    * with the effective supplier count 1/HHI — the antitrust-style
    * CONCENTRATION read (q_gini measures inequality of a
    * distribution; HHI measures how few players hold the market,
    * which is the sourcing-risk question: a nation at HHI 0.5 has
    * effectively two suppliers no matter how many are registered).
    * Shape: one fact scan → (nation, supplier) revenue cells (exact
    * integer cents) → nation rollup with per-term DECIMAL share²
    * folds; the supplier dim broadcasts.
    */
  def qHhi(s: SparkSession, dir: String): DataFrame = {
    val bySupp = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("nation"))),
        Seq("s_nationkey"))
      .groupBy(col("nation"), col("s_suppkey"))
      .agg(sum(NumFns.roundAwayLong(col("l_extendedprice") * 100)).as("rev"))
    val natTot = bySupp.groupBy(col("nation"))
      .agg(sum(col("rev")).as("nrev"), count(lit(1)).as("n_suppliers"))
    bySupp.join(broadcast(natTot), Seq("nation"))
      .select(col("nation"), col("n_suppliers"),
        ((col("rev").cast("double") / col("nrev"))
          * (col("rev").cast("double") / col("nrev"))).cast(Dec12).as("s2"))
      .groupBy(col("nation"), col("n_suppliers"))
      .agg(sum(col("s2")).as("hhi"))
      .select(col("nation"), col("n_suppliers"),
        NumFns.roundPortable(col("hhi").cast("double"), 6).as("hhi"),
        NumFns.roundPortable(
          lit(1.0) / col("hhi").cast("double"), 2).as("effective_n"))
      .orderBy(col("nation"))
  }

  val qHhiOracle: String =
    s"""WITH bs AS (
       |  SELECT n_name AS nation, l_suppkey,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev
       |  FROM lineitem
       |    JOIN supplier ON l_suppkey = s_suppkey
       |    JOIN nation ON n_nationkey = s_nationkey
       |  GROUP BY 1, 2
       |),
       |nt AS (
       |  SELECT nation, CAST(sum(rev) AS BIGINT) AS nrev,
       |    count(*) AS n_suppliers
       |  FROM bs GROUP BY 1
       |),
       |t AS (
       |  SELECT nation, n_suppliers,
       |    CAST((CAST(rev AS DOUBLE) / nrev) * (CAST(rev AS DOUBLE) / nrev)
       |      AS DECIMAL(38,12)) AS s2
       |  FROM bs JOIN nt USING (nation)
       |)
       |SELECT nation, n_suppliers,
       |  ${NumFns.roundPortableSql("CAST(sum(s2) AS DOUBLE)", 6)} AS hhi,
       |  ${NumFns.roundPortableSql(
            "1.0 / CAST(sum(s2) AS DOUBLE)", 2)} AS effective_n
       |FROM t GROUP BY nation, n_suppliers
       |ORDER BY nation""".stripMargin

  /** Row count for [[qSynthPushdown]] — big enough that the timed plan
    * measures generation + aggregation throughput, small enough for the
    * sf-independent bench slot (~5M rows, 32 generator slices).
    */
  val SynthRows = 5000000L

  /** DSv2 scan + column-pruning exercise over [[graft.sources
    * .SynthSource]] at bench scale (r9 verdict ask #7): the V2 read
    * path (TableProvider → ScanBuilder → PartitionReader) gets a TIMED
    * plan in the suite, not just a ScalaTest. The aggregate touches
    * ONLY `id`, so SupportsPushDownRequiredColumns must narrow the
    * generator to one column (asserted in PlanAuditSpec) — the DSv2
    * analog of parquet projection pruning. All emitted values are
    * exact functions of the 0..n-1 id domain, so the DuckDB twin is
    * `range(n)` — the generator's random columns never reach the
    * output. sf-dir independent by construction.
    */
  def qSynthPushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft-synth")
      .option("rows", SynthRows).option("parts", 32).option("seed", 7)
      .load()
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_id"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))

  val qSynthPushdownOracle: String =
    s"""SELECT count(*) AS n_rows,
       |  CAST(sum(r) AS BIGINT) AS sum_id,
       |  CAST(min(r) AS BIGINT) AS min_id,
       |  CAST(max(r) AS BIGINT) AS max_id
       |FROM range($SynthRows) t(r)""".stripMargin
}
