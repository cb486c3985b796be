package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NumFns
import graft.sources.Tables

/** Graph operators beyond connected components (which lives with its
  * consumer in [[Dedup.connectedComponents]]). Graphs are plain edge
  * DataFrames — iterative algorithms are join+aggregate rounds with
  * per-round `localCheckpoint` lineage truncation, the same discipline as
  * the cluster-propagation loop.
  */
object Graph {

  val Damping = 0.85

  /** One PageRank power-iteration over the customer→supplier purchase
    * graph (distinct (c_custkey, l_suppkey) pairs from orders⋈lineitem):
    * rank(s) = 0.15 + 0.85 · Σ_{c→s} 1/outdeg(c), from uniform initial
    * customer mass. Shape: the edge list is built with one distinct
    * (hash agg, map-side combined) and feeds both the out-degree
    * aggregate and the scatter join. Both consumers read one distinct
    * exchange, which AQE runs once and reuses (a `ReusedExchange` in the
    * final plan, guarded by PlanAuditSpec), so the fact⋈fact derivation
    * runs once. Out-degrees are one grouped count joined
    * back on the source key, and the scatter is one sum per target —
    * every shuffle carries bare (key, double) pairs. Full
    * PageRank is [[pagerank]]; one audited step keeps the oracle exact
    * instead of convergence-approximate.
    */
  def qPagerankIter(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su"))
      .distinct()
    val outdeg = edges.groupBy(col("c")).agg(count(lit(1)).as("outdeg"))
    edges.join(outdeg, Seq("c"))
      .groupBy(col("su").as("s_suppkey"))
      .agg(count(lit(1)).as("n_in"),
        round(lit(1.0 - Damping) + lit(Damping) * sum(lit(1.0) / col("outdeg")), 6)
          .as("rank"))
      .orderBy(col("s_suppkey"))
  }

  /** Full PageRank: `iters` power-iterations over an (src, dst) edge
    * list, returning (id, rank) for every endpoint. Per-node damping
    * form rank = (1−d) + d·Σ_{u→v} rank(u)/outdeg(u) from uniform
    * initial mass 1.0 — [[qPagerankIter]] is exactly the first round of
    * this loop restricted to targets.
    *
    * Loop discipline (same as [[Dedup.connectedComponents]]): the edge
    * list and the degree-annotated scatter frame are materialized ONCE
    * before the loop (never re-derived per round), each round is one
    * scatter join + one (key, double) grouped sum + one left join back
    * to the node frame, and every round's rank frame is
    * `localCheckpoint`ed so round k never re-executes rounds 1..k−1 and
    * the plan stays constant-size at any iteration count. Nothing but
    * bare (key, double) pairs ever shuffles; nodes with no in-edges
    * settle at (1−d). On a closed graph (every node has an out-edge)
    * total rank mass is conserved at n — the spec asserts it.
    */
  def pagerank(edgesIn: DataFrame, iters: Int, damping: Double = Damping): DataFrame = {
    require(iters >= 1 && iters <= 1000, s"iters must be in [1, 1000], got $iters")
    val edges = edgesIn.select(col("src"), col("dst")).localCheckpoint()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // degree-annotated scatter frame: built once, reused every round
    val scatter = edges.join(outdeg, Seq("src")).localCheckpoint()
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()
    var ranks = nodes.select(col("id"), lit(1.0).as("rank"))
    var i = 0
    while (i < iters) {
      val contrib = scatter
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      ranks = nodes
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
        .localCheckpoint()
      i += 1
    }
    ranks
  }

  /** Triangle count over the nation co-trade graph (an undirected edge
    * links two nations when any order ships a supplier's part of one to
    * a customer of the other). The classic clustering-coefficient
    * numerator, computed the scalable way: edges are canonicalized
    * a < b and MATERIALIZED once (the fact⋈fact derivation must not run
    * three times), then triangles enumerate as the ordered 2-path join
    * e(a,b)⋈e(b,c) closed by e(a,c) — the a<b<c ordering counts each
    * triangle exactly once and caps the join fan-out at the out-degree
    * of the middle node. At 100 TB the edge frame is the persisted
    * artifact; the joins shuffle bare (node, node) pairs.
    */
  def qTriangleCount(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nc")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("ns")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("nc") =!= col("ns"))
      .select(least(col("nc"), col("ns")).as("a"), greatest(col("nc"), col("ns")).as("b"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .agg(count(lit(1)).as("n_triangles"))
    nodes.crossJoin(edges).crossJoin(tri)
  }

  val qTriangleCountOracle: String =
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
      |    greatest(c_nationkey, s_nationkey) AS b
      |  FROM orders
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE c_nationkey != s_nationkey
      |)
      |SELECT
      |  (SELECT count(*) FROM
      |    (SELECT DISTINCT id FROM
      |      (SELECT a AS id FROM e UNION ALL SELECT b FROM e) u) v) AS n_nodes,
      |  (SELECT count(*) FROM e) AS n_edges,
      |  (SELECT count(*) FROM e ab
      |     JOIN e bc ON ab.b = bc.a
      |     JOIN e ac ON ac.a = ab.a AND ac.b = bc.b) AS n_triangles""".stripMargin

  val qPagerankIterOracle: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS su
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |d AS (SELECT c, count(*) AS outdeg FROM e GROUP BY c)
       |SELECT e.su AS s_suppkey, count(*) AS n_in,
       |  round(${1.0 - Damping} + $Damping * sum(1.0 / d.outdeg), 6) AS rank
       |FROM e JOIN d USING (c)
       |GROUP BY e.su
       |ORDER BY s_suppkey""".stripMargin

  /** BFS shortest-hop levels from nation 0 over the undirected nation
    * co-trade graph (same canonical edge list as [[qTriangleCount]]):
    * frontier expansion to a fixpoint — level k+1 = neighbors of the
    * level-k frontier not yet visited. The iterate-until-empty QUERY
    * form of the loop discipline ([[Dedup.connectedComponents]] /
    * [[pagerank]]): symmetric edges materialized once, each round one
    * frontier⋈edges join + one anti-join against the visited set, both
    * frames `localCheckpoint`ed so round k never replays rounds 1..k−1;
    * the only driver scalar is the per-round emptiness test (the
    * documented convergence-scalar exception). Unreachable nodes are
    * absent from the output (consistent with the recursive-CTE oracle).
    * At 100 TB frontier/visited are bare (id, level) longs; rounds =
    * graph diameter, each one hash join on id.
    */
  val BfsSource = 0L
  val BfsMaxRounds = 64

  def qBfsLevels(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nc")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("ns")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("nc") =!= col("ns"))
      .select(least(col("nc"), col("ns")).as("a"), greatest(col("nc"), col("ns")).as("b"))
      .distinct()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint()
    var frontier = sym.sparkSession.range(1)
      .select(lit(BfsSource).as("id"), lit(0L).as("level"))
      .localCheckpoint()
    var visited = frontier
    var round = 0
    var done = false
    while (!done && round < BfsMaxRounds) {
      val nxt = frontier.join(sym, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(round + 1L).as("level"))
        .localCheckpoint()
      if (nxt.isEmpty) done = true
      else {
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt
        round += 1
      }
    }
    visited.orderBy(col("id"))
  }

  val qBfsLevelsOracle: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS src,
       |    greatest(c_nationkey, s_nationkey) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey != s_nationkey
       |), sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |walk(id, lvl) AS (
       |  SELECT CAST($BfsSource AS BIGINT) AS id, CAST(0 AS BIGINT) AS lvl
       |  UNION
       |  SELECT CAST(sym.dst AS BIGINT), w.lvl + 1
       |  FROM walk w JOIN sym ON sym.src = w.id WHERE w.lvl < $BfsMaxRounds
       |)
       |SELECT id, min(lvl) AS level FROM walk GROUP BY id ORDER BY id""".stripMargin

  /** Harmonic + classic closeness centrality of every nation in the
    * co-trade graph via MULTI-SOURCE BFS — the centrality family
    * member missing beside degree (q_degree_dist), eigenvector-flavor
    * (q_pagerank_iter/q_hits) and local density (q_clustering_coeff):
    * closeness ranks nodes by how few hops reach everyone else;
    * harmonic C_H(s) = Σ_{v≠s} 1/d(s,v) stays defined on disconnected
    * graphs. ONE frontier loop carries all sources at once — rows are
    * (seed, id, level), so the work per round is a single
    * frontier⋈edges join for every seed simultaneously (rounds =
    * diameter, NOT diameter×seeds; the loop discipline of
    * [[qBfsLevels]], localCheckpoint'd per round). On the 25-node
    * nation graph the frame is tiny; at 100 TB the same loop runs on
    * the supplier graph with a bounded seed set — rows stay bare
    * (seed, id, level) longs either way. 1/d terms DECIMAL-fold so
    * the harmonic sum is accumulation-order-free.
    */
  val ClosenessMaxRounds = 16

  def qCloseness(s: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val e = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nc")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("ns")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("nc") =!= col("ns"))
      .select(least(col("nc"), col("ns")).as("a"),
        greatest(col("nc"), col("ns")).as("b"))
      .distinct()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint()
    var frontier = sym.select(col("src").as("seed")).distinct()
      .select(col("seed"), col("seed").as("id"), lit(0L).as("level"))
      .localCheckpoint()
    var visited = frontier
    var round = 0
    var done = false
    while (!done && round < ClosenessMaxRounds) {
      val nxt = frontier.join(sym, col("id") === col("src"))
        .select(col("seed"), col("dst").as("id")).distinct()
        .join(visited, Seq("seed", "id"), "left_anti")
        .select(col("seed"), col("id"), lit(round + 1L).as("level"))
        .localCheckpoint()
      if (nxt.isEmpty) done = true
      else {
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt
        round += 1
      }
    }
    visited.filter(col("level") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("level")).as("sum_dist"),
        sum((lit(1.0) / col("level")).cast(D)).cast("double").as("h"))
      .select(col("seed").as("nation"), col("n_reached"), col("sum_dist"),
        NumFns.roundPortable(col("h"), 6).as("harmonic"),
        NumFns.roundPortable(
          col("n_reached").cast("double") / col("sum_dist"), 6)
          .as("closeness"))
      .orderBy(col("nation"))
  }

  val qClosenessOracle: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS src,
       |    greatest(c_nationkey, s_nationkey) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey != s_nationkey
       |), sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |walk(seed, id, lvl) AS (
       |  SELECT CAST(src AS BIGINT), CAST(src AS BIGINT), CAST(0 AS BIGINT)
       |  FROM (SELECT DISTINCT src FROM sym)
       |  UNION
       |  SELECT w.seed, CAST(sym.dst AS BIGINT), w.lvl + 1
       |  FROM walk w JOIN sym ON sym.src = w.id
       |  WHERE w.lvl < $ClosenessMaxRounds
       |),
       |sp AS (
       |  SELECT seed, id, min(lvl) AS d FROM walk GROUP BY seed, id
       |)
       |SELECT seed AS nation, count(*) AS n_reached,
       |  CAST(sum(d) AS BIGINT) AS sum_dist,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CAST(1.0 / d AS DECIMAL(38,12))) AS DOUBLE)", 6)}
       |    AS harmonic,
       |  ${NumFns.roundPortableSql(
            "count(*) / CAST(sum(d) AS DOUBLE)", 6)} AS closeness
       |FROM sp WHERE d > 0
       |GROUP BY seed
       |ORDER BY nation""".stripMargin

  /** Full label-propagation loop over a weighted bipartite graph:
    * `edges` (left, right, w) with seed labels on the right side;
    * each round every LEFT node adopts its weight-majority right-label
    * (ties → smallest label), then every RIGHT node re-derives its
    * label from its left neighbors the same way — one round of
    * [[qLabelProp]] is exactly the first half-step. Loop discipline per
    * [[pagerank]]: the edge list is materialized once, each half-step
    * is one join + two map-side-combined aggregates shuffling bare
    * (key, label, weight) rows, and each round's label frames are
    * localCheckpoint'ed so the plan stays constant-size at any
    * iteration count.
    */
  def labelProp(edgesIn: DataFrame, rightLabels: DataFrame, iters: Int): DataFrame = {
    val edges = edgesIn.select(col("left"), col("right"), col("w"))
      .localCheckpoint()
    def majority(votes: DataFrame, key: String): DataFrame =
      votes.groupBy(col(key), col("label"))
        .agg(sum(col("w")).as("votes"))
        .groupBy(col(key))
        .agg(max(struct(col("votes"), (-col("label")).as("neg"))).as("m"))
        .select(col(key), (-col("m.neg")).cast("long").as("label"))
    var right = rightLabels.select(col("right"), col("label").cast("long").as("label"))
      .localCheckpoint()
    var left: DataFrame = null
    var i = 0
    while (i < iters) {
      left = majority(
        edges.join(right, Seq("right")).select(col("left"), col("label"), col("w")),
        "left").localCheckpoint()
      right = majority(
        edges.join(left, Seq("left")).select(col("right"), col("label"), col("w")),
        "right").localCheckpoint()
      i += 1
    }
    left.orderBy(col("left"))
  }

  /** One label-propagation round over the bipartite purchase graph:
    * every customer adopts the MAJORITY nation among the suppliers it
    * buys from, weighted by purchase count — semi-supervised label
    * inference (the labeled side seeds, the unlabeled side votes), the
    * community-detection primitive next to [[qPagerankIter]]'s ranking
    * and [[Dedup.connectedComponents]]' clustering. Deterministic by
    * construction: votes are exact int64 purchase counts and ties break
    * to the SMALLEST nation key via one lexicographic max-of-struct
    * (votes, −nation) — the q_argmax_agg pattern, no per-customer
    * window, no sort. Shape: one fact⋈fact shuffle on orderkey builds
    * the weighted edge list, the supplier dim broadcasts its labels,
    * and two map-side-combined aggregates ((cust,nation) votes → per-
    * cust argmax) finish it; iterating feeds the winners back as the
    * next round's labels with the pagerank loop discipline.
    */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val votes = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey").as("supp"), col("s_nationkey").as("nation")),
        Seq("supp"))
      .groupBy(col("cust"), col("nation"))
      .agg(count(lit(1)).as("votes"))
    votes
      .groupBy(col("cust").as("c_custkey"))
      .agg(count(lit(1)).as("n_candidates"),
        max(struct(col("votes"), (-col("nation")).as("neg"))).as("w"))
      .select(col("c_custkey"), (-col("w.neg")).cast("long").as("label"),
        col("w.votes").as("votes"), col("n_candidates"))
      .orderBy(col("c_custkey"))
  }

  val qLabelPropOracle: String =
    s"""WITH v AS (
       |  SELECT o_custkey AS cust, s_nationkey AS nation, count(*) AS votes
       |  FROM orders
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY o_custkey, s_nationkey
       |),
       |r AS (
       |  SELECT cust, nation, votes,
       |    row_number() OVER (PARTITION BY cust
       |      ORDER BY votes DESC, nation) AS rk,
       |    count(*) OVER (PARTITION BY cust) AS n_candidates
       |  FROM v
       |)
       |SELECT cust AS c_custkey, CAST(nation AS BIGINT) AS label, votes,
       |  n_candidates
       |FROM r WHERE rk = 1
       |ORDER BY c_custkey""".stripMargin

  /** Degree distribution of the supplier side of the purchase graph —
    * the first structural question asked of any graph ("is this
    * power-law? are there super-nodes that will skew every
    * per-neighbor join?") and the input to the salting decision
    * [[graft.plans.Salt]] automates. degree(s) = distinct customers
    * supplier s has served; the histogram buckets degrees by
    * floor(log2) so the output is ~60 rows no matter how many nodes
    * exist. Shape: one fact⋈fact join → distinct (hash agg, map-side
    * combined) → per-node grouped count → log-bucket grouped count;
    * every shuffle after the edge join carries bare (long, long) pairs
    * and the two histogram aggregates are node- then bucket-sized.
    * Exactness: degrees are integers and the log2 bucket comes from
    * bit length (63 − numberOfLeadingZeros via repeated comparison is
    * avoided: floor(log2(d)) computed as length of the binary string
    * minus 1 is integer-exact on both engines).
    */
  def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val deg = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("l_suppkey").as("supp"), col("o_custkey").as("cust"))
      .distinct()
      .groupBy(col("supp"))
      .agg(count(lit(1)).as("degree"))
    // floor(log2(degree)) from the binary rendering: exact for any
    // positive integer, no floating log anywhere near a power of two
    val bucket = (length(conv(col("degree").cast("string"), 10, 2)) - 1).cast("int")
    deg.select(bucket.as("log2_bucket"), col("degree"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))
      .orderBy(col("log2_bucket"))
  }

  val qDegreeDistOracle: String =
    """WITH e AS (
      |  SELECT DISTINCT l_suppkey AS supp, o_custkey AS cust
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |),
      |deg AS (SELECT supp, count(*) AS degree FROM e GROUP BY supp),
      |b AS (
      |  SELECT CAST(length(bin(degree)) - 1 AS INT) AS log2_bucket, degree
      |  FROM deg
      |)
      |SELECT log2_bucket, count(*) AS n_nodes,
      |  min(degree) AS min_degree, max(degree) AS max_degree
      |FROM b GROUP BY log2_bucket
      |ORDER BY log2_bucket""".stripMargin

  /** Global clustering coefficient of the nation co-trade graph —
    * 3·triangles / wedges, the "how cliquish is the trade network"
    * number beside the raw q_triangle_count: wedges = Σᵥ C(deg v, 2)
    * from the SAME canonical a<b edge frame (materialized once, feeds
    * the degree aggregate and the triangle join), triangles from the
    * ordered 2-path closure. Every input is an integer — the ratio is
    * the only double, computed once. Dimension-sized throughout (≤25
    * nation nodes) but the shape is the scalable one: degree counting
    * and wedge summing are one grouped pass at ANY node count.
    */
  def qClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nc")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("ns")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("nc") =!= col("ns"))
      .select(least(col("nc"), col("ns")).as("a"),
        greatest(col("nc"), col("ns")).as("b"))
      .distinct()
      .localCheckpoint()
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(sum(col("d") * (col("d") - 1) / 2).as("wedges"))
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .agg(count(lit(1)).as("n_triangles"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("wedges").cast("long").as("wedges"),
        NumFns.roundPortable(
          lit(3.0) * col("n_triangles") / col("wedges"), 6)
          .as("clustering_coeff"))
  }

  val qClusteringCoeffOracle: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
       |    greatest(c_nationkey, s_nationkey) AS b
       |  FROM orders
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey != s_nationkey
       |),
       |deg AS (
       |  SELECT id, count(*) AS d FROM
       |    (SELECT a AS id FROM e UNION ALL SELECT b FROM e) u
       |  GROUP BY id
       |),
       |w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg),
       |t AS (
       |  SELECT count(*) AS n_triangles FROM e ab
       |  JOIN e bc ON ab.b = bc.a
       |  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
       |)
       |SELECT n_triangles, wedges,
       |  ${NumFns.roundPortableSql("3.0 * n_triangles / wedges", 6)}
       |    AS clustering_coeff
       |FROM t, w""".stripMargin

  /** Newman modularity of the REGION partition over the nation co-trade
    * graph — does geography explain the trade communities q_label_prop
    * finds? Q = Σ_c (e_c/m − (d_c/2m)²), reported per community with
    * its exact-integer inputs (within-edges e_c, degree mass d_c) and
    * the contribution term. Exactness: each contribution is
    * (4·m·e_c − d_c²)/(4m²) — an integer numerator over an integer
    * denominator, ONE double division per community, no accumulation.
    * Shape: the edge frame is materialized once; community tagging is
    * two broadcast nation→region hops; everything after is
    * ≤|regions|-sized.
    */
  def qModularity(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nc")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("ns")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("nc") =!= col("ns"))
      .select(least(col("nc"), col("ns")).as("a"),
        greatest(col("nc"), col("ns")).as("b"))
      .distinct()
      .localCheckpoint()
    val reg = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_regionkey"))
    val tagged = e
      .join(broadcast(reg.select(col("n_nationkey").as("a"),
        col("n_regionkey").as("ra"))), Seq("a"))
      .join(broadcast(reg.select(col("n_nationkey").as("b"),
        col("n_regionkey").as("rb"))), Seq("b"))
      .localCheckpoint()
    val m = tagged.agg(count(lit(1)).as("m"))
    val eIn = tagged.filter(col("ra") === col("rb"))
      .groupBy(col("ra").as("region")).agg(count(lit(1)).as("e_in"))
    val degMass = tagged
      .select(col("ra").as("region")).union(tagged.select(col("rb")))
      .groupBy(col("region")).agg(count(lit(1)).as("d_c"))
    degMass.join(broadcast(eIn), Seq("region"), "left")
      .crossJoin(broadcast(m))
      .select(col("region").cast("long").as("region"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_c"),
        NumFns.roundPortable(
          (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L)) -
            col("d_c") * col("d_c")).cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double"), 6)
          .as("contribution"))
      .orderBy(col("region"))
  }

  val qModularityOracle: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
       |    greatest(c_nationkey, s_nationkey) AS b
       |  FROM orders
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey != s_nationkey
       |),
       |tg AS (
       |  SELECT e.a, e.b, na.n_regionkey AS ra, nb.n_regionkey AS rb
       |  FROM e
       |  JOIN nation na ON e.a = na.n_nationkey
       |  JOIN nation nb ON e.b = nb.n_nationkey
       |),
       |m AS (SELECT count(*) AS m FROM tg),
       |ein AS (
       |  SELECT ra AS region, count(*) AS e_in FROM tg
       |  WHERE ra = rb GROUP BY ra
       |),
       |dm AS (
       |  SELECT region, count(*) AS d_c FROM
       |    (SELECT ra AS region FROM tg UNION ALL SELECT rb FROM tg) u
       |  GROUP BY region
       |)
       |SELECT CAST(dm.region AS BIGINT) AS region,
       |  CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
       |  CAST(d_c AS BIGINT) AS d_c,
       |  ${NumFns.roundPortableSql(
            "CAST(4 * m * coalesce(e_in, 0) - d_c * d_c AS DOUBLE) / " +
            "CAST(4 * m * m AS DOUBLE)", 6)} AS contribution
       |FROM dm LEFT JOIN ein ON dm.region = ein.region, m
       |ORDER BY region""".stripMargin

  /** One HITS iteration (Kleinberg hubs/authorities) over the bipartite
    * supplier↔part edge set from lineitem (distinct pairs): from uniform
    * authority 1, hub(s) = Σ_{s−p} 1 = deg(s), then authority(p) =
    * Σ_{p−s} hub(s) — both INTEGER aggregates, so the iteration is
    * bit-exact in any accumulation order and needs no decimal cast; the
    * usual L2 normalization (a global sqrt that would drag every score
    * through order-dependent float summation) is replaced by max-scaling
    * with the max as an exact integer, applied in one final projection.
    * Shape: one distinct edge agg, materialized once (feeds hub agg and
    * the scatter join), hub degrees joined back shuffle-on-supplier,
    * authority agg shuffle-on-part — every exchange carries bare (key,
    * long) pairs; top-25 via a single orderBy+limit over the part-sized
    * score frame. At 100 TB the edge distinct is the only fact-sized
    * pass.
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("supp"), col("l_partkey").as("part"))
      .distinct()
      .localCheckpoint()
    val hub = edges.groupBy(col("supp"))
      .agg(count(lit(1)).as("hub_score"))
    val auth = edges.join(hub.hint("shuffle_hash"), Seq("supp"))
      .groupBy(col("part"))
      .agg(sum(col("hub_score")).as("auth_raw"))
      .localCheckpoint()
    val mx = auth.agg(max(col("auth_raw")).as("mx"))
    auth.crossJoin(broadcast(mx))
      .select(col("part"), col("auth_raw"),
        NumFns.roundPortable(
          col("auth_raw").cast("double") / col("mx").cast("double"), 6)
          .as("authority"))
      .orderBy(col("auth_raw").desc, col("part"))
      .limit(25)
  }

  val qHitsOracle: String =
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey AS supp, l_partkey AS part FROM lineitem
       |),
       |hub AS (SELECT supp, count(*) AS hub_score FROM e GROUP BY supp),
       |auth AS (
       |  SELECT part, CAST(sum(hub_score) AS BIGINT) AS auth_raw
       |  FROM e JOIN hub USING (supp) GROUP BY part
       |)
       |SELECT part, auth_raw,
       |  ${NumFns.roundPortableSql(
            "CAST(auth_raw AS DOUBLE) / (SELECT CAST(max(auth_raw) AS DOUBLE) FROM auth)",
            6)} AS authority
       |FROM auth
       |ORDER BY auth_raw DESC, part
       |LIMIT 25""".stripMargin

  /** Degree cap for [[qCommonNeighbors]] pair generation — same
    * hub-bounding discipline as [[Recsys.CfMaxBasket]]: one crawler-like
    * customer touching thousands of suppliers would alone contribute
    * C(deg, 2) pairs.
    */
  val LinkMaxDeg = 64L

  /** Pairs reported by [[qCommonNeighbors]]. */
  val LinkTopN = 20

  /** Adamic-Adar link prediction over the customer→supplier bipartite
    * graph: for supplier pairs sharing customers, score(s₁,s₂) =
    * Σ_{c ∈ N(s₁)∩N(s₂)} 1/ln(deg(c)) — common neighbors weighted so a
    * promiscuous customer certifies less than a selective one. The
    * co-purchase complement of [[Recsys.qItemCf]]'s cosine: AA is THE
    * standard missing-edge ranker (which suppliers serve the same demand
    * but are never compared). Shape at 100 TB (r10, rebuilt after the
    * scaling curve flagged α=1.54): the pair stream is linear in the
    * corpus but its GROUP DOMAIN (supplier pairs) grows quadratically
    * with the supplier count, so map-side combining stops compressing
    * past sf0.1 and every per-pair byte shuffled is paid in full. Two
    * consequences engineered in: (1) the weight rides an integer
    * lattice — 1/ln(d) depends only on the capped degree, so
    * wq = ⌊10¹²/ln(d)+½⌋ is the SAME exact long on both engines
    * (identical IEEE quotient, identical half-up floor) and the pair
    * aggregate sums bare longs instead of BigDecimal-backed
    * DECIMAL(38,12) — the r9 plan spent most of its 130 s at sf1 in
    * decimal adds and 16-byte shuffle payloads (headroom: wq ≤ 1.44e12,
    * so Σ stays under 2⁶³ up to ~6.4M common neighbors per pair —
    * orders of magnitude past a 100 TB corpus's per-pair overlap);
    * (2) pairs are generated by exploding per-customer neighbor-list
    * combinations instead of the edge self-join — the groupBy(c) reuses
    * the degree join's hash partitioning (no extra exchange) and the
    * C(d,2)-bounded flatten never materializes the join's d² diagonal
    * rows. One edge-frame shuffle for degrees, one for the capped join,
    * one narrow (long,long,long) shuffle for the pair aggregate; top-N
    * via TakeOrdered with pair-key tiebreaks.
    */
  def qCommonNeighbors(s: SparkSession, dir: String): DataFrame = {
    // no localCheckpoint: both consumers (degrees, capped join) carry the
    // IDENTICAL distinct subtree, so ReuseExchange runs it once — the
    // block-manager round-trip the checkpoint paid was pure overhead
    val edges = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su"))
      .distinct()
    val deg = edges.groupBy(col("c")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2 && col("d") <= LinkMaxDeg)
      .select(col("c"),
        floor(lit(1e12) / log(col("d").cast("double")) + lit(0.5))
          .cast("long").as("wq"))
    val byCust = edges.join(deg.hint("shuffle_hash"), Seq("c"))
      .groupBy(col("c")) // reuses the join's partitioning: no exchange
      .agg(sort_array(collect_list(col("su"))).as("sus"),
        first(col("wq")).as("wq"))
    // the pair key is PACKED into one long (sa<<32 | sb — suppkeys are
    // positive int32-range at any TPC-H scale factor ever published):
    // the group-domain is supplier², so past sf0.1 map-side combining
    // stops compressing and every per-pair byte and hash/compare in the
    // 10⁸-row aggregate is paid in full; one long key beats a two-long
    // struct on all three
    byCust
      .select(col("wq"), explode(flatten(transform(col("sus"), (x, i) =>
        transform(slice(col("sus"), i + lit(2), size(col("sus"))), y =>
          shiftleft(x.cast("long"), 32).bitwiseOR(y.cast("long"))))))
        .as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_common"), sum(col("wq")).as("aa"))
      .select(shiftright(col("pk"), 32).as("supp_a"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("supp_b"),
        col("n_common"),
        NumFns.roundPortable(col("aa").cast("double") / lit(1e12), 6)
          .as("aa_score"))
      .orderBy(col("aa_score").desc, col("supp_a"), col("supp_b"))
      .limit(LinkTopN)
  }

  // the CTEs are MATERIALIZED (r9 graph-oracle discipline): DuckDB
  // inlines plain CTEs per use, so `w` (used twice) and `e` (three
  // times) re-ran the fact distinct-join on every expansion — 45+ min
  // of spill-thrash at sf1 vs 28 s materialized, same rows
  val qCommonNeighborsOracle: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS su
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |deg AS MATERIALIZED (
       |  SELECT c, CAST(floor(1e12 / ln(count(*)) + 0.5) AS BIGINT) AS wq
       |  FROM e GROUP BY c
       |  HAVING count(*) >= 2 AND count(*) <= $LinkMaxDeg
       |),
       |w AS MATERIALIZED (
       |  SELECT e.c, e.su, deg.wq FROM e JOIN deg ON e.c = deg.c
       |),
       |p AS (
       |  SELECT a.su AS supp_a, b.su AS supp_b, count(*) AS n_common,
       |    sum(a.wq) AS aa
       |  FROM w a JOIN w b ON a.c = b.c AND a.su < b.su
       |  GROUP BY a.su, b.su
       |)
       |SELECT supp_a, supp_b, n_common,
       |  ${NumFns.roundPortableSql("CAST(aa AS DOUBLE) / 1e12", 6)} AS aa_score
       |FROM p
       |ORDER BY aa_score DESC, supp_a, supp_b
       |LIMIT $LinkTopN""".stripMargin

  /** Core order for [[qKcore]]. */
  val CoreK = 3

  /** Peel rounds unrolled on BOTH engines. Peeling is idempotent at the
    * fixpoint, so extra rounds never change a converged answer; the
    * `converged` output column certifies whether the fixpoint was
    * reached within the budget (the sketches' self-certification
    * discipline — the operator's semantics are exactly "peel R rounds",
    * identical on both engines at any scale).
    */
  val CoreRounds = 8

  /** Hub cap on a part's supplier fan-out when building the co-supply
    * edge set (same bounding discipline as [[LinkMaxDeg]]).
    */
  val CoreMaxFanout = 64L

  /** Memoized hub-capped co-occurrence pair edges per (session, sf-dir,
    * key): the `Recsys.cfTable` discipline applied to the graph family —
    * the capped pair self-join (distinct (key,item) → fanout ≤
    * [[CoreMaxFanout]] → pair join → sa<sb distinct) was re-derived by
    * every consumer (q_kcore + q_component_sizes on the supplier
    * co-supply graph; q_assortativity + q_rich_club on the market-basket
    * part graph — ~11 s of the r7 suite between them). One derivation
    * per session per graph; localCheckpoint truncates lineage so each
    * consumer's plan starts from the edge-domain-sized frame, not the
    * fact pair join. In a resident engine the edge frame IS a
    * materialized artifact every graph health check reads.
    */
  private val edgeMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, String), DataFrame]

  // eviction contract: see graft.SessionMemo — drops this session's
  // edge frames (plus any stopped session's) so the next consumer
  // re-derives from current tables; returns the dropped-entry count
  graft.SessionMemo.register("graph.edgeMemo") { s =>
    val before = edgeMemo.size
    edgeMemo.filterInPlace((k, _) =>
      (k._1 ne s) && !k._1.sparkContext.isStopped)
    before - edgeMemo.size
  }

  /** The un-checkpointed edge derivation — split out so its plan shape
    * stays auditable (the memoized frame's lineage is truncated).
    * r10 (scaling curve): the r9 shape was distinct → fan count →
    * fan join → pair SELF-join — three exchanges of the fact sliver
    * plus the join's d² diagonal rows. collect_set groups straight
    * off the scan (map-side partial sets, one exchange on the key),
    * the hub cap is a size() filter on the collected set, and pairs
    * come from exploding sorted-list combinations (C(f,2) rows, no
    * diagonal, sa<sb by construction) — the qCommonNeighbors r10
    * discipline applied to the shared edge derivation. Only the
    * (sa, sb) pair distinct still shuffles edge-domain rows; the plan
    * contains NO join at all.
    */
  private[graft] def pairEdgesFrame(s: SparkSession, dir: String,
      keyCol: String, itemCol: String): DataFrame =
    Tables.lineitem(s, dir)
      // explicit null fence (r11 advice): collect_set silently drops
      // nulls, so without this a null item would count toward the
      // oracle's HAVING count(*) fan bound but not the frame's — benign
      // on TPC-H's non-null keys, divergent on nullable inputs. Both
      // sides now filter nulls, so parity holds for any input.
      .filter(col(keyCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(keyCol).as("p"))
      .agg(sort_array(collect_set(col(itemCol))).as("sus"))
      .filter(size(col("sus")).between(2, CoreMaxFanout.toInt))
      .select(explode(flatten(transform(col("sus"), (x, i) =>
        transform(slice(col("sus"), i + lit(2), size(col("sus"))), y =>
          struct(x.as("sa"), y.as("sb")))))).as("e"))
      .select(col("e.sa").as("sa"), col("e.sb").as("sb")).distinct()

  private[graft] def cappedPairEdges(s: SparkSession, dir: String,
      keyCol: String, itemCol: String): DataFrame =
    edgeMemo.getOrElseUpdate((s, dir, keyCol, itemCol),
      pairEdgesFrame(s, dir, keyCol, itemCol).localCheckpoint())

  /** Supplier co-supply edges (suppliers sharing a part), hub-capped. */
  private def coSupplyEdges(s: SparkSession, dir: String): DataFrame =
    cappedPairEdges(s, dir, "l_partkey", "l_suppkey")

  /** Market-basket part edges (parts sharing an order), hub-capped. */
  private def basketEdges(s: SparkSession, dir: String): DataFrame =
    cappedPairEdges(s, dir, "l_orderkey", "l_partkey")

  /** k-core extraction over the supplier co-supply graph (suppliers
    * linked when they ship the same part): iteratively peel nodes of
    * degree < k until fixpoint — the standard dense-subgraph primitive
    * (spam-cluster mining, community cores, graph sparsification). The
    * loop is [[CoreRounds]] bounded peels, each one degree-aggregate +
    * two semi-joins over the CURRENT edge frame (monotonically
    * shrinking, `localCheckpoint`ed per round so round r never re-runs
    * rounds 1..r−1 and plan size is constant); nothing but bare (a, b)
    * key pairs ever shuffles. Output is the one-row core summary with
    * the convergence certificate: `n_removed_last` > 0 ⇒ not converged
    * (never observed at the tested scales; at 100 TB you raise
    * [[CoreRounds]] — cost is linear in rounds).
    */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    var edges = coSupplyEdges(s, dir)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("sa").as("id")).union(e.select(col("sb").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // early exit once a round removes nothing: peeling is idempotent at
    // the fixpoint, so skipping the remaining rounds produces the SAME
    // output as the oracle's unconditional unroll — the two convergence
    // counts per round run over the node-sized degree frame, far cheaper
    // than the saved join rounds (measured 4.7s → ~2s at sf0.1)
    var round = 0
    var done = false
    while (round < CoreRounds && !done) {
      val deg = degrees(edges).localCheckpoint()
      val keep = deg.filter(col("d") >= CoreK).select(col("id"))
      // r12: both convergence counts in ONE aggregate over the
      // checkpointed degree frame (was two separate count() jobs)
      val cnts = deg.agg(count(lit(1)),
        coalesce(sum(when(col("d") >= CoreK, 1L).otherwise(0L)), lit(0L))).head()
      done = cnts.getLong(1) == cnts.getLong(0)
      if (!done) {
        edges = edges
          .join(keep.select(col("id").as("sa")).hint("shuffle_hash"),
            Seq("sa"), "left_semi")
          .join(keep.select(col("id").as("sb")).hint("shuffle_hash"),
            Seq("sb"), "left_semi")
          .select(col("sa"), col("sb"))
          .localCheckpoint()
      }
      round += 1
    }
    // fixpoint certificate from the FINAL frame alone: the result IS the
    // k-core iff no surviving node still has degree < k
    val finalDeg = degrees(edges)
    finalDeg.agg(count(lit(1)).as("n_core_nodes"),
        coalesce((sum(col("d")) / 2).cast("long"), lit(0L)).as("n_core_edges"),
        coalesce(sum((col("d") < CoreK).cast("long")) === 0L, lit(true))
          .as("converged"))
      .select(lit(CoreK).cast("long").as("k"),
        lit(CoreRounds).cast("long").as("rounds"),
        col("n_core_nodes"), col("n_core_edges"), col("converged"))
  }

  /** Every peel CTE is `AS MATERIALIZED`: DuckDB inlines plain CTEs, and
    * each level references its predecessor four times — an un-pinned
    * chain re-expands the base scan 4^rounds times.
    */
  val qKcoreOracle: String = {
    val peels = (0 until CoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT sa AS id FROM e$r UNION ALL SELECT sb FROM e$r
         |  ) GROUP BY id
         |),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT sa, sb FROM e$r
         |  WHERE sa IN (SELECT id FROM d$r WHERE d >= $CoreK)
         |    AND sb IN (SELECT id FROM d$r WHERE d >= $CoreK)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS su FROM lineitem
       |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
       |),
       |fan AS (
       |  SELECT p FROM li GROUP BY p HAVING count(*) <= $CoreMaxFanout
       |),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.su AS sa, b.su AS sb
       |  FROM li a JOIN li b ON a.p = b.p AND a.su < b.su
       |  JOIN fan ON fan.p = a.p
       |),
       |$peels,
       |df AS (
       |  SELECT id, count(*) AS d FROM (
       |    SELECT sa AS id FROM e$CoreRounds
       |    UNION ALL SELECT sb FROM e$CoreRounds
       |  ) GROUP BY id
       |)
       |SELECT CAST($CoreK AS BIGINT) AS k,
       |  CAST($CoreRounds AS BIGINT) AS rounds,
       |  count(*) AS n_core_nodes,
       |  COALESCE(CAST(sum(d) // 2 AS BIGINT), 0) AS n_core_edges,
       |  COALESCE(CAST(sum(CASE WHEN d < $CoreK THEN 1 ELSE 0 END)
       |    AS BIGINT) = 0, TRUE) AS converged
       |FROM df""".stripMargin
  }

  /** Degree assortativity of the market-basket part graph (parts linked
    * when they appear in the same ORDER — the co-supply graph is near-
    * complete and degree-degenerate, while baskets of ~4 items give a
    * sparse graph with real degree spread): Newman's r, the Pearson
    * correlation of endpoint degrees over edges — positive r = popular
    * parts co-sell with popular parts, negative = hub-and-spoke
    * cross-sell. Spelled integer-exact by clearing denominators:
    * r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²) — every
    * moment is an exact integer sum over the EDGE frame (degrees joined
    * on from one grouped count), ridden on DECIMAL(38,0) / HUGEINT from
    * the per-edge products up (r6, the qHurst discipline: at corpus
    * scale Σjk and the cleared-denominator products overflow int64,
    * where Spark would wrap while DuckDB raises), and the only double
    * is the final ratio (guarded NULL when the degree variance is zero
    * — both engines agree). Shape: the capped edge list (same hub-cap discipline as
    * [[qKcore]]) is edge-domain-sized; two key-joins attach degrees;
    * the moment aggregate is map-side combined.
    */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = basketEdges(s, dir)
    val deg = edges.select(col("sa").as("id"))
      .union(edges.select(col("sb").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("id").as("sa"), col("d").as("j")).hint("shuffle_hash"),
        Seq("sa"))
      .join(deg.select(col("id").as("sb"), col("d").as("kk")).hint("shuffle_hash"),
        Seq("sb"))
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    withDeg.agg(
        count(lit(1)).as("m"),
        sum(col("j").cast(D0) * col("kk")).as("sjk"),
        sum(col("j").cast(D0) + col("kk")).as("ssum"),
        sum(col("j").cast(D0) * col("j") + col("kk").cast(D0) * col("kk"))
          .as("ssq"))
      .select(col("m").as("n_edges"),
        when(lit(2) * col("m").cast(D0) * col("ssq")
            =!= col("ssum") * col("ssum"),
          NumFns.roundPortable(
            (lit(4) * col("m").cast(D0) * col("sjk")
              - col("ssum") * col("ssum")).cast("double")
              / (lit(2) * col("m").cast(D0) * col("ssq")
                - col("ssum") * col("ssum")).cast("double"), 6))
          .as("assortativity"))
  }

  val qAssortativityOracle: String =
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS p, l_partkey AS su FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
       |),
       |fan AS (
       |  SELECT p FROM li GROUP BY p HAVING count(*) <= $CoreMaxFanout
       |),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.su AS sa, b.su AS sb
       |  FROM li a JOIN li b ON a.p = b.p AND a.su < b.su
       |  JOIN fan ON fan.p = a.p
       |),
       |deg AS (
       |  SELECT id, count(*) AS d FROM (
       |    SELECT sa AS id FROM e UNION ALL SELECT sb FROM e
       |  ) GROUP BY id
       |),
       |w AS (
       |  SELECT da.d AS j, db.d AS kk FROM e
       |  JOIN deg da ON da.id = e.sa
       |  JOIN deg db ON db.id = e.sb
       |),
       |ag AS (
       |  SELECT count(*) AS m,
       |    sum(CAST(j AS HUGEINT) * kk) AS sjk,
       |    sum(CAST(j AS HUGEINT) + kk) AS ssum,
       |    sum(CAST(j AS HUGEINT) * j + CAST(kk AS HUGEINT) * kk) AS ssq
       |  FROM w
       |)
       |SELECT m AS n_edges,
       |  CASE WHEN 2 * m * ssq != ssum * ssum THEN
       |    ${NumFns.roundPortableSql(
              "CAST(4 * m * sjk - ssum * ssum AS DOUBLE) / " +
              "CAST(2 * m * ssq - ssum * ssum AS DOUBLE)", 6)}
       |  END AS assortativity
       |FROM ag""".stripMargin
  /** Club size for [[qRichClub]]. */
  val RichClubK = 50

  /** Rich-club coefficient of the market-basket part graph: do the
    * [[RichClubK]] highest-degree parts co-sell with EACH OTHER more
    * densely than the graph's background density? φ(k) ≫ 1 is the
    * "popular products form a clique" structure that popularity-biased
    * recommenders amplify ([[qAssortativity]] reports the global
    * degree-degree trend; this isolates the hubs). Shape: the same
    * hub-capped edge build (edge frame localCheckpoint\'d once feeds
    * degrees AND both membership probes); the club is a TakeOrdered
    * top-K with a deterministic id tie-break, broadcast (K rows) into
    * two semi-joins; densities are exact-integer ratios of bounded
    * counts.
    */
  def qRichClub(s: SparkSession, dir: String): DataFrame = {
    val edges = basketEdges(s, dir)
    val deg = edges.select(col("sa").as("id"))
      .union(edges.select(col("sb").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val club = deg.orderBy(col("d").desc, col("id")).limit(RichClubK)
      .select(col("id"))
    val tot = deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
    val clubEdges = edges
      .join(broadcast(club.select(col("id").as("sa"))), Seq("sa"), "left_semi")
      .join(broadcast(club.select(col("id").as("sb"))), Seq("sb"), "left_semi")
      .agg(count(lit(1)).as("club_edges"))
      .crossJoin(broadcast(club.agg(count(lit(1)).as("kc"))))
    clubEdges.crossJoin(broadcast(tot))
      .select(col("kc").as("k_club"), col("n_nodes"), col("n_edges"),
        col("club_edges"),
        NumFns.roundPortable(col("club_edges").cast("double")
          / (col("kc") * (col("kc") - 1) / lit(2.0)), 6).as("club_density"),
        NumFns.roundPortable(
          (col("club_edges").cast("double")
            / (col("kc") * (col("kc") - 1) / lit(2.0)))
          / (col("n_edges").cast("double")
            / (col("n_nodes").cast("double") * (col("n_nodes") - 1) / 2.0)),
          4).as("rich_club_ratio"))
  }

  val qRichClubOracle: String =
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS p, l_partkey AS su FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
       |),
       |fan AS (
       |  SELECT p FROM li GROUP BY p HAVING count(*) <= $CoreMaxFanout
       |),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.su AS sa, b.su AS sb
       |  FROM li a JOIN li b ON a.p = b.p AND a.su < b.su
       |  JOIN fan ON fan.p = a.p
       |),
       |deg AS (
       |  SELECT id, count(*) AS d FROM (
       |    SELECT sa AS id FROM e UNION ALL SELECT sb FROM e
       |  ) GROUP BY id
       |),
       |club AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT $RichClubK),
       |tot AS (
       |  SELECT (SELECT count(*) FROM deg) AS n_nodes,
       |    (SELECT count(*) FROM e) AS n_edges
       |),
       |ce AS (
       |  SELECT count(*) AS club_edges,
       |    (SELECT count(*) FROM club) AS kc
       |  FROM e
       |  WHERE sa IN (SELECT id FROM club) AND sb IN (SELECT id FROM club)
       |)
       |SELECT kc AS k_club, n_nodes, n_edges, club_edges,
       |  ${NumFns.roundPortableSql(
            "CAST(club_edges AS DOUBLE) / (kc * (kc - 1) / 2.0)", 6)}
       |    AS club_density,
       |  ${NumFns.roundPortableSql(
            "(CAST(club_edges AS DOUBLE) / (kc * (kc - 1) / 2.0))" +
            " / (CAST(n_edges AS DOUBLE)" +
            " / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1) / 2.0))", 4)}
       |    AS rich_club_ratio
       |FROM ce, tot""".stripMargin

  /** Connected-component size distribution of the co-supply graph
    * (suppliers sharing a part, fanout-capped like [[qKcore]]): the
    * size histogram plus the giant-component share — THE macro
    * connectivity read (percolation state) that degree/kcore/triangle
    * stats can't give: a giant share near 1 says the supply network is
    * one fabric; many mid-size islands say regional silos.
    *
    * Shape (r11): CC runs on the BIPARTITE (part, supplier) incidence
    * sliver, NOT the pair-expanded co-supply edges. Connectivity is
    * identical by construction — two suppliers share a pair-expanded
    * component iff they are linked through kept parts, which is exactly
    * bipartite reachability — but the edge count is the distinct
    * incidence sliver (Σ f over kept parts, linear in the fact table)
    * instead of Σ C(f,2) pair rows (~4·10⁷ at sf1 on a near-complete
    * 10k-supplier graph; the r10 scaling curve measured α=1.60 on the
    * pair-expanded plan — co-occurrence pair expansion densifies
    * superlinearly as the corpus grows, and THIS query never needs the
    * pairs). Part nodes ride the label domain encoded as -(p+1)
    * (disjoint from positive supplier ids); only supplier labels are
    * kept for the histogram, so the extra part nodes cost one filter.
    * The bipartite graph's diameter is 2× the co-supply graph's, which
    * pointer doubling absorbs as ≤ +1 round. Consumers that genuinely
    * need pair edges (kcore, assortativity, rich-club) keep
    * [[cappedPairEdges]]. Labels come from the O(log d)-round
    * pointer-doubling [[Dedup.connectedComponents]] engine (shuffles
    * carry bare (id, label) longs); everything after is dimension-sized
    * (per-component counts → size histogram). Oracle: recursive-CTE
    * min-label reachability over the pair-expanded edges — same
    * components, so the histogram matches exactly.
    */
  def qComponentSizes(s: SparkSession, dir: String): DataFrame = {
    val inc = Tables.lineitem(s, dir)
      .filter(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .groupBy(col("l_partkey").as("p"))
      .agg(collect_set(col("l_suppkey")).as("sus"))
      .filter(size(col("sus")).between(2, CoreMaxFanout.toInt))
      .select(col("p"), explode(col("sus")).as("su"))
    val sym = inc.select((-col("p") - 1).as("src"), col("su").as("dst"))
      .union(inc.select(col("su").as("src"), (-col("p") - 1).as("dst")))
    val labels = Dedup.connectedComponents(sym).filter(col("id") >= 0)
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_components"))
    val tot = sizes.agg(sum(col("sz")).as("n_all"),
      max(col("sz")).as("giant"))
    hist.crossJoin(broadcast(tot))
      .select(col("sz").as("size"), col("n_components"),
        (col("sz") * col("n_components")).as("n_nodes"),
        NumFns.roundPortable(
          col("giant").cast("double") / col("n_all"), 6).as("giant_share"))
      .orderBy(col("size"))
  }

  /** Oracle label-propagation rounds: min-label + pointer-jump doubles
    * the effective reach per round, so 12 rounds cover any component of
    * diameter ≤ 2¹² — far past anything a co-occurrence graph produces
    * (the Spark side iterates to the TRUE fixpoint, so an unconverged
    * oracle would fail the gate, not silently agree). r9: the previous
    * recursive-CTE transitive closure was O(V·E) — it enumerated every
    * (node, reachable-root) pair, which on the sf1 co-supply graph
    * (10k suppliers, ~4·10⁷ edges, near-complete) never finished.
    */
  val CcOracleRounds = 12

  val qComponentSizesOracle: String = {
    val rounds = (1 to CcOracleRounds).map { r =>
      s"""hop$r AS MATERIALIZED (
         |  SELECT id, min(lab) AS lab FROM (
         |    SELECT id, lab FROM lab${r - 1}
         |    UNION ALL
         |    SELECT ed.sb AS id, l.lab FROM ed JOIN lab${r - 1} l
         |      ON ed.sa = l.id
         |  ) GROUP BY id
         |),
         |lab$r AS MATERIALIZED (
         |  SELECT h.id, least(h.lab, coalesce(h2.lab, h.lab)) AS lab
         |  FROM hop$r h LEFT JOIN hop$r h2 ON h.lab = h2.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS su FROM lineitem
       |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
       |),
       |fan AS (
       |  SELECT p FROM li GROUP BY p HAVING count(*) <= $CoreMaxFanout
       |),
       |pr AS MATERIALIZED (
       |  SELECT DISTINCT a.su AS sa, b.su AS sb
       |  FROM li a JOIN li b ON a.p = b.p AND a.su < b.su
       |  WHERE a.p IN (SELECT p FROM fan)
       |),
       |ed AS MATERIALIZED (
       |  SELECT sa, sb FROM pr UNION ALL SELECT sb, sa FROM pr
       |),
       |lab0 AS MATERIALIZED (
       |  SELECT DISTINCT sa AS id, sa AS lab FROM ed
       |),
       |$rounds,
       |cl AS (SELECT id, lab AS cluster FROM lab$CcOracleRounds),
       |sz AS (SELECT cluster, count(*) AS szv FROM cl GROUP BY cluster),
       |hist AS (SELECT szv, count(*) AS n_components FROM sz GROUP BY szv),
       |tot AS (
       |  SELECT CAST(sum(szv) AS BIGINT) AS n_all,
       |    CAST(max(szv) AS BIGINT) AS giant
       |  FROM sz
       |)
       |SELECT szv AS size, n_components,
       |  CAST(szv * n_components AS BIGINT) AS n_nodes,
       |  ${NumFns.roundPortableSql(
            "CAST(giant AS DOUBLE) / n_all", 6)} AS giant_share
       |FROM hist CROSS JOIN tot
       |ORDER BY size""".stripMargin
  }

  /** Truss order for [[qKtruss]]: every surviving edge sits in at least
    * TrussK − 2 triangles among surviving edges.
    */
  val TrussK = 4

  /** Peel rounds unrolled on both engines (the [[CoreRounds]]
    * discipline: idempotent at the fixpoint, certified by the output).
    */
  val TrussRounds = 4

  /** k-truss of the international trade graph (nations linked when a
    * customer in one buys from a supplier in the other), restricted to
    * above-mean-support pairs — the TRIANGLE-grade cohesion core one
    * notch stronger than [[qKcore]]'s degree grade: an edge survives
    * only while it closes ≥ k−2 triangles with OTHER survivors, so
    * bridges and hub spokes that k-core keeps are peeled away (the
    * standard community-core / spam-ring primitive, Cohen 2008). Shape:
    * ONE fact scan builds the ≤C(|nations|,2) support cells (map-side
    * combined); the peel loop then runs entirely on the bounded
    * nation-pair frame — each round one oriented triangle enumeration
    * (x<y<z via two joins) + a 3-projection support count + a semi-join,
    * localCheckpoint'd so round r never replays rounds 1..r−1. Early
    * exit at the fixpoint produces the SAME result as the oracle's
    * unconditional [[TrussRounds]] unroll; the `converged` column
    * certifies it from the final frame alone. Exact integer counting
    * throughout — the threshold compare sup·n ≥ Σsup clears the mean's
    * division.
    */
  def qKtruss(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nc")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("ns")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("nc") =!= col("ns"))
      .groupBy(least(col("nc"), col("ns")).as("a"),
        greatest(col("nc"), col("ns")).as("b"))
      .agg(count(lit(1)).as("sup"))
    val tot = sup.agg(count(lit(1)).as("np"), sum(col("sup")).as("ss"))
    var edges = sup.crossJoin(broadcast(tot))
      .filter(col("sup") * col("np") >= col("ss"))
      .select(col("a"), col("b"))
      .localCheckpoint()
    def support(e: DataFrame): DataFrame = {
      val tri = e.as("ab")
        .join(e.as("bc"), col("ab.b") === col("bc.a"))
        .join(e.as("ac"),
          col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
        .select(col("ab.a").as("x"), col("ab.b").as("y"), col("bc.b").as("z"))
      tri.select(col("x").as("a"), col("y").as("b"))
        .union(tri.select(col("y").as("a"), col("z").as("b")))
        .union(tri.select(col("x").as("a"), col("z").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("tsup"))
    }
    var round = 0
    var done = false
    // r12: carry the surviving-edge count across rounds instead of
    // re-counting the (checkpointed) previous frame — one driver action
    // per round, not two; peel semantics unchanged
    var edgeCount = edges.count()
    while (round < TrussRounds && !done) {
      val keep = support(edges).filter(col("tsup") >= TrussK - 2)
        .select(col("a"), col("b")).localCheckpoint()
      val keepCount = keep.count()
      done = keepCount == edgeCount
      if (!done) { edges = keep; edgeCount = keepCount }
      round += 1
    }
    // certificate from the FINAL frame: truss iff every remaining edge
    // still closes >= k-2 triangles among the remaining edges
    val fin = edges.join(support(edges), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("tsup"), lit(0L)).as("tsup"))
    val nodes = fin.select(col("a").as("id"))
      .union(fin.select(col("b").as("id"))).distinct()
      .agg(count(lit(1)).as("n_truss_nodes"))
    fin.agg(count(lit(1)).as("n_truss_edges"),
        coalesce(min(col("tsup") >= TrussK - 2), lit(true)).as("converged"))
      .crossJoin(broadcast(nodes))
      .select(lit(TrussK.toLong).as("k"),
        lit(TrussRounds.toLong).as("rounds"),
        col("n_truss_nodes"), col("n_truss_edges"), col("converged"))
  }

  /** Peel CTEs pinned MATERIALIZED for the same reason as
    * [[qKcoreOracle]]: each level is referenced by the triangle join
    * three times.
    */
  val qKtrussOracle: String = {
    val peels = (0 until TrussRounds).map { r =>
      s"""t$r AS MATERIALIZED (
         |  SELECT ab.a AS x, ab.b AS y, bc.b AS z
         |  FROM e$r ab JOIN e$r bc ON ab.b = bc.a
         |  JOIN e$r ac ON ac.a = ab.a AND ac.b = bc.b
         |),
         |s$r AS MATERIALIZED (
         |  SELECT a, b, count(*) AS tsup FROM (
         |    SELECT x AS a, y AS b FROM t$r
         |    UNION ALL SELECT y, z FROM t$r
         |    UNION ALL SELECT x, z FROM t$r
         |  ) GROUP BY 1, 2
         |),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$r e
         |  JOIN s$r s ON s.a = e.a AND s.b = e.b
         |    AND s.tsup >= ${TrussK - 2}
         |)""".stripMargin
    }.mkString(",\n")
    val R = TrussRounds
    s"""WITH f AS MATERIALIZED (
       |  SELECT least(c_nationkey, s_nationkey) AS a,
       |    greatest(c_nationkey, s_nationkey) AS b, count(*) AS sup
       |  FROM orders
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey != s_nationkey
       |  GROUP BY 1, 2
       |),
       |tot AS (SELECT count(*) AS np, sum(sup) AS ss FROM f),
       |e0 AS MATERIALIZED (
       |  SELECT a, b FROM f, tot WHERE sup * np >= ss
       |),
       |$peels,
       |tf AS (
       |  SELECT ab.a AS x, ab.b AS y, bc.b AS z
       |  FROM e$R ab JOIN e$R bc ON ab.b = bc.a
       |  JOIN e$R ac ON ac.a = ab.a AND ac.b = bc.b
       |),
       |sf AS (
       |  SELECT a, b, count(*) AS tsup FROM (
       |    SELECT x AS a, y AS b FROM tf
       |    UNION ALL SELECT y, z FROM tf
       |    UNION ALL SELECT x, z FROM tf
       |  ) GROUP BY 1, 2
       |),
       |fin AS (
       |  SELECT e.a, e.b, COALESCE(s.tsup, 0) AS tsup
       |  FROM e$R e LEFT JOIN sf s ON s.a = e.a AND s.b = e.b
       |),
       |nn AS (
       |  SELECT count(*) AS n_truss_nodes FROM (
       |    SELECT DISTINCT id FROM (
       |      SELECT a AS id FROM fin UNION ALL SELECT b FROM fin
       |    )
       |  )
       |),
       |ea AS (
       |  SELECT count(*) AS n_truss_edges,
       |    COALESCE(min(tsup >= ${TrussK - 2}), TRUE) AS converged
       |  FROM fin
       |)
       |SELECT CAST($TrussK AS BIGINT) AS k,
       |  CAST($TrussRounds AS BIGINT) AS rounds,
       |  n_truss_nodes, n_truss_edges, converged
       |FROM ea CROSS JOIN nn""".stripMargin
  }

  /** Borůvka rounds for [[qMstBoruvka]]: components at least halve per
    * round, so 5 rounds suffice for the ≤25-node nation graph
    * (⌈log₂ 25⌉ = 5); the `converged` column certifies the fixpoint.
    */
  val MstRounds = 5

  /** Maximum spanning forest of the nation trade graph by Borůvka's
    * algorithm — the "trade backbone": the strongest acyclic subnetwork
    * touching every trading nation (classic network-backbone
    * extraction; flip the comparison and it's the textbook MST). THE
    * distributed MST algorithm: each round every component picks its
    * best outgoing edge under the STRICT total order (support DESC,
    * a, b) — distinct weights ⇒ the picked set is provably acyclic —
    * then components merge via the same pointer-doubling
    * connected-components loop the dedup stack uses
    * ([[Dedup.connectedComponents]]). O(log n) rounds of
    * component-domain joins + one window per round; nothing but bare
    * (comp, a, b, sup) rows ever shuffles, so the shape holds on a
    * billion-node graph even though the nation instantiation is
    * bounded. The oracle unrolls the SAME rounds with one recursive
    * transitive-closure CTE per round (the q_component_sizes
    * discipline). Early exit at the empty-pick fixpoint produces the
    * same forest as the oracle's unconditional unroll. Exact integer
    * support weights end to end; `n_components = n_nodes − n_edges`
    * is the forest invariant the output exposes.
    */
  def qMstBoruvka(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nc")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("ns")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("nc") =!= col("ns"))
      .groupBy(least(col("nc"), col("ns")).as("a"),
        greatest(col("nc"), col("ns")).as("b"))
      .agg(count(lit(1)).as("sup"))
      .localCheckpoint()
    val nodes = f.select(col("a").as("id"))
      .union(f.select(col("b").as("id"))).distinct().localCheckpoint()
    def labelsOf(forest: DataFrame): DataFrame = {
      val sym = forest.select(col("a").as("src"), col("b").as("dst"))
        .union(forest.select(col("b").as("src"), col("a").as("dst")))
      nodes.join(Dedup.connectedComponents(sym), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("lab"))
    }
    var forest = f.filter(lit(false)).localCheckpoint()
    var forestEmpty = true // round 1 labels are all-singleton by construction
    var round = 0
    var done = false
    while (round < MstRounds && !done) {
      val lab =
        if (forestEmpty) nodes.select(col("id"), col("id").as("lab"))
        else labelsOf(forest)
      val cand = f
        .join(lab.select(col("id").as("a"), col("lab").as("la")), Seq("a"))
        .join(lab.select(col("id").as("b"), col("lab").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
      val both = cand
        .select(col("la").as("comp"), col("a"), col("b"), col("sup"))
        .union(cand
          .select(col("lb").as("comp"), col("a"), col("b"), col("sup")))
      val w = Window.partitionBy(col("comp"))
        .orderBy(col("sup").desc, col("a"), col("b"))
      val picks = both.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a"), col("b"), col("sup")).distinct()
        .localCheckpoint()
      done = picks.head(1).isEmpty
      if (!done) { forest = forest.union(picks).localCheckpoint(); forestEmpty = false }
      round += 1
    }
    val labF = labelsOf(forest)
    val cross = f
      .join(labF.select(col("id").as("a"), col("lab").as("la")), Seq("a"))
      .join(labF.select(col("id").as("b"), col("lab").as("lb")), Seq("b"))
      .filter(col("la") =!= col("lb"))
      .agg(count(lit(1)).as("n_crossing"))
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    val nc = labF.agg(countDistinct(col("lab")).as("n_components"))
    forest.agg(count(lit(1)).as("n_mst_edges"),
        coalesce(sum(col("sup")), lit(0L)).as("total_weight"))
      .crossJoin(broadcast(nn)).crossJoin(broadcast(nc))
      .crossJoin(broadcast(cross))
      .select(col("n_nodes"), col("n_components"), col("n_mst_edges"),
        col("total_weight"), (col("n_crossing") === 0L).as("converged"))
  }

  /** One recursive transitive-closure CTE per Borůvka round (the
    * [[qComponentSizesOracle]] labeling), candidate/pick CTEs between;
    * the pick window uses the identical strict total order.
    */
  val qMstBoruvkaOracle: String = {
    val rounds = (0 until MstRounds).map { r =>
      s"""sym$r AS (
         |  SELECT a AS src, b AS dst FROM forest$r
         |  UNION ALL SELECT b, a FROM forest$r
         |),
         |reach$r(id, rr) AS (
         |  SELECT DISTINCT src, src FROM sym$r
         |  UNION
         |  SELECT sym$r.dst, reach$r.rr FROM sym$r
         |  JOIN reach$r ON sym$r.src = reach$r.id
         |),
         |lab$r AS (
         |  SELECT n.id, COALESCE(c.lab, n.id) AS lab
         |  FROM nodes n LEFT JOIN
         |    (SELECT id, min(rr) AS lab FROM reach$r GROUP BY id) c
         |    ON c.id = n.id
         |),
         |cand$r AS (
         |  SELECT la.lab AS comp, f.a, f.b, f.sup
         |  FROM f JOIN lab$r la ON la.id = f.a
         |  JOIN lab$r lb ON lb.id = f.b
         |  WHERE la.lab != lb.lab
         |  UNION ALL
         |  SELECT lb.lab, f.a, f.b, f.sup
         |  FROM f JOIN lab$r la ON la.id = f.a
         |  JOIN lab$r lb ON lb.id = f.b
         |  WHERE la.lab != lb.lab
         |),
         |picks$r AS (
         |  SELECT DISTINCT a, b, sup FROM (
         |    SELECT a, b, sup,
         |      row_number() OVER (PARTITION BY comp
         |        ORDER BY sup DESC, a, b) AS rn
         |    FROM cand$r
         |  ) WHERE rn = 1
         |),
         |forest${r + 1} AS MATERIALIZED (
         |  SELECT a, b, sup FROM forest$r
         |  UNION ALL SELECT a, b, sup FROM picks$r
         |)""".stripMargin
    }.mkString(",\n")
    val R = MstRounds
    s"""WITH RECURSIVE f AS MATERIALIZED (
       |  SELECT least(c_nationkey, s_nationkey) AS a,
       |    greatest(c_nationkey, s_nationkey) AS b, count(*) AS sup
       |  FROM orders
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey != s_nationkey
       |  GROUP BY 1, 2
       |),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT a AS id FROM f UNION ALL SELECT b FROM f
       |  )
       |),
       |forest0 AS (SELECT a, b, sup FROM f WHERE FALSE),
       |$rounds,
       |symF AS (
       |  SELECT a AS src, b AS dst FROM forest$R
       |  UNION ALL SELECT b, a FROM forest$R
       |),
       |reachF(id, rr) AS (
       |  SELECT DISTINCT src, src FROM symF
       |  UNION
       |  SELECT symF.dst, reachF.rr FROM symF
       |  JOIN reachF ON symF.src = reachF.id
       |),
       |labF AS (
       |  SELECT n.id, COALESCE(c.lab, n.id) AS lab
       |  FROM nodes n LEFT JOIN
       |    (SELECT id, min(rr) AS lab FROM reachF GROUP BY id) c
       |    ON c.id = n.id
       |),
       |cross_cnt AS (
       |  SELECT count(*) AS n_crossing
       |  FROM f JOIN labF la ON la.id = f.a
       |  JOIN labF lb ON lb.id = f.b
       |  WHERE la.lab != lb.lab
       |),
       |agg AS (
       |  SELECT count(*) AS n_mst_edges,
       |    COALESCE(CAST(sum(sup) AS BIGINT), 0) AS total_weight
       |  FROM forest$R
       |),
       |nn AS (SELECT count(*) AS n_nodes FROM nodes),
       |nc AS (SELECT count(DISTINCT lab) AS n_components FROM labF)
       |SELECT n_nodes, n_components, n_mst_edges, total_weight,
       |  (n_crossing = 0) AS converged
       |FROM agg CROSS JOIN nn CROSS JOIN nc CROSS JOIN cross_cnt"""
      .stripMargin
  }
}
