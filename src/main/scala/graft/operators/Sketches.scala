package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, TextFns}
import graft.sources.Tables

/** Approximate sketch operators — the 100 TB versions of exact
  * aggregates. Sketch VALUES are engine-specific, so the driver-gated
  * forms ([[qSketchDistinct]], [[qSketchPercentile]]) emit the
  * self-certifying contract instead: the exact twin (which DuckDB
  * recomputes independently) plus a `within_bound` boolean stating the
  * sketch landed within its error budget of that exact value. The oracle
  * asserts `TRUE` — a sketch drifting out of bound flips the column and
  * reds the row, so the contract is oracle-enforced, not ScalaTest-only.
  */
object Sketches {

  /** approx_count_distinct at rsd=0.02 — certify at 5% (≈2.5σ). */
  val DistinctBound = 0.05

  /** percentile_approx at accuracy=1000 — certify p50 at 2% relative. */
  val PercentileBound = 0.02

  /** The distinct-parts certificate: `approx_parts` within
    * [[DistinctBound]] of `exact_parts`.
    */
  private def partsWithinBound: Column =
    (abs(col("approx_parts") - col("exact_parts")) <=
      col("exact_parts") * DistinctBound).as("within_bound")

  /** The oracle of a certified distinct-parts count per return flag;
    * `more` adds columns before `exact_parts`.
    */
  private def distinctPartsOracle(more: String*): String =
    s"""SELECT l_returnflag,${more.map("\n  " + _ + ",").mkString}
       |  count(DISTINCT l_partkey) AS exact_parts,
       |  TRUE AS within_bound
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  def qSketchDistinct(s: SparkSession, dir: String): DataFrame =
    approxDistinctParts(s, dir)
      .select(col("l_returnflag"), col("exact_parts"), partsWithinBound)
      .orderBy(col("l_returnflag"))

  val qSketchDistinctOracle: String = distinctPartsOracle()

  def qSketchPercentile(s: SparkSession, dir: String): DataFrame =
    approxPercentiles(s, dir)
      .select(col("l_returnflag"),
        round(col("exact_p50"), 4).as("p50_price"),
        (abs(col("approx_p50") - col("exact_p50")) <=
          col("exact_p50") * PercentileBound).as("within_bound"))
      .orderBy(col("l_returnflag"))

  val qSketchPercentileOracle: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
      |  TRUE AS within_bound
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** HyperLogLog++ distinct counts per group (fixed ~KB state per group,
    * mergeable across partitions — the only distinct count that works on
    * a 100 TB key column) beside the exact twin. Both are computed over
    * the SAME deduped (group, key) frame: an HLL sketch depends only on
    * the value SET, not multiplicities, so deduping first changes nothing
    * for the estimate and turns the exact side into a plain count —
    * mixing countDistinct with another aggregate in one agg planned an
    * Expand (per-aggregate row multiplication) + interpreted fallback,
    * measured 5.1s at sf0.1 vs ~0.6s for this shape.
    */
  def approxDistinctParts(s: SparkSession, dir: String, rsd: Double = 0.02): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_partkey"))
      .distinct()
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd).as("approx_parts"),
        count(lit(1)).as("exact_parts"))
      .orderBy(col("l_returnflag"))

  /** t-digest quantiles (percentile_approx, bounded memory at any
    * cardinality) vs the sort-based exact percentile
    * (Analytics.exactPercentiles — NOT the O(rows)-state `percentile`
    * aggregate; see that scaladoc).
    */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("approx_p50"))
    val exact = Analytics.exactPercentiles(li, "l_returnflag", "l_extendedprice",
      Seq(0.5 -> "exact_p50"))
    approx.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("approx_p50"), col("exact_p50"))
      .orderBy(col("l_returnflag"))
  }

  /** Mergeable-sketch rollup — THE 100 TB distinct-count architecture:
    * fine-grained (returnflag, linestatus) shards each build an
    * independent HLL sketch (Datasketches binary, one pass), and the
    * coarser per-returnflag answer comes from UNIONING shard sketches —
    * never re-scanning rows. This is what makes pre-aggregated daily
    * sketch tables answer arbitrary-range distinct queries at interactive
    * cost. Certified like the other sketches: the merged estimate must
    * land within bound of the exact twin, oracle-enforced. lgConfigK=12
    * → rsd ≈ 1.6%, certified at 5%.
    */
  def qSketchMerge(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val shardSketches = li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey"), lit(12)).as("sk"))
    val merged = shardSketches
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_shards"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_parts"))
    val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    merged.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n_shards"), col("exact_parts"), partsWithinBound)
      .orderBy(col("l_returnflag"))
  }

  val qSketchMergeOracle: String =
    distinctPartsOracle("count(DISTINCT l_linestatus) AS n_shards")

  /** Count-min sketch shape: [[CmsDepth]] independent md5-derived hash
    * rows × [[CmsWidth]] integer cells — 3×1024 counters total,
    * REGARDLESS of vocabulary size. Positions reuse the same salted-md5
    * trick as the Bloom filter (Curation.bloomPos), so the sketch is
    * bit-identical on both engines and the gate hash-matches the
    * OVERCOUNTS too, not just the exact counts.
    */
  val CmsDepth = 3
  val CmsWidth = 1024L
  val CmsTopK = 20

  private def cmsPos(word: org.apache.spark.sql.Column, j: Int) =
    TextFns.hash28(concat(lit(s"cms$j:"), word)) % CmsWidth
  private def cmsPosSql(w: String, j: Int): String =
    s"${TextFns.hash28Sql(s"'cms$j:' || $w")} % $CmsWidth"

  /** Count-min sketch over the corpus token stream, certified against
    * the exact top-[[CmsTopK]] word counts. The sketch is built straight
    * from the exploded token stream — no vocabulary aggregate on the
    * build path, which is the point at 100 TB: map-side combine reduces
    * every partition to ≤ depth×width cells before the one
    * constant-bounded shuffle, so sketch cost is independent of how many
    * distinct words exist (the exact (word, n) table here exists only to
    * certify; a production probe would broadcast the 3K-cell sketch and
    * never build it). CMS guarantees est ≥ true with bounded overcount —
    * both engines compute identical cells, so `overcount` itself is
    * oracle-gated. Top-k selection is per-partition top-k + merge
    * (TakeOrderedAndProject), never a global sort.
    */
  def qSketchCms(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
    val rows = (0 until CmsDepth).map(j =>
      struct(lit(j).as("sj"), cmsPos(col("word"), j).as("spos")))
    val sketch = toks
      .select(explode(array(rows: _*)).as("c"))
      .groupBy(col("c.sj").as("sj"), col("c.spos").as("spos"))
      .agg(count(lit(1)).as("cell"))
    val top = toks.groupBy(col("word")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("word")).limit(CmsTopK)
    val probes = top.select(col("word"), col("exact_n"),
      explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("pj"), cmsPos(col("word"), j).as("ppos"))): _*)).as("p"))
    probes
      .join(broadcast(sketch),
        col("p.pj") === col("sj") && col("p.ppos") === col("spos"))
      .groupBy(col("word"), col("exact_n"))
      .agg(min(col("cell")).as("cms_est"))
      .select(col("word"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("word"))
  }

  val qSketchCmsOracle: String =
    s"""WITH toks AS (
       |  SELECT unnest(${TextFns.toksSql}) AS word FROM documents
       |),
       |cells AS (
       |  SELECT sj, spos, count(*) AS cell FROM (
       |    SELECT 0 AS sj, ${cmsPosSql("word", 0)} AS spos FROM toks
       |    UNION ALL SELECT 1, ${cmsPosSql("word", 1)} FROM toks
       |    UNION ALL SELECT 2, ${cmsPosSql("word", 2)} FROM toks
       |  ) GROUP BY sj, spos
       |),
       |top AS (
       |  SELECT word, count(*) AS exact_n FROM toks GROUP BY word
       |  ORDER BY exact_n DESC, word LIMIT $CmsTopK
       |),
       |probes AS (
       |  SELECT word, exact_n, 0 AS pj, ${cmsPosSql("word", 0)} AS ppos FROM top
       |  UNION ALL SELECT word, exact_n, 1, ${cmsPosSql("word", 1)} FROM top
       |  UNION ALL SELECT word, exact_n, 2, ${cmsPosSql("word", 2)} FROM top
       |)
       |SELECT word, exact_n, min(cell) AS cms_est,
       |  min(cell) - exact_n AS overcount
       |FROM probes JOIN cells ON pj = sj AND ppos = spos
       |GROUP BY word, exact_n
       |ORDER BY exact_n DESC, word""".stripMargin

  /** Relative-error budget for the inclusion-exclusion intersection
    * estimate: three HLL estimates (A, B, A∪B) at rsd 0.02 stack, so the
    * certificate bound is generous against their combined drift. */
  val InterBound = 0.05

  /** Universal multiply-mod hash rows for INTEGER keys (the
    * [[qJoinSizeEst]] sketch): pos_j(k) = ((k mod p)·c_j mod p) mod
    * width with p = 2³¹−1 prime — pairwise-independent enough for the
    * CMS bound, pure int64 arithmetic on BOTH engines (products stay
    * < 2⁶², so neither engine can overflow), and ~20× cheaper than the
    * md5-string position used for WORD keys (measured 14.2s → the string
    * concat + md5 dominated the whole bench's worst query). */
  private val CmsPrime = 2147483647L
  private val CmsCoef = Seq(1664525L, 22695477L, 69069L)
  private def cmsIntPos(k: org.apache.spark.sql.Column, j: Int) =
    pmod(pmod(k, lit(CmsPrime)) * CmsCoef(j), lit(CmsPrime)) % CmsWidth
  private def cmsIntPosSql(k: String, j: Int): String =
    s"((($k) % $CmsPrime) * ${CmsCoef(j)}) % $CmsPrime % $CmsWidth"

  /** Equi-join CARDINALITY estimation as a count-min inner product —
    * |A ⋈ₖ B| = Σₖ c_A(k)·c_B(k), estimated as minⱼ Σ_pos cellsA·cellsB
    * over [[CmsDepth]] hash rows: the sketch algebra a cost-based
    * planner uses to choose join order/strategy WITHOUT touching either
    * fact table's key domain (each side reduces map-side to depth×width
    * integer cells; the "join" of sketches is a 3K-cell product). The
    * estimate provably ≥ the true size (hash collisions only add), and
    * the certificate asserts the Markov bound est − exact ≤
    * 4·|A|·|B|/width. Everything is integer-exact, so both engines
    * compute the identical estimate. The exact join count here exists
    * only to certify — at 100 TB you'd ship ONLY the sketches.
    */
  def qJoinSizeEst(s: SparkSession, dir: String): DataFrame = {
    def cells(keys: DataFrame): DataFrame = keys
      .select(explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("j"), cmsIntPos(col("k"), j).as("pos"))): _*))
        .as("c"))
      .groupBy(col("c.j").as("j"), col("c.pos").as("pos"))
      .agg(count(lit(1)).as("n"))
    val aKeys = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
    val bKeys = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    val prod = cells(aKeys).as("a")
      .join(cells(bKeys).as("b"), Seq("j", "pos"))
      .groupBy(col("j"))
      .agg(sum(col("a.n") * col("b.n")).as("ip"))
      .agg(min(col("ip")).as("cms_est"))
    val counts = aKeys.agg(count(lit(1)).as("n_a"))
      .crossJoin(bKeys.agg(count(lit(1)).as("n_b")))
    val exact = Tables.lineitem(s, dir).select(col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("exact_join"))
    counts.crossJoin(broadcast(exact)).crossJoin(broadcast(prod))
      .select(col("n_a"), col("n_b"), col("exact_join"), col("cms_est"),
        (col("cms_est") >= col("exact_join") &&
          (col("cms_est") - col("exact_join")).cast("double") <=
            col("n_a").cast("double") * col("n_b") * 4.0 / CmsWidth)
          .as("within_bound"))
  }

  val qJoinSizeEstOracle: String = {
    val aCells = (0 until CmsDepth).map(j =>
      s"SELECT $j AS j, ${cmsIntPosSql("l_orderkey", j)} AS pos FROM lineitem")
      .mkString("\n|  UNION ALL ")
    val bCells = (0 until CmsDepth).map(j =>
      s"SELECT $j AS j, ${cmsIntPosSql("o_orderkey", j)} AS pos FROM orders")
      .mkString("\n|  UNION ALL ")
    s"""WITH ar AS (
       |  $aCells
       |),
       |a AS (SELECT j, pos, count(*) AS n FROM ar GROUP BY j, pos),
       |br AS (
       |  $bCells
       |),
       |b AS (SELECT j, pos, count(*) AS n FROM br GROUP BY j, pos),
       |ip AS (
       |  SELECT a.j, CAST(sum(a.n * b.n) AS BIGINT) AS ip
       |  FROM a JOIN b ON a.j = b.j AND a.pos = b.pos
       |  GROUP BY a.j
       |),
       |est AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM ip),
       |c AS (
       |  SELECT (SELECT count(*) FROM lineitem) AS n_a,
       |    (SELECT count(*) FROM orders) AS n_b,
       |    (SELECT count(*) FROM lineitem JOIN orders
       |      ON l_orderkey = o_orderkey) AS exact_join
       |)
       |SELECT n_a, n_b, exact_join, cms_est,
       |  cms_est >= exact_join AND
       |    CAST(cms_est - exact_join AS DOUBLE) <=
       |      CAST(n_a AS DOUBLE) * n_b * 4.0 / $CmsWidth AS within_bound
       |FROM c, est""".stripMargin
  }

  /** Sketch-space set INTERSECTION via inclusion-exclusion —
    * |A∩B| ≈ hll(A) + hll(B) − hll(A∪B) — between two sources' token
    * vocabularies, the overlap question (shared vocabulary, audience
    * overlap, cross-corpus contamination) answered WITHOUT materializing
    * either set: HLL sketches are unionable, so at 100 TB each source
    * keeps a KB-sized sketch and intersection estimates come from sketch
    * algebra, never a token join. Self-certifying like the other
    * sketches: the exact intersection rides the same frames (per-token
    * presence flags → Σ both-present) and the oracle asserts the
    * estimate lands within [[InterBound]] of it. approx_count_distinct
    * hashes deterministically, so the certificate is reproducible, not
    * flaky. Shape: one (source, token) distinct, then a token-keyed
    * presence aggregate for the exact side and one sketch aggregate for
    * the approx side — both map-side combined.
    */
  def qHllIntersection(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(s, dir)
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), explode(TextFns.tokenSet(col("text"))).as("tok"))
      .distinct()
      .localCheckpoint() // feeds the exact presence agg AND the sketches
    val exact = st.groupBy(col("tok"))
      .agg(max(when(col("source") === "src0", 1).otherwise(0)).as("in_a"),
        max(when(col("source") === "src1", 1).otherwise(0)).as("in_b"))
      .agg(sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
        sum(col("in_a") * col("in_b")).as("n_inter"))
    val approx = st.agg(
      approx_count_distinct(when(col("source") === "src0", col("tok")), 0.02)
        .as("est_a"),
      approx_count_distinct(when(col("source") === "src1", col("tok")), 0.02)
        .as("est_b"),
      approx_count_distinct(col("tok"), 0.02).as("est_u"))
    exact.crossJoin(approx)
      .select(col("n_a"), col("n_b"), col("n_inter"),
        (abs(col("est_a") + col("est_b") - col("est_u") - col("n_inter")) <=
          (col("n_a") + col("n_b")) * InterBound).as("within_bound"))
  }

  val qHllIntersectionOracle: String =
    s"""WITH st AS (
       |  SELECT DISTINCT source, unnest(list_distinct(${TextFns.toksSql}))
       |    AS tok
       |  FROM documents WHERE source IN ('src0', 'src1')
       |),
       |p AS (
       |  SELECT tok,
       |    max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS in_a,
       |    max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS in_b
       |  FROM st GROUP BY tok
       |)
       |SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
       |  CAST(sum(in_b) AS BIGINT) AS n_b,
       |  CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
       |  TRUE AS within_bound
       |FROM p""".stripMargin

  /** K-minimum-values sketch size. rse ≈ 1/√(K−2) ≈ 6.3%; the
    * certification bound is ~3σ.
    */
  val KmvK = 256

  /** Certification bound for [[qKmvDistinct]] (≈3σ of the KMV rse). */
  val KmvBound = 0.2

  /** K-minimum-values distinct-count estimator over order keys, beside
    * its exact twin with the ±3σ certification verdict — the THIRD
    * distinct sketch in the suite (HLL hashes into registers; KMV
    * keeps the K smallest hash values, which uniquely also supports
    * set-INTERSECTION estimates downstream, and its k-th order
    * statistic is an exact, engine-portable integer — md5-derived, so
    * the sketch VALUE itself is oracle-gated, not just its bound).
    * Shape: distinct keys → 60-bit portable hashes → TakeOrdered(K)
    * (heap per partition + K-row merge, never a global sort);
    * estimate = (K−1)/(h_K/2⁶⁰). Degrades to exact when the domain is
    * smaller than K (all hashes kept), mirrored in both engines.
    */
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.orders(s, dir)
      .select(col("o_orderkey").cast("string").as("k")).distinct()
      .select(TextFns.hash60(col("k")).as("h"))
    val exact = keys.agg(count(lit(1)).as("exact_keys"))
    val kmv = keys.orderBy(col("h")).limit(KmvK)
      .agg(count(lit(1)).as("kept"), max(col("h")).as("hk"))
    kmv.crossJoin(broadcast(exact))
      .select(col("exact_keys"), col("kept"), col("hk"),
        when(col("kept") < KmvK, col("kept").cast("double"))
          .otherwise((lit(KmvK.toDouble) - 1.0)
            / (col("hk").cast("double") / math.pow(2.0, 60))).as("est"))
      .select(col("exact_keys"), col("kept"),
        NumFns.roundPortable(col("est"), 2).as("kmv_estimate"),
        (abs(col("est") - col("exact_keys")) <=
          col("exact_keys") * KmvBound).as("within_bound"))
  }

  val qKmvDistinctOracle: String =
    s"""WITH keys AS (
       |  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS k FROM orders
       |),
       |h AS (SELECT ${TextFns.hash60Sql("k")} AS h FROM keys),
       |ex AS (SELECT count(*) AS exact_keys FROM h),
       |km AS (
       |  SELECT count(*) AS kept, max(h) AS hk
       |  FROM (SELECT h FROM h ORDER BY h LIMIT $KmvK)
       |),
       |e AS (
       |  SELECT exact_keys, kept,
       |    CASE WHEN kept < $KmvK THEN CAST(kept AS DOUBLE)
       |      ELSE ($KmvK.0 - 1.0)
       |        / (CAST(hk AS DOUBLE) / pow(2.0, 60)) END AS est
       |  FROM km CROSS JOIN ex
       |)
       |SELECT exact_keys, kept,
       |  ${NumFns.roundPortableSql("est", 2)} AS kmv_estimate,
       |  abs(est - exact_keys) <= exact_keys * $KmvBound AS within_bound
       |FROM e""".stripMargin
}
