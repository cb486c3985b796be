package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, VectorFns}
import graft.functions.NumFns.{Dec0, Dec12}
import graft.sources.Tables

/** Similarity-search operators over the embeddings table (SURVEY.md §2,
  * table 3): threshold near-dup pairs, brute-force top-k (the correctness
  * baseline) and random-hyperplane LSH bucketing (the 100 TB scale path —
  * each query probes one bucket, ~1/2^planes of the corpus).
  *
  * Float discipline: all similarities are computed dot/(sqrt(na)*sqrt(nb))
  * in double with sequential accumulation and rounded to 4 decimals; the
  * thresholds (0.40) sit in empirically verified gaps of the similarity
  * distribution, so last-bit drift between engines cannot flip a row.
  */
object Similarity {

  val Dims = 64
  val Planes = 8
  val NearDupThreshold = 0.40

  private val vSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  /** embeddings → (vec_id, label, v, nsq) with the squared norm
    * precomputed once per row (never per pair).
    */
  private def prepared(s: SparkSession, dir: String): DataFrame = {
    val v = VectorFns.asDouble(col("embedding"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), v.as("v"))
      .withColumn("nsq", VectorFns.normSq(col("v")))
  }

  private val preparedSql =
    s"""e AS (SELECT vec_id, label, $vSql AS v FROM embeddings),
       |n AS (SELECT vec_id, label, v, ${dotSql("v", "v")} AS nsq FROM e)""".stripMargin

  private def simCol = round(
    VectorFns.cosineWithNorms(
      VectorFns.dot(col("a.v"), col("b.v")), col("a.nsq"), col("b.nsq")), 4)

  /** Hash-stable mean — see [[graft.functions.NumFns]] (the r3
    * q_kmeans_step flake: round(avg(double),4) is accumulation-order
    * dependent; the decimal sum is not).
    */
  private def stableMean4(x: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
    graft.functions.NumFns.stableMean(x, n, 4)

  private def stableMean4Sql(x: String, n: String) =
    graft.functions.NumFns.stableMeanSql(x, n, 4)

  /** Public: the Dataset encoder's generated deserializer must be able
    * to construct it (private members fail Janino compilation). One row
    * of the chunk-replicated corpus: a vector tagged with its own chunk
    * and one (c_lo, c_hi) chunk-pair task it participates in.
    */
  case class ChunkVec(vec_id: Long, label: Int, v: Array[Double],
      chunk: Int, c_lo: Int, c_hi: Int)

  /** Per-task vector bound for the near-dup block loop. A task scores at
    * most 2×this many vectors (one chunk from each side), so task memory
    * is capped at 2 × EmbedChunkSize × Dims doubles regardless of how hot
    * a label is. Production would raise this to ~4096 (≈2 MB/side at 64
    * dims); it is small here so the sf0.01 driver run actually exercises
    * the multi-chunk path.
    */
  val EmbedChunkSize = 64

  /** Embedding-cosine near-duplicate pairs within a label block.
    *
    * r1 shape (all vectors of a label in ONE task) was the engine's last
    * all-pairs structure — a hot label at 100 TB is a single-task OOM. Now
    * each label is split into bounded chunks (row_number over the label,
    * so chunk sizes are exact) and every chunk-pair (c_lo ≤ c_hi) becomes
    * its own task: a vector of chunk c is replicated once per chunk-pair
    * group it serves, the group runs a tight primitive-double loop over
    * ≤ 2×EmbedChunkSize vectors (triangle when c_lo == c_hi, full cross
    * otherwise), and emits only rows at the threshold. Every unordered
    * pair lands in exactly one group — (min(chunk_a, chunk_b),
    * max(chunk_a, chunk_b)) — so no dedup pass is needed. Parallelism is
    * now Σ_labels nchunks·(nchunks+1)/2 tasks instead of one per label;
    * replication factor per vector is nchunks, the unavoidable cost of
    * exact within-label all-pairs (the LSH/IVF paths are the sub-quadratic
    * alternatives).
    *
    * Float parity with the oracle: the while-loop is the same
    * left-to-right double fold as DuckDB's list_sum; sim =
    * dot/(norm_a*norm_b) with norms = sqrt of the self-fold; the in-loop
    * cut uses a margin (0.3999 < round boundary) and the exact threshold
    * is applied after Spark's own round(…, 4).
    */
  def qEmbedNeardup(s: SparkSession, dir: String): DataFrame =
    embedNeardupPairs(s, dir, EmbedChunkSize)

  /** The chunk-replicated corpus: each vector appears once per chunk-pair
    * task it serves, keyed (label, c_lo, c_hi). Exposed so the spec can
    * assert the per-task input bound (max group size ≤ 2×chunkSize).
    */
  def chunkedCorpus(s: SparkSession, dir: String, chunkSize: Int): DataFrame = {
    val wRank = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    // chunk via row_number — its running frame SORTS the label partition
    // (Tungsten sort, spills gracefully) and streams, so a hot label
    // costs a disk sort, not a memory buffer. nchunks comes from a
    // map-side-combined per-label count broadcast back: the r2 first cut
    // used max(chunk) over an UNBOUNDED label window, which buffers the
    // hot label's full vector payload in one task's window array —
    // exactly the structure this operator exists to avoid.
    val counts = Tables.embeddings(s, dir).groupBy(col("label"))
      .agg(ceil(count(lit(1)) / lit(chunkSize)).cast("int").as("nchunks"))
    val chunked = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), VectorFns.asDouble(col("embedding")).as("v"))
      .withColumn("chunk",
        floor((row_number().over(wRank) - 1) / lit(chunkSize)).cast("int"))
      .join(broadcast(counts), Seq("label"))
    chunked
      .select(col("vec_id"), col("label"), col("v"), col("chunk"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("other"))
      .select(col("vec_id"), col("label"), col("v"), col("chunk"),
        least(col("chunk"), col("other")).as("c_lo"),
        greatest(col("chunk"), col("other")).as("c_hi"))
  }

  def embedNeardupPairs(s: SparkSession, dir: String, chunkSize: Int): DataFrame = {
    import s.implicits._
    val margin = NearDupThreshold - 0.0001
    val pairs = chunkedCorpus(s, dir, chunkSize).as[ChunkVec]
      .groupByKey(r => (r.label, r.c_lo, r.c_hi))
      .flatMapGroups { (key: (Int, Int, Int), it: Iterator[ChunkVec]) =>
        val (lbl, lo, hi) = key
        val vecs = it.toArray.sortBy(_.vec_id)
        val norms = vecs.map { x =>
          var acc = 0.0; var i = 0
          while (i < x.v.length) { acc += x.v(i) * x.v(i); i += 1 }
          math.sqrt(acc)
        }
        def score(i: Int, j: Int): Double = {
          val a = vecs(i).v; val b = vecs(j).v
          var acc = 0.0; var k = 0
          while (k < a.length) { acc += a(k) * b(k); k += 1 }
          acc / (norms(i) * norms(j))
        }
        if (lo == hi) {
          // one chunk against itself: triangle, ids already sorted
          for {
            i <- vecs.indices.iterator
            j <- (i + 1 until vecs.length).iterator
            sim = score(i, j)
            if sim >= margin
          } yield (vecs(i).vec_id, vecs(j).vec_id, lbl, sim)
        } else {
          // cross of two distinct chunks; ids sorted so a-index < b-index
          // within each side, and chunk(lo) ids interleave with chunk(hi)
          // ids arbitrarily — order the emitted pair by id.
          val as = vecs.indices.filter(i => vecs(i).chunk == lo)
          val bs = vecs.indices.filter(i => vecs(i).chunk == hi)
          for {
            i <- as.iterator
            j <- bs.iterator
            sim = score(i, j)
            if sim >= margin
          } yield {
            val (x, y) = (vecs(i).vec_id, vecs(j).vec_id)
            (math.min(x, y), math.max(x, y), lbl, sim)
          }
        }
      }
      .toDF("vec_id_a", "vec_id_b", "label", "sim_raw")
    pairs
      .select(col("vec_id_a"), col("vec_id_b"), col("label"),
        round(col("sim_raw"), 4).as("sim"))
      .filter(col("sim") >= NearDupThreshold)
      .orderBy(col("vec_id_a"), col("vec_id_b"))
  }

  val qEmbedNeardupOracle: String =
    s"""WITH $preparedSql
       |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label AS label,
       |  round(${dotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)), 4) AS sim
       |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(${dotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)), 4) >= $NearDupThreshold
       |ORDER BY vec_id_a, vec_id_b""".stripMargin

  /** Exact cosine top-`k` over a blocked candidate set — the one
    * operator behind [[qAnnTopk]], [[qAnnLsh]] and [[qAnnIvf]], which
    * differ only in the candidate blocker and `k`. The query set (the
    * first ten vectors) is tiny and broadcast; each query scores the
    * corpus rows that pass `block` (spelled over aliases `a`, the
    * query, and `b`, the candidate) other than itself, and keeps its
    * `k` best by (sim desc, neighbor_id): a tie at the cutoff keeps the
    * smaller neighbor id, and ranks run 1..k with no gap. `corpus`
    * carries vec_id, v and nsq.
    */
  def annTopk(corpus: DataFrame, block: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(corpus.filter(col("vec_id") < 10)).as("a").join(corpus.as("b"),
        block && col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        simCol.as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** SQL twin of [[annTopk]]: CTEs `q` and `p` over the CTE `corpus`,
    * then the ranked select; `block` is spelled over `q` and `b`.
    */
  private def annTopkSql(corpus: String, block: String, k: Int): String =
    s"""q AS (SELECT * FROM $corpus WHERE vec_id < 10),
       |p AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    round(${dotSql("q.v", "b.v")} / (sqrt(q.nsq) * sqrt(b.nsq)), 4) AS sim
       |  FROM q JOIN $corpus b ON $block AND b.vec_id != q.vec_id
       |)
       |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM p) t
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Brute-force cosine top-5: the exact baseline — [[annTopk]] with no
    * blocker. The corpus streams past the broadcast query set in one
    * scan — no shuffle of the corpus, only of the per-query candidate
    * heaps.
    */
  def qAnnTopk(s: SparkSession, dir: String): DataFrame =
    annTopk(prepared(s, dir), lit(true), 5)

  val qAnnTopkOracle: String =
    s"""WITH $preparedSql,
       |${annTopkSql("n", "true", 5)}""".stripMargin

  /** LSH-bucketed ANN: 8 deterministic integer hyperplanes → 256 buckets;
    * each query only scores its own bucket (~1/256 of the corpus), then
    * takes top-3. This is the plan shape that survives 100 TB: bucket
    * assignment is scan-side, the join is bucket-equality (shuffle on an
    * 8-bit key with AQE skew handling), and per-bucket brute force is
    * bounded: [[annTopk]] blocked on the bucket.
    */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    annTopk(prepared(s, dir)
        .withColumn("bucket", VectorFns.lshBucket(col("v"), Planes, Dims)),
      col("a.bucket") === col("b.bucket"), 3)

  /** IVF-style ANN: the corpus is partitioned into cells around seed
    * centroids (deterministically the first `NumCentroids` vectors);
    * each query probes only its own cell. Centroids broadcast (they are
    * tiny by construction), cell assignment is one scan + an 8-way
    * argmax, and the probe join shuffles on the cell id — at 100 TB this
    * is the inverted-file layout: cells are the partition key, and a
    * real deployment would k-means the seeds and probe nprobe>1 cells.
    */
  val NumCentroids = 8

  /** The seed centroids `(cent_id, cv, cnsq)`: the first `k` vectors. */
  private def seedCentroids(e: DataFrame, k: Int): DataFrame =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nsq").as("cnsq"))

  /** Every vector of `e` against every centroid of the broadcast `cents`
    * (`cv`, `cnsq`), its cosine `csim`, grouped by vector: an argmax or
    * a max over the group collapses the ×centroids expansion map-side in
    * the same task — a window would shuffle AND sort the expanded rows.
    */
  private def centroidSims(e: DataFrame, cents: DataFrame): RelationalGroupedDataset =
    e.crossJoin(broadcast(cents))
      .withColumn("csim", VectorFns.cosineWithNorms(
        VectorFns.dot(col("v"), col("cv")), col("nsq"), col("cnsq")))
      .groupBy(col("vec_id"))

  /** The nearest centroid of a [[centroidSims]] group, `cell`: ordering
    * matches the oracle's (csim DESC, cent_id ASC) via the (csim,
    * -cent_id) struct.
    */
  private def nearestCell: Column =
    max_by(col("cent_id"), struct(col("csim"), (-col("cent_id")).as("nc"))).as("cell")

  /** Each cell's mean vector, flat `(cell, pos, n_vecs, cx)`, over an
    * assigned frame `(cell, v)`: posexplode partial sums, so the shuffle
    * carries cells×dims aggregate cells, never vectors.
    */
  private def centroidMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("v")))
      .select(col("cell"), (col("pos") + 1).as("pos"), col("col").as("x"))
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), stableMean4(col("x"), count(lit(1))).as("cx"))

  /** IVF cell assignment shared by [[qAnnIvf]] and [[qSemdedup]]:
    * centroids are deterministically the first `NumCentroids` vectors,
    * broadcast; each vector joins its [[nearestCell]].
    */
  private def cellAssigned(s: SparkSession, dir: String): DataFrame = {
    val e = prepared(s, dir)
    centroidSims(e, seedCentroids(e, NumCentroids))
      .agg(
        first(col("label")).as("label"),
        first(col("v")).as("v"),
        first(col("nsq")).as("nsq"),
        nearestCell)
      .select(col("vec_id"), col("label"), col("v"), col("nsq"), col("cell"))
  }

  /** Pairs of distinct vectors in one IVF cell, `a` before `b` by
    * vec_id. shuffle_hash on the self-join: the cell frame is derived,
    * so a broadcast would build it on the driver (the r1 cliff).
    */
  private def cellPairs(s: SparkSession, dir: String): DataFrame = {
    val cells = cellAssigned(s, dir)
    cells.as("a")
      .join(cells.as("b").hint("shuffle_hash"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
  }

  /** The matching oracle CTE chain ending in `cells(vec_id, v, nsq, cell)`. */
  private val cellsSql =
    s"""c AS (SELECT vec_id AS cent_id, v AS cv, nsq AS cnsq FROM n WHERE vec_id < $NumCentroids),
       |a AS (
       |  SELECT n.vec_id, n.v, n.nsq, c.cent_id,
       |    row_number() OVER (
       |      PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv")} / (sqrt(n.nsq) * sqrt(c.cnsq)) DESC, c.cent_id
       |    ) AS rk
       |  FROM n CROSS JOIN c
       |),
       |cells AS (SELECT vec_id, v, nsq, cent_id AS cell FROM a WHERE rk = 1)""".stripMargin

  /** IVF probe: [[annTopk]] over the [[cellAssigned]] corpus, blocked on
    * the cell.
    */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame =
    annTopk(cellAssigned(s, dir), col("a.cell") === col("b.cell"), 3)

  val qAnnIvfOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |${annTopkSql("cells", "b.cell = q.cell", 3)}""".stripMargin

  private def lshBucketSql: String =
    (0 until Planes).map { j =>
      val proj =
        s"list_sum(list_transform(range(1, ${Dims + 1}), i -> v[i] * CAST((((i-1)*7 + ${j * 13}) % 11) - 5 AS DOUBLE)))"
      s"CASE WHEN $proj > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")

  val qAnnLshOracle: String =
    s"""WITH $preparedSql,
       |bk AS (SELECT vec_id, v, nsq, $lshBucketSql AS bucket FROM n),
       |${annTopkSql("bk", "b.bucket = q.bucket", 3)}""".stripMargin

  /** RRF smoothing constant — the standard k=60 from the original
    * reciprocal-rank-fusion formulation.
    */
  val RrfK = 60

  /** Reciprocal-rank fusion of two retrieval paths — the standard way a
    * search stack combines rankers with incomparable scores (here the
    * exact cosine top-5 and the IVF probe's top-3; in production, BM25 +
    * dense retrieval): RRF(c) = Σ_rankers 1/(k + rank_r(c)) over the
    * lists that contain the candidate, re-ranked. Rank arithmetic only —
    * each term is one exact IEEE division of integers, summed once, so
    * the fused ordering is deterministic cross-engine with neighbor_id
    * tiebreak. Shape: both input rankings are already per-query bounded
    * lists (≤5 and ≤3 rows per query), the fusion is one full-outer
    * equi-join on (query, candidate) plus a query-partitioned window
    * over ≤8 rows — the fusion layer adds NO corpus-scale work to
    * whatever the rankers cost.
    */
  def qRankFusion(s: SparkSession, dir: String): DataFrame = {
    val exact = qAnnTopk(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_exact"))
    val ivf = qAnnIvf(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_ivf"))
    val fused = exact.join(ivf, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("rank_exact")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("rank_ivf")), lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id"))
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("fused_rank"),
        round(col("rrf"), 6).as("rrf"),
        col("rank_exact").isNotNull.as("in_exact"),
        col("rank_ivf").isNotNull.as("in_ivf"))
      .orderBy(col("query_id"), col("fused_rank"))
  }

  val qRankFusionOracle: String =
    s"""WITH ex AS ($qAnnTopkOracle),
       |iv AS ($qAnnIvfOracle),
       |f AS (
       |  SELECT COALESCE(ex.query_id, iv.query_id) AS query_id,
       |    COALESCE(ex.neighbor_id, iv.neighbor_id) AS neighbor_id,
       |    COALESCE(1.0 / ($RrfK + ex.rank), 0.0)
       |      + COALESCE(1.0 / ($RrfK + iv.rank), 0.0) AS rrf,
       |    ex.rank IS NOT NULL AS in_exact,
       |    iv.rank IS NOT NULL AS in_ivf
       |  FROM ex FULL OUTER JOIN iv
       |    ON ex.query_id = iv.query_id AND ex.neighbor_id = iv.neighbor_id
       |)
       |SELECT query_id, neighbor_id, CAST(fused_rank AS INTEGER) AS fused_rank, round(rrf, 6) AS rrf,
       |  in_exact, in_ivf
       |FROM (
       |  SELECT query_id, neighbor_id, rrf, in_exact, in_ivf,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, neighbor_id) AS fused_rank
       |  FROM f) t
       |WHERE fused_rank <= 5
       |ORDER BY query_id, fused_rank""".stripMargin

  /** ANN quality self-certification: recall@3 of the LSH path against
    * the brute-force ground truth, per query. The pattern that makes an
    * approximate index trustworthy in production — the exact baseline
    * runs on a sampled query set (tiny, broadcast) while the approximate
    * path serves the corpus, and the measured recall is a first-class,
    * oracle-checked result rather than a claim.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    recall(qAnnTopk(s, dir).filter(col("rank") <= 3), qAnnLsh(s, dir))

  val qAnnRecallOracle: String =
    s"""WITH bt AS (
       |  SELECT query_id, neighbor_id FROM ($qAnnTopkOracle) WHERE rank <= 3
       |),
       |lt AS (SELECT query_id, neighbor_id FROM ($qAnnLshOracle))
       |${recallSql("bt", "lt")}""".stripMargin

  /** Per-query recall of the `found` neighbours against the `truth`
    * ones, both keyed by (query_id, neighbor_id): `n_true`, `n_hit` and
    * their ratio, one row per truth query. Oracle twin: [[recallSql]].
    */
  private def recall(truth: DataFrame, found: DataFrame): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      .join(found.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_true"), col("n_hit"),
        round(col("n_hit") / col("n_true"), 4).as("recall"))
      .orderBy(col("query_id"))

  /** [[recall]] over the CTEs named `truth` and `found`. */
  private def recallSql(truth: String, found: String): String =
    s"""SELECT $truth.query_id, count(*) AS n_true,
       |  CAST(sum(CASE WHEN $found.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  round(CAST(sum(CASE WHEN $found.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    / CAST(count(*) AS DOUBLE), 4) AS recall
       |FROM $truth
       |LEFT JOIN $found ON $found.query_id = $truth.query_id AND $found.neighbor_id = $truth.neighbor_id
       |GROUP BY $truth.query_id
       |ORDER BY $truth.query_id""".stripMargin

  /** Per-label centroid, emitted FLAT as (label, pos, n_vecs, cx) rows —
    * 1-based dimension index. The scalable shape for averaging vectors:
    * posexplode → map-side-combined (label, pos) partial sums, so the
    * shuffle carries labels×dims aggregate cells, never vectors, and no
    * task materializes a label's vector set (contrast with collecting
    * arrays to the driver or a collect_list agg). Centroids feed the IVF
    * index build and drift monitoring.
    */
  def qEmbedCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(VectorFns.asDouble(col("embedding"))))
      .select(col("label"), (col("pos") + 1).as("pos"), col("col").as("x"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), stableMean4(col("x"), count(lit(1))).as("cx"))
      .orderBy(col("label"), col("pos"))

  val qEmbedCentroidsOracle: String =
    s"""WITH e AS (SELECT label, $vSql AS v FROM embeddings),
       |x AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM e)
       |SELECT label, CAST(pos AS INTEGER) AS pos, count(*) AS n_vecs, ${stableMean4Sql("x", "count(*)")} AS cx
       |FROM x
       |GROUP BY label, pos
       |ORDER BY label, pos""".stripMargin

  /** Semantic dedup (SemDeDup shape): drop every vector that has an
    * EARLIER (smaller vec_id) neighbor above the cosine threshold within
    * its IVF cell; report each dropped vector with its keeper (the
    * smallest such neighbor). The index bounds the candidate set: pairs
    * are generated per cell, never across the corpus, and in production
    * the centroid count k is sized so cells stay ~constant (k ∝ n /
    * target_cell_size) — within-cell pairing cost is cells × bound², the
    * same bounded-block argument as the LSH/chunked paths (a hot cell
    * routes through the q_embed_neardup chunk×chunk sub-blocking).
    */
  def qSemdedup(s: SparkSession, dir: String): DataFrame = {
    val pairs = cellPairs(s, dir)
      .select(col("b.vec_id").as("vec_id"), col("b.cell").as("cell"),
        col("a.vec_id").as("keeper"), simCol.as("sim"))
    graft.plans.Fence.filterNoPushdown(pairs, col("sim") >= NearDupThreshold)
      .groupBy(col("vec_id"))
      .agg(min(col("cell")).as("cell"),
        min(col("keeper")).as("kept_by"),
        min_by(col("sim"), col("keeper")).as("sim_kept"))
      .select(col("vec_id"), col("cell"), col("kept_by"), col("sim_kept"))
      .orderBy(col("vec_id"))
  }

  val qSemdedupOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |p AS (
       |  SELECT y.vec_id AS vec_id, y.cell AS cell, x.vec_id AS keeper,
       |    round(${dotSql("x.v", "y.v")} / (sqrt(x.nsq) * sqrt(y.nsq)), 4) AS sim
       |  FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |)
       |SELECT vec_id, min(cell) AS cell, min(keeper) AS kept_by,
       |  min_by(sim, keeper) AS sim_kept
       |FROM p WHERE sim >= $NearDupThreshold
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  /** One Lloyd (k-means) refinement step: re-average each IVF cell into
    * its updated centroid, emitted flat as (cell, pos, n_vecs, cx) rows.
    * Composition of the two scalable primitives: cell assignment
    * (broadcast centroids + map-side argmax) and vector averaging
    * (posexplode → (cell, pos) partial sums — the shuffle carries
    * cells×dims aggregate cells, never vectors). Iterating this step to
    * convergence is exactly distributed k-means, each round one scan +
    * one dimension-sized shuffle; the flat output is itself the next
    * round's broadcast centroid table.
    */
  def qKmeansStep(s: SparkSession, dir: String): DataFrame =
    centroidMeans(cellAssigned(s, dir))
      .orderBy(col("cell"), col("pos"))

  /** Full distributed k-means: `iters` Lloyd rounds seeded exactly like
    * [[qKmeansStep]] (the first k vectors), returning the final flat
    * (cell, pos, n_vecs, cx) centroid table. Each round composes the two
    * audited primitives — broadcast-centroid argmax assignment and
    * posexplode partial-sum averaging — so per round the corpus is
    * scanned once and the only shuffle carries cells×dims aggregate
    * cells, never vectors. Loop discipline (same as
    * [[Dedup.connectedComponents]] / [[Graph.pagerank]]): the prepared
    * corpus is materialized once; each round's flat centroid frame is
    * `localCheckpoint`ed (it is dimension-sized — k×dims rows) and
    * reassembled into the next round's broadcast centroid vectors with a
    * dimension-sized collect_list, so plan size is constant in `iters`.
    * A cell that loses all members simply drops out (standard Lloyd);
    * means use the same hash-stable DECIMAL sum ÷ count as the oracle-
    * gated step.
    */
  def kmeans(s: SparkSession, dir: String, k: Int = NumCentroids, iters: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1 && iters <= 1000, s"iters must be in [1, 1000], got $iters")
    val e = prepared(s, dir)
      .select(col("vec_id"), col("v"), col("nsq"))
      .localCheckpoint()
    var cents = seedCentroids(e, k)
    var flat: DataFrame = null
    var i = 0
    while (i < iters) {
      val assigned = centroidSims(e, cents).agg(first(col("v")).as("v"), nearestCell)
      flat = centroidMeans(assigned).localCheckpoint()
      cents = flat.groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
        .select(col("cell").as("cent_id"), expr("transform(pc, t -> t.cx)").as("cv"))
        .withColumn("cnsq", VectorFns.normSq(col("cv")))
      i += 1
    }
    flat.orderBy(col("cell"), col("pos"))
  }

  val qKmeansStepOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |x AS (SELECT cell, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM cells)
       |SELECT cell, CAST(pos AS INTEGER) AS pos, count(*) AS n_vecs, ${stableMean4Sql("x", "count(*)")} AS cx
       |FROM x
       |GROUP BY cell, pos
       |ORDER BY cell, pos""".stripMargin

  /** Class-balanced re-weighting (the effective-number-of-samples form,
    * Cui et al. 2019, β = 1/2): per label, effective n = (1−βⁿ)/(1−β)
    * and the training weight ∝ 1/effective-n, renormalized to sum to the
    * class count. β = 1/2 is chosen deliberately: 2⁻ⁿ is a power of two,
    * so every effective-n is a dyadic rational computed EXACTLY in
    * binary floating point via integer bit-shift (no `pow`, whose last-
    * ulp behavior differs across libm implementations); n ≥ 63 saturates
    * to exactly 2 on both engines. The renormalization denominator is an
    * integer sum of nano-unit quantized weights (same discipline as the
    * temperature mix). One grouped count + one dimension-sized frame:
    * the corpus is scanned once, never shuffled.
    */
  def qClassBalance(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.embeddings(s, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val eff = counts.withColumn("eff_n",
      when(col("n_vecs") >= 63, lit(2.0))
        .otherwise(lit(2.0) * (lit(1.0) - lit(1.0) /
          expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(n_vecs AS INT)) AS DOUBLE)"))))
      .withColumn("wq", round(lit(1e9) / col("eff_n"), 0).cast("long"))
    val wtot = eff.agg(sum(col("wq")).as("wtot"), sum(col("n_vecs")).as("n_total"))
    eff.crossJoin(broadcast(wtot))
      .select(col("label"), col("n_vecs"), round(col("eff_n"), 6).as("eff_n"),
        round(col("wq") * col("n_total") / col("wtot").cast("double"), 6).as("weight"))
      .orderBy(col("label"))
  }

  val qClassBalanceOracle: String =
    """WITH c AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label),
      |e AS (
      |  SELECT label, n_vecs,
      |    CASE WHEN n_vecs >= 63 THEN 2.0
      |         ELSE 2.0 * (1.0 - 1.0 / CAST(1::BIGINT << CAST(n_vecs AS INT) AS DOUBLE))
      |    END AS eff_n
      |  FROM c
      |),
      |q AS (SELECT label, n_vecs, eff_n,
      |        CAST(round(1e9 / eff_n) AS BIGINT) AS wq FROM e),
      |w AS (SELECT CAST(sum(wq) AS BIGINT) AS wtot,
      |        CAST(sum(n_vecs) AS BIGINT) AS n_total FROM q)
      |SELECT label, n_vecs, round(eff_n, 6) AS eff_n,
      |  round(wq * n_total / CAST(wtot AS DOUBLE), 6) AS weight
      |FROM q CROSS JOIN w
      |ORDER BY label""".stripMargin

  /** int8 scalar quantization of the embedding column — the memory move
    * that makes a 100 TB ANN index fit (4 bytes → 1 byte per dim,
    * dequantize on probe). Per-dimension affine codes: step =
    * (max−min)/255, code = round((x−min)/step) ∈ [0,255]. The per-dim
    * (min, max) frame is DIMS rows — an aggregate over posexploded
    * elements, map-side combined, broadcast back onto the scan — so the
    * corpus shuffles nothing. Certification is two-sided and exact:
    * `codes_sum` (an integer, order-independent) pins the exact code
    * values cross-engine, and `within_bound` asserts every element's
    * reconstruction error ≤ step/2 — the round-to-nearest guarantee,
    * which both engines must reproduce bit-identically since every op in
    * the chain is deterministic IEEE arithmetic on identical inputs.
    * A constant dimension (step = 0) would code to 0 with zero error on
    * both engines by the same guard.
    */
  def qEmbedQuantize(s: SparkSession, dir: String): DataFrame = {
    val el = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(VectorFns.asDouble(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").as("x"))
    val stats = el.groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .withColumn("step", (col("hi") - col("lo")) / lit(255.0))
    el.join(broadcast(stats), "pos")
      .withColumn("code",
        when(col("step") > 0,
          round((col("x") - col("lo")) / col("step"), 0).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("err",
        when(col("step") > 0,
          abs(col("x") - (col("lo") + col("code") * col("step"))))
          .otherwise(lit(0.0)))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("code")).as("codes_sum"),
        (max(col("err") - col("step") / 2) <= lit(0.0)).as("within_bound"))
      .orderBy(col("vec_id"))
  }

  val qEmbedQuantizeOracle: String =
    s"""WITH el AS (
       |  SELECT vec_id, i AS pos, v[i] AS x
       |  FROM (SELECT vec_id, $vSql AS v FROM embeddings),
       |    unnest(range(1, $Dims + 1)) AS a(i)
       |),
       |st AS (
       |  SELECT pos, min(x) AS lo, max(x) AS hi,
       |    (max(x) - min(x)) / 255.0 AS step
       |  FROM el GROUP BY pos
       |),
       |q AS (
       |  SELECT vec_id,
       |    CASE WHEN step > 0 THEN CAST(round((x - lo) / step) AS BIGINT)
       |         ELSE 0 END AS code,
       |    CASE WHEN step > 0
       |         THEN abs(x - (lo + CAST(round((x - lo) / step) AS BIGINT) * step))
       |         ELSE 0.0 END AS err,
       |    step
       |  FROM el JOIN st USING (pos)
       |)
       |SELECT vec_id, count(*) AS n_dims,
       |  CAST(sum(code) AS BIGINT) AS codes_sum,
       |  max(err - step / 2) <= 0.0 AS within_bound
       |FROM q GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  /** Salt buckets for the PCA moment sums' first (long) stage: with
    * per-element quanta |q| ≤ 1e12, each (cell, salt) partial stays
    * inside int64 up to n/salts ≈ 8M elements per bucket — 64 covers
    * half a billion vectors; scale salts with n beyond that (the cell
    * frame stays dims²·salts, dimension-sized either way).
    */
  val PcaSalts = 64

  /** One PCA power-iteration step: v₁ ∝ C·v₀ over the exact covariance
    * C = S/n − μμᵀ, with the flat uniform seed v₀ = 1/√dims — the
    * dimensionality-reduction primitive (top principal component,
    * whitening, drift detection between corpus snapshots). The 100 TB
    * shape is the whole point: the corpus contributes ONLY through the
    * moment sums Σxᵢ (dims cells) and Σxᵢxⱼ (dims² cells) — one scan,
    * one dims²-bounded shuffle, never a vector through the exchange.
    * The hot n·dims² cell stream sums as QUANTIZED int64 (see the
    * in-body comment: round(x·1e12) per element, salted two-stage
    * accumulation) — exact integer arithmetic that stays inside
    * whole-stage codegen, where a DECIMAL(38,12) cast per cell was
    * BigDecimal-backed and 6× slower. Everything after (covariance
    * assembly, the matrix-vector product, Rayleigh quotient
    * λ = v₀ᵀCv₀-scaled, normalization) runs on dimension-sized frames.
    * Iterating multiplies plan size, not data cost: each further step
    * is another dims² broadcast join, corpus untouched. Cross-cell
    * sums are integer/decimal-exact; per-cell doubles are identical
    * IEEE expressions on both engines.
    */
  def qPcaPowerIter(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorFns.asDouble(col("embedding")).as("v"))
    val ei = e.select(col("vec_id"), col("v"), posexplode(col("v")))
      .select(col("vec_id"), col("v"), col("pos").as("i"), col("col").as("xi"))
    // The dims² moment cells are the hot path (n·dims² rows). A
    // DECIMAL(38,12) sum here is BigDecimal-backed per row — measured
    // ~9 s at sf0.1 — so the exactness discipline moves to int64:
    // each product quantizes to a long at 1e12 (q = round(x·1e12), an
    // identical deterministic value on both engines since the inputs
    // are identical doubles), and longs sum in two salted stages so no
    // partial can overflow: stage 1 sums ≤ n/salts elements of |q| ≤
    // 1e12 per (i,j,salt) — picking salts ≥ n·1e12/8e18 keeps that
    // under int64 range (64 covers n up to 512M vectors; the cell
    // frame stays dims²·salts, dimension-sized) — and stage 2 folds
    // the salted partials as DECIMAL(38,0), exact by construction.
    // Quantization shifts each mean by ≤ 0.5e-12, invisible at the
    // round-at-6 gate.
    val pairs = ei.select(col("vec_id"), col("i"), col("xi"), posexplode(col("v")))
      .select(col("i"), col("pos").as("j"),
        graft.functions.NumFns.roundAwayLong(
          col("xi") * col("col") * lit(1e12)).as("q"),
        (col("vec_id") % PcaSalts).as("salt"))
    // materialized once: su feeds the covariance from BOTH index sides
    // and v1 is read twice downstream — without these checkpoints the
    // n·dims² moment pass executes twice and the Σxᵢ pass four times
    // (measured 2.4 s vs 0.7 s at sf0.1). The frames are dimension-
    // sized (dims², dims, 1 rows), so the checkpoint itself is free.
    val sij = pairs.groupBy(col("i"), col("j"), col("salt"))
      .agg(sum(col("q")).as("pq"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("pq").cast(Dec0)).as("sij"))
      .localCheckpoint()
    val su = ei.select(col("i"),
        graft.functions.NumFns.roundAwayLong(col("xi") * lit(1e12)).as("q"),
        (col("vec_id") % PcaSalts).as("salt"))
      .groupBy(col("i"), col("salt")).agg(sum(col("q")).as("pq"))
      .groupBy(col("i")).agg(sum(col("pq").cast(Dec0)).as("su"))
      .localCheckpoint()
    val cnt = e.agg(count(lit(1)).as("n")).localCheckpoint()
    val cov = sij
      .join(broadcast(su.select(col("i").as("ri"), col("su").as("su_i"))),
        col("i") === col("ri"))
      .join(broadcast(su.select(col("i").as("rj"), col("su").as("su_j"))),
        col("j") === col("rj"))
      .crossJoin(broadcast(cnt))
      .select(col("i"), col("j"),
        (col("sij").cast("double") / col("n") / lit(1e12)
          - (col("su_i").cast("double") / col("n") / lit(1e12))
            * (col("su_j").cast("double") / col("n") / lit(1e12))).as("cij"))
    val seed = 1.0 / math.sqrt(Dims.toDouble)
    val v1 = cov.groupBy(col("i"))
      .agg(sum((col("cij") * lit(seed)).cast(Dec12)).cast("double").as("v1raw"))
      .localCheckpoint() // read by sc AND the final projection
    val sc = v1.agg(
      sum((col("v1raw") * col("v1raw")).cast(Dec12)).cast("double").as("nsq"),
      sum((col("v1raw") * lit(seed)).cast(Dec12)).cast("double").as("lambda"))
    v1.crossJoin(broadcast(sc))
      .select((col("i") + 1).as("pos"),
        round(col("v1raw") / sqrt(col("nsq")), 6).as("comp"),
        round(col("lambda"), 6).as("lambda"))
      .orderBy(col("pos"))
  }

  val qPcaPowerIterOracle: String = {
    val seedSql = s"(1.0 / sqrt(CAST($Dims AS DOUBLE)))"
    s"""WITH e AS (SELECT $vSql AS v FROM embeddings),
       |idx AS (SELECT unnest(range(1, $Dims + 1)) AS i),
       |p AS (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST(round(v[a.i] * v[b.i] * 1e12) AS BIGINT) AS q
       |  FROM e, idx a, idx b
       |),
       |sij AS (SELECT i, j, sum(q) AS sij FROM p GROUP BY i, j),
       |su AS (
       |  SELECT a.i AS i,
       |    sum(CAST(round(v[a.i] * 1e12) AS BIGINT)) AS su
       |  FROM e, idx a GROUP BY a.i
       |),
       |n AS (SELECT count(*) AS n FROM e),
       |c AS (
       |  SELECT s.i, s.j,
       |    CAST(s.sij AS DOUBLE) / n.n / 1e12
       |      - (CAST(a.su AS DOUBLE) / n.n / 1e12)
       |        * (CAST(b.su AS DOUBLE) / n.n / 1e12) AS cij
       |  FROM sij s JOIN su a ON s.i = a.i JOIN su b ON s.j = b.i CROSS JOIN n
       |),
       |v1 AS (
       |  SELECT i, CAST(sum(CAST(cij * $seedSql AS DECIMAL(38,12))) AS DOUBLE) AS v1raw
       |  FROM c GROUP BY i
       |),
       |sc AS (
       |  SELECT CAST(sum(CAST(v1raw * v1raw AS DECIMAL(38,12))) AS DOUBLE) AS nsq,
       |    CAST(sum(CAST(v1raw * $seedSql AS DECIMAL(38,12))) AS DOUBLE) AS lambda
       |  FROM v1
       |)
       |SELECT CAST(i AS INTEGER) AS pos, round(v1raw / sqrt(nsq), 6) AS comp,
       |  round(lambda, 6) AS lambda
       |FROM v1 CROSS JOIN sc
       |ORDER BY pos""".stripMargin
  }

  /** Minimum within-threshold neighbors for a vector to count as a
    * DBSCAN core point (the vector itself is not counted).
    */
  val DensityMinPts = 3L

  /** DBSCAN-style density classification over the embedding corpus:
    * every vector becomes `core` (≥ [[DensityMinPts]] neighbors at
    * cosine ≥ [[NearDupThreshold]] within its label block), `border`
    * (fewer, but adjacent to a core), or `noise` — the standard density
    * triage for pruning sparse junk and keeping cluster interiors when
    * curating an embedding space.
    *
    * Scale shape: the ENTIRE pair computation is
    * [[embedNeardupPairs]] — the chunk×chunk bounded-task exact
    * generator (per-task memory capped at 2×[[EmbedChunkSize]] vectors
    * regardless of label skew) — so this query adds only
    * dimension-per-vector degree aggregates on bare (id, id) longs: a
    * symmetric union, one map-side-combined degree count, one
    * core-neighbor semi-join of the pair list against the core set, and
    * a left join back to the corpus for degree-0 noise rows. Nothing
    * after the generator ever touches a vector payload.
    *
    * Exactness: neighbor = the SAME rounded-sim ≥ threshold predicate as
    * `q_embed_neardup` (identical fold order both engines), so degrees
    * are exact integers and the class is a pure integer decision —
    * nothing here can flake.
    */
  def qEmbedDensity(s: SparkSession, dir: String): DataFrame = {
    val pairs = embedNeardupPairs(s, dir, EmbedChunkSize)
      .select(col("vec_id_a"), col("vec_id_b"))
      .localCheckpoint() // feeds degrees AND the border semi-join
    val sym = pairs
      .union(pairs.select(col("vec_id_b").as("vec_id_a"), col("vec_id_a").as("vec_id_b")))
    val deg = sym.groupBy(col("vec_id_a").as("vec_id"))
      .agg(count(lit(1)).as("degree"))
    val core = deg.filter(col("degree") >= DensityMinPts)
      .select(col("vec_id").as("core_id"))
    // border = sub-core vector with ≥1 core neighbor: semi-join of the
    // symmetric edge list against the core set, on bare longs
    val hasCoreNbr = sym
      .join(core.hint("shuffle_hash"), col("vec_id_b") === col("core_id"), "left_semi")
      .select(col("vec_id_a").as("vec_id")).distinct()
      .withColumn("near_core", lit(true))
    Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      .join(deg.hint("shuffle_hash"), Seq("vec_id"), "left")
      .join(hasCoreNbr.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        when(coalesce(col("degree"), lit(0L)) >= DensityMinPts, "core")
          .when(coalesce(col("near_core"), lit(false)), "border")
          .otherwise("noise").as("density_class"))
      .orderBy(col("vec_id"))
  }

  val qEmbedDensityOracle: String =
    s"""WITH $preparedSql,
       |pr AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE round(${dotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)), 4)
       |    >= $NearDupThreshold
       |),
       |sym AS (SELECT va, vb FROM pr UNION ALL SELECT vb AS va, va AS vb FROM pr),
       |deg AS (SELECT va AS vec_id, count(*) AS degree FROM sym GROUP BY va),
       |core AS (SELECT vec_id FROM deg WHERE degree >= $DensityMinPts),
       |nearc AS (
       |  SELECT DISTINCT sym.va AS vec_id FROM sym
       |  WHERE sym.vb IN (SELECT vec_id FROM core)
       |)
       |SELECT e.vec_id, e.label,
       |  coalesce(deg.degree, 0) AS degree,
       |  CASE WHEN coalesce(deg.degree, 0) >= $DensityMinPts THEN 'core'
       |       WHEN nearc.vec_id IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS density_class
       |FROM e
       |LEFT JOIN deg ON e.vec_id = deg.vec_id
       |LEFT JOIN nearc ON e.vec_id = nearc.vec_id
       |ORDER BY e.vec_id""".stripMargin

  /** Embedding-space drift between corpus snapshots (vec_id parity =
    * reference vs current) as the linear-kernel MMD: the squared L2
    * distance between per-snapshot mean embeddings, plus their cosine —
    * the embedding companion to the text-side drift gates (`q_psi_drift`
    * length, `q_jsd_drift` vocabulary, `q_ks_drift` shape). Deliberately
    * linear (no RBF/transcendental features): cos/exp differ by ulps
    * across engines' libm, and the mean-embedding distance is already
    * the detector a corpus monitor wants. Shape: one scan-side
    * posexplode to (dim, snapshot) CELLS with DECIMAL partial sums (128
    * cells — dimension-sized, map-side combined); all the distance math
    * runs on the 64-row per-dim frame. The corpus contributes one pass,
    * nothing row-scale shuffles.
    */
  def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.embeddings(s, dir)
      .select((col("vec_id") % 2 === 0).as("is_ref"),
        posexplode(VectorFns.asDouble(col("embedding"))))
      .select(col("is_ref"), col("pos").as("i"), col("col").as("x"))
      .groupBy(col("i"))
      .agg(
        sum(when(col("is_ref"), col("x")).otherwise(lit(0.0)).cast(Dec12)).as("sr"),
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
        sum(when(col("is_ref"), lit(0.0)).otherwise(col("x")).cast(Dec12)).as("sc"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("nc"))
    val dims = cells
      .select(col("nr"), col("nc"),
        (col("sr").cast("double") / col("nr")).as("mr"),
        (col("sc").cast("double") / col("nc")).as("mc"))
      .select(col("nr"), col("nc"),
        ((col("mr") - col("mc")) * (col("mr") - col("mc"))).cast(Dec12).as("d2"),
        (col("mr") * col("mc")).cast(Dec12).as("rc"),
        (col("mr") * col("mr")).cast(Dec12).as("rr"),
        (col("mc") * col("mc")).cast(Dec12).as("cc"))
    dims.groupBy(col("nr"), col("nc"))
      .agg(sum(col("d2")).as("mmd"), sum(col("rc")).as("src"),
        sum(col("rr")).as("srr"), sum(col("cc")).as("scc"))
      .select(col("nr").as("n_ref"), col("nc").as("n_cur"),
        NumFns.roundPortable(col("mmd").cast("double"), 6).as("mmd_linear"),
        NumFns.roundPortable(
          col("src").cast("double")
            / (sqrt(col("srr").cast("double")) * sqrt(col("scc").cast("double"))), 6)
          .as("mean_cosine"))
  }

  val qEmbedDriftOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id % 2 = 0 AS is_ref, $vSql AS v FROM embeddings
       |),
       |el AS (
       |  SELECT is_ref, i, v[i] AS x
       |  FROM e, unnest(range(1, $Dims + 1)) AS a(i)
       |),
       |cells AS (
       |  SELECT i,
       |    sum(CAST(CASE WHEN is_ref THEN x ELSE 0.0 END AS DECIMAL(38,12))) AS sr,
       |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr,
       |    sum(CAST(CASE WHEN is_ref THEN 0.0 ELSE x END AS DECIMAL(38,12))) AS sc,
       |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nc
       |  FROM el GROUP BY i
       |),
       |m AS (
       |  SELECT nr, nc,
       |    CAST(sr AS DOUBLE) / nr AS mr, CAST(sc AS DOUBLE) / nc AS mc
       |  FROM cells
       |),
       |d AS (
       |  SELECT nr, nc,
       |    CAST((mr - mc) * (mr - mc) AS DECIMAL(38,12)) AS d2,
       |    CAST(mr * mc AS DECIMAL(38,12)) AS rc,
       |    CAST(mr * mr AS DECIMAL(38,12)) AS rr,
       |    CAST(mc * mc AS DECIMAL(38,12)) AS cc
       |  FROM m
       |)
       |SELECT CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
       |  ${NumFns.roundPortableSql("CAST(sum(d2) AS DOUBLE)", 6)} AS mmd_linear,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(rc) AS DOUBLE) / (sqrt(CAST(sum(rr) AS DOUBLE)) * sqrt(CAST(sum(cc) AS DOUBLE)))", 6)}
       |    AS mean_cosine
       |FROM d GROUP BY nr, nc""".stripMargin

  /** Contrastive-pair mining for embedding-model training: within each
    * IVF cell, high-similarity pairs become (anchor, positive) examples
    * when the labels agree and HARD NEGATIVES when they don't — the
    * hard-negative set is precisely what makes a contrastive batch
    * informative (random negatives are trivially separable). The index
    * bounds candidate generation exactly as in [[qSemdedup]]: pairs are
    * generated per cell (shuffle_hash self-join, never broadcast — the
    * cell frame is fact-derived), so the corpus is never all-paired.
    * Output is the per-anchor-label mining report: pair counts and
    * hash-stable mean similarities for both classes.
    */
  def qContrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val pairs = cellPairs(s, dir)
      .select(col("a.label").as("label"), col("b.label").as("lb"), simCol.as("sim"))
    val fenced = graft.plans.Fence.filterNoPushdown(pairs, col("sim") >= NearDupThreshold)
    // sims carry 4 decimals, so a decimal-sum ÷ n CAN land exactly on a
    // rounding boundary — quantize to exact int64 ten-thousandths and
    // divide/round portably instead (same discipline as the temperature
    // mix / Q9 profit sums)
    val simQ = NumFns.roundAwayLong(col("sim") * lit(1e4))
    fenced
      .groupBy(col("label"))
      .agg(
        sum(when(col("label") === col("lb"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("label") =!= col("lb"), 1L).otherwise(0L)).as("n_hard_neg"),
        sum(when(col("label") === col("lb"), simQ).otherwise(0L)).as("sp"),
        sum(when(col("label") =!= col("lb"), simQ).otherwise(0L)).as("sn"))
      .select(col("label"), col("n_pos"), col("n_hard_neg"),
        when(col("n_pos") > 0, NumFns.roundPortable(
          col("sp").cast("double") / (lit(1e4) * col("n_pos")), 4)).as("mean_pos_sim"),
        when(col("n_hard_neg") > 0, NumFns.roundPortable(
          col("sn").cast("double") / (lit(1e4) * col("n_hard_neg")), 4)).as("mean_neg_sim"))
      .orderBy(col("label"))
  }

  val qContrastivePairsOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |cl AS (SELECT c1.vec_id, c1.v, c1.nsq, c1.cell, n.label
       |       FROM cells c1 JOIN n ON c1.vec_id = n.vec_id),
       |p AS (
       |  SELECT x.label AS label, y.label AS lb,
       |    round(${dotSql("x.v", "y.v")} / (sqrt(x.nsq) * sqrt(y.nsq)), 4) AS sim
       |  FROM cl x JOIN cl y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |),
       |g AS (
       |  SELECT label,
       |    sum(CASE WHEN label = lb THEN 1 ELSE 0 END) AS n_pos,
       |    sum(CASE WHEN label <> lb THEN 1 ELSE 0 END) AS n_hard_neg,
       |    sum(CASE WHEN label = lb THEN CAST(round(sim * 1e4) AS BIGINT) ELSE 0 END) AS sp,
       |    sum(CASE WHEN label <> lb THEN CAST(round(sim * 1e4) AS BIGINT) ELSE 0 END) AS sn
       |  FROM p WHERE sim >= $NearDupThreshold
       |  GROUP BY label
       |)
       |SELECT label, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_hard_neg AS BIGINT) AS n_hard_neg,
       |  CASE WHEN n_pos > 0
       |    THEN ${NumFns.roundPortableSql("CAST(sp AS DOUBLE) / (1e4 * n_pos)", 4)} END AS mean_pos_sim,
       |  CASE WHEN n_hard_neg > 0
       |    THEN ${NumFns.roundPortableSql("CAST(sn AS DOUBLE) / (1e4 * n_hard_neg)", 4)} END AS mean_neg_sim
       |FROM g
       |ORDER BY label""".stripMargin

  /** Cluster-quality report for the IVF cells against the ground-truth
    * labels — the "are my clusters about anything" check run after every
    * clustering/index build: per cell, its size, majority label (count
    * tiebreak to the smallest label — total order, engine-independent),
    * purity, and Gini impurity. Purity and Gini are pure integer-ratio
    * arithmetic over the (cell, label) count frame — cells × labels
    * rows, dimension-sized by construction — so the only row-scale work
    * is the count aggregation itself (one map-side-combined pass over
    * the assigned corpus). Σcnt² stays in int64: a per-(cell,label)
    * count would need to exceed 3·10⁹ rows before cnt² nears the
    * boundary, and at that scale the count frame itself is what you
    * shard.
    */
  def qClusterPurity(s: SparkSession, dir: String): DataFrame = {
    val counts = cellAssigned(s, dir)
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy(col("cell"))
      .agg(
        sum(col("cnt")).as("n_vecs"),
        max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"),
        sum(col("cnt") * col("cnt")).as("ssq"))
      .select(col("cell"), col("n_vecs"),
        (-col("m.nl")).as("top_label"),
        col("m.cnt").as("n_top"),
        NumFns.roundPortable(col("m.cnt") / col("n_vecs").cast("double"), 6).as("purity"),
        NumFns.roundPortable(
          lit(1.0) - col("ssq") / (col("n_vecs") * col("n_vecs")).cast("double"), 6)
          .as("gini_impurity"))
      .orderBy(col("cell"))
  }

  val qClusterPurityOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |cl AS (SELECT c1.cell, n.label FROM cells c1 JOIN n ON c1.vec_id = n.vec_id),
       |cc AS (SELECT cell, label, count(*) AS cnt FROM cl GROUP BY cell, label),
       |g AS (
       |  SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_vecs,
       |    max([cnt, -CAST(label AS BIGINT)]) AS m,
       |    CAST(sum(cnt * cnt) AS BIGINT) AS ssq
       |  FROM cc GROUP BY cell
       |)
       |SELECT cell, n_vecs,
       |  CAST(-m[2] AS INTEGER) AS top_label,
       |  m[1] AS n_top,
       |  ${NumFns.roundPortableSql("m[1] / CAST(n_vecs AS DOUBLE)", 6)} AS purity,
       |  ${NumFns.roundPortableSql("1.0 - ssq / CAST(n_vecs * n_vecs AS DOUBLE)", 6)}
       |    AS gini_impurity
       |FROM g
       |ORDER BY cell""".stripMargin

  /** Vectors per multi-vector document for [[qMaxsimRerank]]. */
  val MvTokens = 4

  /** ColBERT-style late-interaction (MaxSim) reranking: documents are
    * MULTI-vector (here: [[MvTokens]] consecutive embedding rows per
    * doc_id = vec_id / 4), and the score against the query's token
    * vectors is Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ — max over doc tokens per query token,
    * summed over query tokens. This is the retrieval scorer single-vector
    * cosine (q_ann_topk) can't express: a doc matching each query term
    * with a DIFFERENT passage wins late interaction but averages away in
    * one pooled vector. Exactness: each ⟨qᵢ,dⱼ⟩ is one fixed-order fold,
    * quantized to int64 (×10⁶) BEFORE max/sum, so the per-doc score is
    * exact integer arithmetic in any execution order. Shape: the 4-row
    * query is broadcast; per-pair work collapses immediately to
    * (doc, qtok) maxima then (doc) sums — map-side combined; top-10 over
    * the doc-sized score frame. At 100 TB the candidate set would come
    * from q_ann_ivf's cells first; the MaxSim pass itself stays
    * scan-shaped and never materializes the pairwise matrix.
    */
  def qMaxsimRerank(s: SparkSession, dir: String): DataFrame = {
    val toks = prepared(s, dir)
      .select(expr(s"vec_id div $MvTokens").as("doc"),
        (col("vec_id") % MvTokens).as("tok"), col("v"))
    val query = toks.filter(col("doc") === 0)
      .select(col("tok").as("qtok"), col("v").as("qv"))
    val qdot = NumFns.roundAwayLong(
      VectorFns.dot(col("qv"), col("v")) * lit(1e6))
    toks.filter(col("doc") =!= 0)
      .join(broadcast(query))
      .groupBy(col("doc"), col("qtok"))
      .agg(max(qdot).as("mx"))
      .groupBy(col("doc"))
      .agg(sum(col("mx")).as("score_q"))
      .select(col("doc"),
        NumFns.roundPortable(col("score_q") / lit(1e6), 4).as("maxsim"))
      .orderBy(col("score_q").desc, col("doc"))
      .limit(10)
      .select(col("doc"), col("maxsim"))
  }

  val qMaxsimRerankOracle: String =
    s"""WITH $preparedSql,
       |t AS (
       |  SELECT vec_id // $MvTokens AS doc, vec_id % $MvTokens AS tok, v
       |  FROM n
       |),
       |q AS (SELECT tok AS qtok, v AS qv FROM t WHERE doc = 0),
       |px AS (
       |  SELECT t.doc, q.qtok,
       |    max(CAST(round(${dotSql("q.qv", "t.v")} * 1e6) AS BIGINT)) AS mx
       |  FROM t CROSS JOIN q WHERE t.doc <> 0
       |  GROUP BY t.doc, q.qtok
       |),
       |sc AS (
       |  SELECT doc, CAST(sum(mx) AS BIGINT) AS score_q FROM px GROUP BY doc
       |)
       |SELECT doc, ${NumFns.roundPortableSql("score_q / 1e6", 4)} AS maxsim
       |FROM sc
       |ORDER BY score_q DESC, doc
       |LIMIT 10""".stripMargin

  /** Prefix dimensions kept by [[qPrefixRecall]]'s truncated index. */
  val PrefixDims = 32

  /** Matryoshka truncation audit — recall@3 of a HALF-dimension index
    * against the full-dimension ground truth: would serving the first 32
    * of 64 dims (half the memory, half the FLOPs per probe) still return
    * the right neighbors? The question every embedding-serving stack
    * asks before adopting MRL-style truncation. Both sides are
    * [[annTopk]] with no blocker (queries broadcast, corpus scanned
    * once per index); the truncated side recomputes norms
    * over the prefix — a truncated vector is NOT unit even when the full
    * one is. At 100 TB the truncated probe is the cheap first pass of a
    * two-stage cascade (prefix scan → full rerank of survivors), and
    * this operator measures exactly the recall that cascade trades.
    */
  def qPrefixRecall(s: SparkSession, dir: String): DataFrame = {
    val full = prepared(s, dir)
    val half = full
      .select(col("vec_id"), slice(col("v"), 1, PrefixDims).as("v"))
      .withColumn("nsq", VectorFns.normSq(col("v"), PrefixDims))
    recall(annTopk(full, lit(true), 3), annTopk(half, lit(true), 3))
  }

  val qPrefixRecallOracle: String =
    s"""WITH $preparedSql,
       |h AS (SELECT vec_id, v[1:$PrefixDims] AS v,
       |  ${dotSql("v[1:" + PrefixDims + "]", "v[1:" + PrefixDims + "]")} AS nsq FROM n),
       |ft AS (SELECT query_id, neighbor_id FROM (WITH ${annTopkSql("n", "true", 3)})),
       |pt AS (SELECT query_id, neighbor_id FROM (WITH ${annTopkSql("h", "true", 3)}))
       |${recallSql("ft", "pt")}""".stripMargin

  /** Query population size for [[qKnnClassify]]. */
  val KnnQueries = 50L

  /** Neighbors voting in [[qKnnClassify]]. */
  val KnnK = 5

  /** Leave-one-out kNN label classification accuracy — the standard
    * "are the embeddings any good for this label" probe run before
    * anyone trains on them: for each of the first [[KnnQueries]]
    * vectors, the [[KnnK]] nearest others by cosine vote on its label
    * (majority, ties to the smaller label id), and per TRUE label the
    * vote accuracy is reported. Shape at 100 TB: the query set is tiny
    * and broadcast; the corpus streams past it once (the qAnnTopk
    * argument) and only per-query candidate heaps shuffle; the vote and
    * accuracy stages run over ≤ queries·k rows. Determinism: sims round
    * to 4 with a neighbor-id tiebreak before ranking; the vote argmax
    * tie-breaks on label id; accuracy is an exact integer ratio.
    */
  def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val pred = knnNeighbors(prepared(s, dir)).groupBy(col("query_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"), col("true_label"))
      .agg(max_by(col("n_label"),
        struct(col("votes"), (-col("n_label")).as("nl"))).as("pred_label"))
    pred.groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("pred_label") === col("true_label")).cast("long"))
          .as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_correct"),
        NumFns.roundPortable(
          col("n_correct").cast("double") / col("n_queries"), 6)
          .as("accuracy"))
      .orderBy(col("true_label"))
  }

  /** The [[KnnK]] nearest other vectors of each vector of `corpus
    * (vec_id, label, v, nsq)` below [[KnnQueries]]: `(query_id,
    * true_label, neighbor_id, n_label, sim, rank)`, best by (sim desc,
    * neighbor_id) — a tie at the cutoff keeps the smaller neighbor id,
    * and ranks run 1..KnnK with no gap. The query set is broadcast.
    */
  private[operators] def knnNeighbors(corpus: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(corpus.filter(col("vec_id") < KnnQueries)).as("a")
      .join(corpus.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("a.label").as("true_label"),
        col("b.vec_id").as("neighbor_id"), col("b.label").as("n_label"),
        simCol.as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
  }

  val qKnnClassifyOracle: String =
    s"""WITH $preparedSql,
       |nb AS (
       |  SELECT query_id, true_label, n_label FROM (
       |    SELECT q.vec_id AS query_id, q.label AS true_label,
       |      c.vec_id AS neighbor_id, c.label AS n_label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(${dotSql("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq)), 4)
       |          DESC, c.vec_id) AS rank
       |    FROM (SELECT * FROM n WHERE vec_id < $KnnQueries) q
       |    JOIN n c ON c.vec_id != q.vec_id) t
       |  WHERE rank <= $KnnK
       |),
       |votes AS (
       |  SELECT query_id, true_label, n_label, count(*) AS v
       |  FROM nb GROUP BY query_id, true_label, n_label
       |),
       |pred AS (
       |  SELECT query_id, true_label, n_label AS pred_label FROM (
       |    SELECT query_id, true_label, n_label,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY v DESC, n_label) AS vr
       |    FROM votes) t
       |  WHERE vr = 1
       |)
       |SELECT true_label, count(*) AS n_queries,
       |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) " +
            "AS DOUBLE) / count(*)", 6)} AS accuracy
       |FROM pred GROUP BY true_label
       |ORDER BY true_label""".stripMargin

  /** Per-cell simplified silhouette of the IVF assignment — the
    * clustering-quality gate for the index the ANN/SemDeDup paths rely
    * on: for every vector, a = cosine distance to its OWN cell's seed
    * centroid, b = distance to the nearest OTHER centroid, s =
    * (b−a)/max(a,b) ∈ [−1,1]; a negative s marks a vector the index
    * put in the wrong cell. The simplified (centroid-distance) form is
    * THE scalable silhouette: the classic pairwise definition is
    * all-pairs row-scale, while this one is a broadcast of k centroids
    * against one corpus scan — O(n·k) scan-side work, zero pair
    * shuffles; the per-cell roll-up is a dimension-sized aggregate.
    * Determinism: both distances derive from the same unrounded cosine
    * both engines compute identically; per-vector s values sum as
    * DECIMAL (order-free) and emit rounded.
    */
  def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = cellAssigned(s, dir)
    val cents = prepared(s, dir).filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nsq").as("cnsq"))
    val csim = VectorFns.cosineWithNorms(
      VectorFns.dot(col("v"), col("cv")), col("nsq"), col("cnsq"))
    val ab = e.crossJoin(broadcast(cents))
      .withColumn("csim", csim)
      .groupBy(col("vec_id"), col("cell"))
      .agg((lit(1.0) - max(when(col("cent_id") === col("cell"), col("csim"))))
          .as("a"),
        (lit(1.0) - max(when(col("cent_id") =!= col("cell"), col("csim"))))
          .as("b"))
      .withColumn("sil", (col("b") - col("a")) / greatest(col("a"), col("b")))
    ab.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        NumFns.stableMean(col("sil"), count(lit(1)), 6).as("mean_sil"),
        sum((col("sil") < 0).cast("long")).as("n_misfit"))
      .orderBy(col("cell"))
  }

  val qSilhouetteOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |ab AS (
       |  SELECT cells.vec_id, cells.cell,
       |    1.0 - max(CASE WHEN c.cent_id = cells.cell
       |      THEN ${dotSql("cells.v", "c.cv")} / (sqrt(cells.nsq) * sqrt(c.cnsq))
       |      END) AS a,
       |    1.0 - max(CASE WHEN c.cent_id != cells.cell
       |      THEN ${dotSql("cells.v", "c.cv")} / (sqrt(cells.nsq) * sqrt(c.cnsq))
       |      END) AS b
       |  FROM cells CROSS JOIN c
       |  GROUP BY cells.vec_id, cells.cell
       |),
       |sil AS (
       |  SELECT cell, (b - a) / greatest(a, b) AS sil FROM ab
       |)
       |SELECT cell, count(*) AS n_vecs,
       |  ${NumFns.stableMeanSql("sil", "count(*)", 6)} AS mean_sil,
       |  CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit
       |FROM sil GROUP BY cell
       |ORDER BY cell""".stripMargin

  /** The k values swept by [[qElbowSse]]. */
  val ElbowKs = Seq(2, 4, 8)

  /** Inertia (SSE) sweep over candidate centroid counts — the elbow
    * curve that justifies [[NumCentroids]] instead of folklore: for each
    * k ∈ [[ElbowKs]], every vector's cosine dissimilarity (1 − sim) to
    * its nearest of the first-k seed centroids, summed corpus-wide.
    * Where the curve stops dropping is where extra cells stop buying
    * locality — the same read as q_lsh_tune gives the band config.
    * Shape at 100 TB: per k one corpus scan against a BROADCAST k-row
    * centroid frame with a scan-side max — no assignment shuffle at all
    * (only the |k|-row final aggregate moves); the k sweep is a union of
    * three such scans. Determinism: best-sim is a max over identical
    * doubles; the SSE sums as DECIMAL (order-free) and emits rounded.
    */
  def qElbowSse(s: SparkSession, dir: String): DataFrame = {
    val e = prepared(s, dir).localCheckpoint()
    val perK = ElbowKs.map { k =>
      centroidSims(e, seedCentroids(e, k))
        .agg((lit(1.0) - max(col("csim"))).as("dist"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("dist").cast(Dec12)).as("sse_d"))
        .select(lit(k.toLong).as("k"), col("n_vecs"),
          NumFns.roundPortable(col("sse_d").cast("double"), 6).as("sse"),
          NumFns.roundPortable(
            col("sse_d").cast("double") / col("n_vecs"), 6).as("mean_dist"))
    }
    perK.reduce(_ union _).orderBy(col("k"))
  }

  /** Sample size for the [[qAnisotropy]] pair estimate. */
  val AnisotropySample = 200L

  /** Embedding anisotropy (Ethayarajh): the mean pairwise cosine over a
    * deterministic sample — isotropic (direction-uniform) embeddings
    * average ≈ 0, while the "narrow cone" pathology of contextual
    * encoders pushes it toward 1, silently inflating EVERY cosine the
    * ANN/SemDeDup/near-dup stack computes and invalidating their fixed
    * thresholds. This one number is the calibration check those
    * thresholds rest on, plus the mean norm (scale drift companion).
    * Shape: the first [[AnisotropySample]] vectors (deterministic, id-
    * pruned at the scan) pair all-ways — a BOUNDED sample² frame, never
    * corpus² — and the mean is a DECIMAL-stable sum.
    */
  def qAnisotropy(s: SparkSession, dir: String): DataFrame = {
    val sample = prepared(s, dir).filter(col("vec_id") < AnisotropySample)
      .localCheckpoint()
    val pairs = sample.as("a")
      .join(broadcast(sample.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(simCol.as("cos"))
    val cosAgg = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("cos").cast(Dec12)).as("sc"))
    val normAgg = sample.agg(count(lit(1)).as("n_vecs"),
      sum(sqrt(col("nsq")).cast(Dec12)).as("sn"))
    normAgg.crossJoin(broadcast(cosAgg))
      .select(col("n_vecs"), col("n_pairs"),
        NumFns.roundPortable(
          col("sc").cast("double") / col("n_pairs"), 6).as("mean_cos"),
        NumFns.roundPortable(
          col("sn").cast("double") / col("n_vecs"), 6).as("mean_norm"))
  }

  val qAnisotropyOracle: String =
    s"""WITH $preparedSql,
       |sm AS (SELECT * FROM n WHERE vec_id < $AnisotropySample),
       |p AS (
       |  SELECT CAST(round(${dotSql("a.v", "b.v")}
       |    / (sqrt(a.nsq) * sqrt(b.nsq)), 4) AS DECIMAL(38,12)) AS cos
       |  FROM sm a JOIN sm b ON a.vec_id < b.vec_id
       |),
       |ca AS (SELECT count(*) AS n_pairs, sum(cos) AS sc FROM p),
       |na AS (
       |  SELECT count(*) AS n_vecs,
       |    sum(CAST(sqrt(nsq) AS DECIMAL(38,12))) AS sn
       |  FROM sm
       |)
       |SELECT n_vecs, n_pairs,
       |  ${NumFns.roundPortableSql("CAST(sc AS DOUBLE) / n_pairs", 6)}
       |    AS mean_cos,
       |  ${NumFns.roundPortableSql("CAST(sn AS DOUBLE) / n_vecs", 6)}
       |    AS mean_norm
       |FROM na, ca""".stripMargin

  val qElbowSseOracle: String = {
    val perK = ElbowKs.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, count(*) AS n_vecs,
         |  ${NumFns.roundPortableSql("CAST(sum(sse_d) AS DOUBLE)", 6)} AS sse,
         |  ${NumFns.roundPortableSql(
              "CAST(sum(sse_d) AS DOUBLE) / count(*)", 6)} AS mean_dist
         |FROM (
         |  SELECT n.vec_id,
         |    CAST(1.0 - max(${dotSql("n.v", "c.v")}
         |      / (sqrt(n.nsq) * sqrt(c.nsq))) AS DECIMAL(38,12)) AS sse_d
         |  FROM n CROSS JOIN (SELECT * FROM n WHERE vec_id < $k) c
         |  GROUP BY n.vec_id
         |)""".stripMargin
    }.mkString("\n|UNION ALL\n|")
    s"""WITH $preparedSql
       |$perK
       |ORDER BY k""".stripMargin
  }
  /** Per-dimension mean/variance profile of the embedding space — the
    * dead-dimension audit run before ANN index build or quantization
    * (q_embed_quantize): a dimension whose variance is ~0 carries no
    * information but still costs index memory and distance FLOPs, and a
    * mean far from 0 says the space was never centered (hurting cosine
    * ANN recall). Shape: one posexplode pass → dims-bounded (64-row)
    * moment cells; the dead flag compares each variance to 1 % of the
    * mean variance (one more 1-row broadcast). Float→double casts are
    * exact; moments DECIMAL-fold.
    */
  def qEmbedDimVariance(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .select(posexplode(VectorFns.asDouble(col("embedding"))))
      .select((col("pos") + 1).as("dim"), col("col").as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast(Dec12)).as("sx"),
        sum((col("x") * col("x")).cast(Dec12)).as("sxx"))
      .select(col("dim"), col("n"),
        (col("sx").cast("double") / col("n")).as("mean"),
        ((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / col("n"))
          / col("n")).as("v"))
    val avgv = dims.agg(
      (sum(col("v").cast(Dec12)).cast("double") / count(lit(1))).as("av"))
    dims.crossJoin(broadcast(avgv))
      .select(col("dim").cast("int").as("dim"), col("n").as("n_vecs"),
        NumFns.roundPortable(col("mean"), 6).as("mean"),
        NumFns.roundPortable(col("v"), 6).as("variance"),
        (col("v") < lit(0.01) * col("av")).as("is_dead"))
      .orderBy(col("dim"))
  }

  val qEmbedDimVarianceOracle: String =
    s"""WITH e AS (SELECT $vSql AS v FROM embeddings),
       |x AS (SELECT unnest(v) AS x, unnest(range(1, len(v) + 1)) AS dim
       |  FROM e),
       |d AS (
       |  SELECT dim, count(*) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
       |  FROM x GROUP BY dim
       |),
       |v AS (
       |  SELECT dim, n, sx / n AS mean, (sxx - sx * sx / n) / n AS v
       |  FROM d
       |),
       |a AS (
       |  SELECT CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*)
       |    AS av
       |  FROM v
       |)
       |SELECT CAST(dim AS INTEGER) AS dim, n AS n_vecs,
       |  ${NumFns.roundPortableSql("mean", 6)} AS mean,
       |  ${NumFns.roundPortableSql("v", 6)} AS variance,
       |  v < 0.01 * av AS is_dead
       |FROM v, a
       |ORDER BY dim""".stripMargin

  /** Calinski–Harabasz variance-ratio index of the IVF cell clustering:
    * CH = (B/(k−1))/(W/(n−k)) with W/B the within/between sums of
    * squares around the ASSIGNED-CELL MEANS — the third internal
    * clustering validity lens beside q_silhouette (separation per
    * point) and q_elbow_sse (raw inertia): CH is the one with an
    * F-statistic reading, so it compares k choices on a calibrated
    * scale. Shape: the sufficient statistics are EXACTLY the k-means
    * cell frame — per-(cell,dim) stable DECIMAL sums from one
    * posexplode pass (cells×dims rows, hot-cell-OOM-proof) plus one
    * scalar Σ‖x‖²; W = T − Σ|s_j|²/n_j and B = Σ|s_j|²/n_j − |Σs_j|²/n
    * need no second corpus pass at all. Per-term DECIMAL folds keep
    * every reduction order-independent.
    */
  def qCalinskiHarabasz(s: SparkSession, dir: String): DataFrame = {
    val cells = cellAssigned(s, dir).localCheckpoint()
    val tot = cells.agg(count(lit(1)).as("n"),
      sum(col("nsq").cast(Dec12)).as("t2"))
    val f = cells
      .select(col("cell"), posexplode(col("v")))
      .select(col("cell"), (col("pos") + 1).as("pos"), col("col").as("x"))
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("nj"), sum(col("x").cast(Dec12)).as("sj"))
      .localCheckpoint() // k×dims rows; feeds B1, the global sums, and k
    val b1 = f.select(((col("sj").cast("double") * col("sj").cast("double"))
      / col("nj")).cast(Dec12).as("t"))
      .agg(sum(col("t")).as("b1"))
    val g = f.groupBy(col("pos")).agg(sum(col("sj")).as("gs"))
      .select((col("gs").cast("double") * col("gs").cast("double")).cast(Dec12)
        .as("t"))
      .agg(sum(col("t")).as("gg"))
    val k = f.select(col("cell")).distinct().agg(count(lit(1)).as("k"))
    tot.crossJoin(broadcast(b1)).crossJoin(broadcast(g))
      .crossJoin(broadcast(k))
      .select(col("n"), col("k"),
        (col("t2").cast("double") - col("b1").cast("double")).as("w"),
        (col("b1").cast("double") - col("gg").cast("double") / col("n"))
          .as("b"))
      .select(col("n").as("n_vecs"), col("k").as("k_cells"),
        NumFns.roundPortable(col("w"), 4).as("within_ss"),
        NumFns.roundPortable(col("b"), 4).as("between_ss"),
        NumFns.roundPortable(
          when(col("k") > 1 && col("n") > col("k"),
            (col("b") / (col("k") - 1).cast("double"))
              / (col("w") / (col("n") - col("k")).cast("double"))), 4)
          .as("ch_index"))
  }

  val qCalinskiHarabaszOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |tot AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(nsq AS DECIMAL(38,12))) AS DOUBLE) AS t2
       |  FROM cells
       |),
       |x AS (
       |  SELECT cell, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos
       |  FROM cells
       |),
       |f AS (
       |  SELECT cell, pos, count(*) AS nj,
       |    sum(CAST(x AS DECIMAL(38,12))) AS sj
       |  FROM x GROUP BY cell, pos
       |),
       |b1 AS (
       |  SELECT CAST(sum(CAST(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj
       |    AS DECIMAL(38,12))) AS DOUBLE) AS b1
       |  FROM f
       |),
       |g AS (
       |  SELECT CAST(sum(CAST(CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE)
       |    AS DECIMAL(38,12))) AS DOUBLE) AS gg
       |  FROM (SELECT pos, sum(sj) AS gs FROM f GROUP BY pos)
       |),
       |kk AS (SELECT count(DISTINCT cell) AS k FROM f),
       |chc AS (
       |  SELECT n, k, t2 - b1 AS w, b1 - gg / n AS b
       |  FROM tot, b1, g, kk
       |)
       |SELECT n AS n_vecs, k AS k_cells,
       |  ${NumFns.roundPortableSql("w", 4)} AS within_ss,
       |  ${NumFns.roundPortableSql("b", 4)} AS between_ss,
       |  ${NumFns.roundPortableSql(
            "CASE WHEN k > 1 AND n > k THEN (b / CAST(k - 1 AS DOUBLE))" +
              " / (w / CAST(n - k AS DOUBLE)) END", 4)} AS ch_index
       |FROM chc""".stripMargin

  /** IVF cell-balance audit: size distribution of the inverted-file
    * cells — entropy vs the uniform log₂k ideal, and the max/mean
    * imbalance factor — the ANN SERVING-cost read (probe latency is
    * proportional to the probed cell's size, so one hot cell holding
    * half the corpus makes nprobe=1 latency corpus-scale no matter
    * what recall says; q_ann_recall measures quality, this measures
    * the other axis). Shape: the shared [[cellAssigned]] frame
    * collapses to ≤k cell counts; entropy is a per-term DECIMAL fold
    * over that frame.
    */
  def qIvfBalance(s: SparkSession, dir: String): DataFrame = {
    val sizes = cellAssigned(s, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
    val tot = sizes.agg(sum(col("c")).as("n"), count(lit(1)).as("k"),
      max(col("c")).as("maxc"))
    val ent = sizes.crossJoin(broadcast(tot))
      .select((-(col("c").cast("double") / col("n"))
        * log(col("c").cast("double") / col("n"))).cast(Dec12).as("t"))
      .agg(sum(col("t")).as("h"))
    tot.crossJoin(broadcast(ent))
      .select(col("n").as("n_vecs"), col("k").as("k_cells"),
        col("maxc").as("max_cell"),
        NumFns.roundPortable(
          col("h").cast("double") / math.log(2.0), 6).as("entropy_bits"),
        NumFns.roundPortable(
          log(col("k").cast("double")) / math.log(2.0), 6)
          .as("uniform_bits"),
        NumFns.roundPortable(
          col("maxc").cast("double")
            / (col("n").cast("double") / col("k")), 4)
          .as("imbalance_factor"))
  }

  val qIvfBalanceOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |sz AS (SELECT cell, count(*) AS c FROM cells GROUP BY cell),
       |tt AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS k,
       |    CAST(max(c) AS BIGINT) AS maxc
       |  FROM sz
       |),
       |en AS (
       |  SELECT CAST(sum(CAST(-(CAST(c AS DOUBLE) / n)
       |    * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(38,12))) AS DOUBLE) AS h
       |  FROM sz CROSS JOIN tt
       |)
       |SELECT n AS n_vecs, k AS k_cells, maxc AS max_cell,
       |  ${NumFns.roundPortableSql("h / ln(2.0)", 6)} AS entropy_bits,
       |  ${NumFns.roundPortableSql(
            "ln(CAST(k AS DOUBLE)) / ln(2.0)", 6)} AS uniform_bits,
       |  ${NumFns.roundPortableSql(
            "CAST(maxc AS DOUBLE) / (CAST(n AS DOUBLE) / k)", 4)}
       |    AS imbalance_factor
       |FROM tt, en""".stripMargin

  /** Probe depths swept by [[qAnnProbeCurve]]. */
  val ProbeDepths = Seq(1, 2, 4)

  /** IVF nprobe tuning curve: recall@3 vs mean probed-candidate count
    * at nprobe ∈ {1,2,4} — THE knob table an ANN deployment is tuned
    * from (q_ann_recall certifies one operating point; this shows the
    * whole recall-vs-cost frontier, where the next probe stops paying).
    * Shape: queries rank all k centroids once (bounded k×queries);
    * candidates join per-cell ONCE carrying their cell's probe rank,
    * and every depth is a filter over that one candidate frame —
    * deeper probes never rescan. Truth is the audited brute-force
    * top-3; per-query top-3 windows partition on the 10-query key over
    * cell-sized candidate sets.
    */
  def qAnnProbeCurve(s: SparkSession, dir: String): DataFrame = {
    val e = prepared(s, dir)
    val cells = cellAssigned(s, dir).localCheckpoint()
    val cents = seedCentroids(e, NumCentroids)
    val maxP = ProbeDepths.max
    val q = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nsq").as("qnsq"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cent_id"))
    val probe = q.crossJoin(broadcast(cents))
      .withColumn("csim", VectorFns.cosineWithNorms(
        VectorFns.dot(col("qv"), col("cv")), col("qnsq"), col("cnsq")))
      .withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= maxP)
      .select(col("query_id"), col("qv"), col("qnsq"),
        col("cent_id").as("pcell"), col("crank"))
    val cand = broadcast(probe).join(cells.as("b"),
        col("pcell") === col("b.cell") && col("query_id") =!= col("b.vec_id"))
      .select(col("query_id"), col("crank"),
        col("b.vec_id").as("neighbor_id"),
        round(VectorFns.cosineWithNorms(
          VectorFns.dot(col("qv"), col("b.v")), col("qnsq"), col("b.nsq")),
          4).as("sim"))
      .localCheckpoint() // one candidate frame serves every depth
    // r12 (guide §1.2: don't compute things twice): truth is the
    // brute-force top-3 — an embeddings scan plus a 10×n similarity
    // window. It used to be re-derived SIX times (hits + n_true, per
    // depth); checkpointing the ≤30-row frame runs it once, and the
    // n_true scalar is hoisted out of the depth loop entirely.
    val truth = qAnnTopk(s, dir).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("tr"))
      .localCheckpoint()
    val tt = truth.agg(count(lit(1)).as("n_true"))
    val perDepth = ProbeDepths.map { pd =>
      val probed = cand.filter(col("crank") <= pd)
      val nc = probed.groupBy(col("query_id")).agg(count(lit(1)).as("ncand"))
        .agg(sum(col("ncand")).as("cand_total"),
          count(lit(1)).as("nq"))
      val hits = top3(probed)
        .join(truth, Seq("query_id", "neighbor_id"), "inner")
        .agg(count(lit(1)).as("n_hits"))
      nc.crossJoin(broadcast(hits)).crossJoin(broadcast(tt))
        .select(lit(pd.toLong).as("nprobe"),
          NumFns.roundPortable(
            col("cand_total").cast("double") / col("nq"), 2)
            .as("mean_candidates"),
          NumFns.roundPortable(
            col("n_hits").cast("double") / col("n_true"), 4).as("recall3"))
    }
    perDepth.reduce(_ union _).orderBy(col("nprobe"))
  }

  /** The 3 best of each query's candidates `cand (query_id,
    * neighbor_id, sim)`, ranked `rk` by (sim desc, neighbor_id): a tie at
    * the cutoff keeps the smaller neighbor id, and ranks run 1..3 with
    * no gap.
    */
  private[operators] def top3(cand: DataFrame): DataFrame =
    cand.withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rk") <= 3)

  val qAnnProbeCurveOracle: String = {
    val depths = ProbeDepths.map { pd =>
      s"""SELECT CAST($pd AS BIGINT) AS nprobe,
         |  (SELECT ${NumFns.roundPortableSql(
              "CAST(count(*) AS DOUBLE)" +
                " / (SELECT count(DISTINCT query_id) FROM cand" +
                s" WHERE crank <= $pd)", 2)}
         |   FROM cand WHERE crank <= $pd) AS mean_candidates,
         |  (SELECT ${NumFns.roundPortableSql(
              "CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM truth)", 4)}
         |   FROM (
         |     SELECT query_id, neighbor_id,
         |       row_number() OVER (PARTITION BY query_id
         |         ORDER BY sim DESC, neighbor_id) AS rk
         |     FROM cand WHERE crank <= $pd
         |   ) t JOIN truth USING (query_id, neighbor_id)
         |   WHERE t.rk <= 3) AS recall3""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $preparedSql,
       |$cellsSql,
       |cents AS (
       |  SELECT vec_id AS cent_id, v AS cv, nsq AS cnsq FROM n
       |  WHERE vec_id < $NumCentroids
       |),
       |qs AS (
       |  SELECT vec_id AS query_id, v AS qv, nsq AS qnsq FROM cells
       |  WHERE vec_id < 10
       |),
       |pr AS (
       |  SELECT query_id, qv, qnsq, cent_id AS cell,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${dotSql("qv", "cv")} / (sqrt(qnsq) * sqrt(cnsq))
       |        DESC, cent_id) AS crank
       |  FROM qs CROSS JOIN cents
       |),
       |cand AS (
       |  SELECT pr.query_id, pr.crank, b.vec_id AS neighbor_id,
       |    round(${dotSql("pr.qv", "b.v")} / (sqrt(pr.qnsq) * sqrt(b.nsq)),
       |      4) AS sim
       |  FROM pr JOIN cells b ON pr.cell = b.cell
       |    AND pr.query_id != b.vec_id
       |  WHERE pr.crank <= ${ProbeDepths.max}
       |),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM ($qAnnTopkOracle) WHERE rank <= 3
       |)
       |SELECT * FROM (
       |$depths
       |) ORDER BY nprobe""".stripMargin
  }

  /** Chance-corrected agreement between the IVF cell clustering and
    * the ground-truth labels: adjusted Rand index + homogeneity /
    * completeness / V-measure from one (cell, label) contingency —
    * the standard external-validity panel (q_cluster_purity's raw
    * purity is inflated by many small clusters; ARI and V-measure
    * correct for chance and for the cluster-count trade-off). Shape:
    * the shared assignment frame collapses to a ≤k×|labels|
    * contingency; every statistic is exact integer binomials
    * (DECIMAL(38,0) — C(n,2) is corpus²) or per-term DECIMAL entropy
    * folds over that bounded frame.
    */
  def qClusterAgreement(s: SparkSession, dir: String): DataFrame = {
    val ct = cellAssigned(s, dir)
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("nij"))
    val ai = ct.groupBy(col("cell")).agg(sum(col("nij")).as("a"))
    val bj = ct.groupBy(col("label")).agg(sum(col("nij")).as("b"))
    def c2(x: org.apache.spark.sql.Column) =
      (x.cast(Dec0) * (x - 1)) / 2
    val sij = ct.agg(sum(c2(col("nij"))).as("sij"), sum(col("nij")).as("n"))
    val sa = ai.agg(sum(c2(col("a"))).as("sa"))
    val sb = bj.agg(sum(c2(col("b"))).as("sb"))
    val ent = {
      val tot = sij.select(col("n"))
      val hl = bj.crossJoin(broadcast(tot))
        .select((-(col("b").cast("double") / col("n"))
          * log(col("b").cast("double") / col("n"))).cast(Dec12).as("t"))
        .agg(sum(col("t")).as("hlab"))
      val hc = ai.crossJoin(broadcast(tot))
        .select((-(col("a").cast("double") / col("n"))
          * log(col("a").cast("double") / col("n"))).cast(Dec12).as("t"))
        .agg(sum(col("t")).as("hcell"))
      val hlc = ct.join(broadcast(ai), Seq("cell"))
        .select((-(col("nij").cast("double")) // summed over n below
          * log(col("nij").cast("double") / col("a"))).cast(Dec12).as("t"))
        .agg(sum(col("t")).as("hlc_raw"))
      val hcl = ct.join(broadcast(bj), Seq("label"))
        .select((-(col("nij").cast("double"))
          * log(col("nij").cast("double") / col("b"))).cast(Dec12).as("t"))
        .agg(sum(col("t")).as("hcl_raw"))
      hl.crossJoin(broadcast(hc)).crossJoin(broadcast(hlc))
        .crossJoin(broadcast(hcl))
    }
    val j = sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .crossJoin(broadcast(ent))
    val nD = col("n").cast("double")
    val sn = nD * (nD - 1.0) / 2.0
    val exp = col("sa").cast("double") * col("sb").cast("double") / sn
    val ari = (col("sij").cast("double") - exp) /
      ((col("sa").cast("double") + col("sb").cast("double")) / 2.0 - exp)
    val hLab = col("hlab").cast("double")
    val hCell = col("hcell").cast("double")
    val hLC = col("hlc_raw").cast("double") / nD
    val hCL = col("hcl_raw").cast("double") / nD
    val homog = lit(1.0) - hLC / hLab
    val compl = lit(1.0) - hCL / hCell
    j.select(col("n").as("n_vecs"),
      NumFns.roundPortable(ari, 6).as("ari"),
      NumFns.roundPortable(homog, 6).as("homogeneity"),
      NumFns.roundPortable(compl, 6).as("completeness"),
      NumFns.roundPortable(
        lit(2.0) * homog * compl / (homog + compl), 6).as("v_measure"))
  }

  val qClusterAgreementOracle: String =
    s"""WITH $preparedSql,
       |$cellsSql,
       |lb AS (
       |  SELECT cells.vec_id, cells.cell, n.label
       |  FROM cells JOIN n USING (vec_id)
       |),
       |ct AS (
       |  SELECT cell, label, count(*) AS nij FROM lb GROUP BY 1, 2
       |),
       |ai AS (SELECT cell, CAST(sum(nij) AS BIGINT) AS a FROM ct
       |  GROUP BY 1),
       |bj AS (SELECT label, CAST(sum(nij) AS BIGINT) AS b FROM ct
       |  GROUP BY 1),
       |si AS (
       |  SELECT CAST(sum(CAST(nij AS HUGEINT) * (nij - 1) // 2) AS DOUBLE)
       |      AS sij,
       |    CAST(sum(nij) AS BIGINT) AS n
       |  FROM ct
       |),
       |sav AS (SELECT CAST(sum(CAST(a AS HUGEINT) * (a - 1) // 2) AS DOUBLE)
       |  AS sa FROM ai),
       |sbv AS (SELECT CAST(sum(CAST(b AS HUGEINT) * (b - 1) // 2) AS DOUBLE)
       |  AS sb FROM bj),
       |hl AS (
       |  SELECT CAST(sum(CAST(-(CAST(b AS DOUBLE) / n)
       |    * ln(CAST(b AS DOUBLE) / n) AS DECIMAL(38,12))) AS DOUBLE)
       |    AS hlab
       |  FROM bj CROSS JOIN si
       |),
       |hc AS (
       |  SELECT CAST(sum(CAST(-(CAST(a AS DOUBLE) / n)
       |    * ln(CAST(a AS DOUBLE) / n) AS DECIMAL(38,12))) AS DOUBLE)
       |    AS hcell
       |  FROM ai CROSS JOIN si
       |),
       |h1 AS (
       |  SELECT CAST(sum(CAST(-CAST(nij AS DOUBLE)
       |    * ln(CAST(nij AS DOUBLE) / a) AS DECIMAL(38,12))) AS DOUBLE)
       |    AS hlc_raw
       |  FROM ct JOIN ai USING (cell)
       |),
       |h2 AS (
       |  SELECT CAST(sum(CAST(-CAST(nij AS DOUBLE)
       |    * ln(CAST(nij AS DOUBLE) / b) AS DECIMAL(38,12))) AS DOUBLE)
       |    AS hcl_raw
       |  FROM ct JOIN bj USING (label)
       |),
       |f AS (
       |  SELECT n,
       |    (sij - sa * sb / (CAST(n AS DOUBLE) * (n - 1.0) / 2.0))
       |      / ((sa + sb) / 2.0
       |        - sa * sb / (CAST(n AS DOUBLE) * (n - 1.0) / 2.0)) AS ari,
       |    1.0 - (hlc_raw / n) / hlab AS homog,
       |    1.0 - (hcl_raw / n) / hcell AS compl
       |  FROM si, sav, sbv, hl, hc, h1, h2
       |)
       |SELECT n AS n_vecs,
       |  ${NumFns.roundPortableSql("ari", 6)} AS ari,
       |  ${NumFns.roundPortableSql("homog", 6)} AS homogeneity,
       |  ${NumFns.roundPortableSql("compl", 6)} AS completeness,
       |  ${NumFns.roundPortableSql(
            "2.0 * homog * compl / (homog + compl)", 6)} AS v_measure
       |FROM f""".stripMargin
}
