package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k returns 5 ranked neighbors per query") {
    val rows = Similarity.qAnnTopk(spark, sf001).collect()
    assert(rows.length == 10 * 5)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rs =>
      val ranked = rs.sortBy(_.getAs[Int]("rank"))
      assert(ranked.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      val sims = ranked.map(_.getAs[Double]("sim"))
      assert(sims.sameElements(sims.sortBy(-_)), "sims not descending")
      sims.foreach(sv => assert(sv >= -1.0001 && sv <= 1.0001))
    }
  }

  test("a tie at the top-k cutoff keeps the smaller neighbor id and ranks have no gap") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    def vec(x: Double, y: Double) = Seq(x, y) ++ Seq.fill(Similarity.Dims - 2)(0.0)
    // query 0; 31 and 40 tie at ranks 1-2, 21 and 12 tie at the cutoff k = 3
    val corpus = Seq(0L -> vec(1, 0), 40L -> vec(2, 0), 21L -> vec(1, 1),
        31L -> vec(1, 0), 13L -> vec(0, 1), 12L -> vec(3, 3))
      .toDF("vec_id", "v")
      .withColumn("nsq", graft.functions.VectorFns.normSq(col("v")))
    val got = Similarity.annTopk(corpus, lit(true), 3).collect().toSeq
    assert(got === Seq(Row(0L, 31L, 1, 1.0), Row(0L, 40L, 2, 1.0), Row(0L, 12L, 3, 0.7071)))
  }

  test("a tie at the kNN vote cutoff keeps the smaller neighbor id and ranks have no gap") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    def vec(x: Double, y: Double) = Seq(x, y) ++ Seq.fill(Similarity.Dims - 2)(0.0)
    // query 0; 31/40 tie at ranks 1-2, 12/21 at 3-4, 7/13 at the cutoff KnnK = 5
    val corpus = Seq(0L -> vec(1, 0), 40L -> vec(2, 0), 21L -> vec(1, 1),
        31L -> vec(1, 0), 13L -> vec(0, 1), 12L -> vec(3, 3), 7L -> vec(0, 2))
      .toDF("vec_id", "v")
      .withColumn("label", col("vec_id") % 2)
      .withColumn("nsq", graft.functions.VectorFns.normSq(col("v")))
    assert(Similarity.KnnK == 5)
    val got = Similarity.knnNeighbors(corpus).filter(col("query_id") === 0L)
      .select("neighbor_id", "rank", "sim").orderBy("rank").collect().toSeq
    assert(got === Seq(Row(31L, 1, 1.0), Row(40L, 2, 1.0), Row(12L, 3, 0.7071),
      Row(21L, 4, 0.7071), Row(7L, 5, 0.0)))
  }

  test("a tie at the probe curve's top-3 cutoff keeps the smaller neighbor id and ranks have no gap") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    // query 0: 3/5 tie at ranks 1-2, 2/8 at the cutoff 3; query 1 ranks alone
    val cand = Seq((0L, 5L, 0.9), (0L, 3L, 0.9), (0L, 8L, 0.5), (0L, 2L, 0.5),
        (0L, 1L, 0.1), (1L, 4L, 0.3))
      .toDF("query_id", "neighbor_id", "sim")
    val got = Similarity.top3(cand).select("query_id", "neighbor_id", "rk")
      .orderBy("query_id", "rk").collect().toSeq
    assert(got === Seq(Row(0L, 3L, 1), Row(0L, 5L, 2), Row(0L, 2L, 3), Row(1L, 4L, 1)))
  }

  test("LSH ANN never returns a cross-bucket pair and sims match brute force") {
    val lsh = Similarity.qAnnLsh(spark, sf001).collect()
    assert(lsh.nonEmpty)
    val brute = Similarity.qAnnTopk(spark, sf001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("sim"))
      .toMap
    // where an LSH hit coincides with a brute-force top-5 hit, sims agree
    lsh.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      brute.get(k).foreach(s => assert(math.abs(s - r.getAs[Double]("sim")) < 1e-9))
    }
  }

  test("near-dup pairs stay within a label block") {
    val rows = Similarity.qEmbedNeardup(spark, sf001).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("sim") >= Similarity.NearDupThreshold)
      assert(r.getAs[Long]("vec_id_a") < r.getAs[Long]("vec_id_b"))
    }
  }

  test("sub-blocked near-dup equals the single-block result at any chunk size") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"),
        r.getAs[Int]("label"), r.getAs[Double]("sim"))
    // chunkSize larger than any label block → exactly the r1 one-task path
    val single = Similarity.embedNeardupPairs(spark, sf001, 1000000).collect().map(key)
    // tiny chunks → many chunk-pair tasks per label
    val blocked = Similarity.embedNeardupPairs(spark, sf001, 4).collect().map(key)
    assert(single.nonEmpty || blocked.isEmpty)
    assert(blocked.toSeq == single.toSeq)
  }

  test("chunk-pair tasks are bounded: no group exceeds 2×chunkSize vectors") {
    import org.apache.spark.sql.functions._
    val chunkSize = 4
    val corpus = Similarity.chunkedCorpus(spark, sf001, chunkSize)
    val sizes = corpus.groupBy(col("label"), col("c_lo"), col("c_hi")).count()
    val maxSize = sizes.agg(max(col("count"))).head.getLong(0)
    assert(maxSize <= 2L * chunkSize,
      s"a chunk-pair task would materialize $maxSize vectors (> ${2 * chunkSize})")
    // multi-chunk path is actually exercised at this scale
    assert(sizes.filter(col("c_lo") =!= col("c_hi")).count() > 0,
      "no cross-chunk groups — chunking not exercised")
    // every unordered pair lands in exactly one group: each (vector, task)
    // replica is unique
    val dups = corpus.groupBy(col("vec_id"), col("c_lo"), col("c_hi"))
      .count().filter(col("count") > 1).count()
    assert(dups == 0, "a vector was replicated twice into the same chunk-pair task")
  }

  test("ANN recall matches a manual comparison of the brute and LSH top-3") {
    val brute = Similarity.qAnnTopk(spark, sf001).collect()
      .filter(_.getAs[Int]("rank") <= 3)
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val lsh = Similarity.qAnnLsh(spark, sf001).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val rows = Similarity.qAnnRecall(spark, sf001).collect()
    assert(rows.map(_.getAs[Long]("query_id")).toSet == brute.keySet)
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val expectHit = (brute(q) & lsh.getOrElse(q, Set.empty)).size
      assert(r.getAs[Long]("n_true") == 3L)
      assert(r.getAs[Long]("n_hit") == expectHit, s"hit count mismatch for query $q")
      val recall = r.getAs[Double]("recall")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(math.abs(recall - expectHit / 3.0) < 1e-3)
    }
  }

  private def flatKey(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("cell"), r.getAs[Int]("pos")) ->
      (r.getAs[Long]("n_vecs"), r.getAs[Double]("cx"))

  test("kmeans(iters = 1) reproduces the audited Lloyd step exactly") {
    val step = Similarity.qKmeansStep(spark, sf001).collect().map(flatKey).toMap
    val loop = Similarity.kmeans(spark, sf001, Similarity.NumCentroids, 1)
      .collect().map(flatKey).toMap
    assert(step.nonEmpty && loop == step)
  }

  test("kmeans assignments cover the whole corpus every iteration") {
    import org.apache.spark.sql.functions._
    val n = graft.sources.Tables.embeddings(spark, sf001).count()
    Seq(1, 3).foreach { iters =>
      val flat = Similarity.kmeans(spark, sf001, Similarity.NumCentroids, iters)
      // each dimension's n_vecs across cells sums to the corpus size —
      // no vector is lost or double-assigned in any round
      val perPos = flat.groupBy(col("pos")).agg(sum(col("n_vecs")).as("tot"))
        .select(col("tot")).distinct().collect()
      assert(perPos.length == 1 && perPos.head.getLong(0) == n,
        s"iteration $iters lost vectors")
      assert(flat.select(col("cell")).distinct().count() <= Similarity.NumCentroids)
    }
  }
}
