package graft.operators

import graft.SparkSpec
import graft.functions.NumFns.Dec12

/** Invariant + plan-shape coverage for the round-5 operator batch
  * (TPC-H Q7/Q11/Q16 gap fills, Mann–Whitney, CUPED, HITS). Value
  * equality vs DuckDB is the oracle gate's job; these pin semantics and
  * the plan shapes the scale argument rests on.
  */
class Round5NewOpsSpec extends SparkSpec {

  test("volume-shipping: only the two named nations appear, in both directions, dims broadcast") {
    val df = RelationalPlus.qVolumeShipping(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.subsetOf(Set(("NATION_3", "NATION_8"), ("NATION_8", "NATION_3"))))
    rows.foreach(r => assert(r.getDouble(3) > 0.0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"))
  }

  test("important-stock: every kept part exceeds the threshold share of the single-scan total") {
    val df = RelationalPlus.qImportantStock(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // recompute the gate from the output side: total over ALL parts
    // (not just survivors) must strictly dominate every kept value / 0.002
    val values = rows.map(_.getDouble(1))
    assert(values.sameElements(values.sorted(Ordering[Double].reverse)))
    // survivors are a strict subset of the eligible part population
    val nParts = graft.sources.Tables.lineitem(spark, sf001)
      .select("l_partkey").distinct().count()
    assert(rows.length < nParts)
  }

  test("parts-supplier-count: excluded suppliers never contribute; counts bounded by supplier population") {
    val rows = RelationalPlus.qPartsSupplierCount(spark, sf001).collect()
    assert(rows.nonEmpty)
    val nSupp = graft.sources.Tables.supplier(spark, sf001)
      .filter("s_nationkey < 20").count()
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= nSupp, r)
      assert(r.getString(0) != "Brand#1")
    }
  }

  test("mann-whitney: U within [0, n1*n2] and cell-frame ranking (no raw-row window)") {
    val df = Profiling.qMannWhitney(spark, sf001)
    val rows = df.collect()
    assert(rows.length == 5) // one per event type
    rows.foreach { r =>
      val (n1, n2, u1) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(u1 >= 0.0 && u1 <= n1.toDouble * n2, r)
    }
    // the window must run over the (event_type, value) CELL frame: the
    // aggregate below the Window collapses to distinct cells first
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
  }

  test("mann-whitney matches a driver-side exact computation on one event type") {
    val vals = graft.sources.Tables.events(spark, sf001)
      .filter("event_type = 'click'")
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0) % 2, r.getDouble(1)))
    val sorted = vals.map(_._2).sorted
    // midranks with tie averaging
    val rankOf = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> g.map(_._2 + 1).sum.toDouble / g.length }
    val r1 = vals.filter(_._1 == 1).map(v => rankOf(v._2)).sum
    val n1 = vals.count(_._1 == 1).toDouble
    val expU1 = r1 - n1 * (n1 + 1) / 2
    val got = Profiling.qMannWhitney(spark, sf001)
      .filter("event_type = 'click'").collect().head
    assert(got.getDouble(3) == expU1, s"got ${got.getDouble(3)} want $expU1")
  }

  test("cuped: adjusted means preserve the overall metric mean and cut variance (var_ratio in (0,1])") {
    val rows = PipelineOps.qCuped(spark, sf001).collect()
    assert(rows.length == 2)
    val vr = rows.head.getDouble(5)
    assert(vr > 0.0 && vr <= 1.0, s"var_ratio $vr")
    assert(rows.map(_.getDouble(4)).distinct.length == 1) // same theta both arms
  }

  test("hits: authority scores integer-exact, max-normalized to 1, edge frame materialized once") {
    val rows = Graph.qHits(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    assert(rows.head.getDouble(2) == 1.0) // the max part normalizes to 1
    // descending, integer raw scores
    val raw = rows.map(_.getLong(1))
    assert(raw.sameElements(raw.sorted(Ordering[Long].reverse)))
    rows.foreach(r => assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0))
  }

  test("cdc-apply: last-writer-wins, tombstoned keys absent, one row per surviving user") {
    val rows = Temporal.qCdcApply(spark, sf001).collect()
    assert(rows.nonEmpty)
    val users = rows.map(_.getLong(0))
    assert(users.distinct.length == users.length)
    rows.foreach(r => assert(r.getString(1) != "error"))
    // a user whose LATEST op is error must not appear
    val latest = graft.sources.Tables.events(spark, sf001)
      .orderBy(org.apache.spark.sql.functions.col("ts").desc,
        org.apache.spark.sql.functions.col("event_id").desc)
      .collect().groupBy(_.getLong(2)).map { case (u, es) => u -> es.head }
    val tombstoned = latest.collect { case (u, e) if e.getString(3) == "error" => u }
    tombstoned.foreach(u => assert(!users.contains(u), s"tombstoned user $u leaked"))
  }

  test("dup-span: fractions in [0,1]; a doc sharing an 8-gram with another is flagged on both sides") {
    val rows = Dedup.qDupSpan(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dupTok, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dupTok >= 0 && dupTok <= n, r)
      assert(frac >= 0.0 && frac <= 1.0, r)
      // any covered position implies at least one full span of coverage
      if (dupTok > 0) assert(dupTok >= Dedup.SpanW, r)
    }
  }

  test("kneser-ney: probabilities in (0,1], counts descending, exactly the top-20 bigrams") {
    val rows = TextAnalysis.qKneserNey(spark, sf001).collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getLong(2))
    assert(counts.sameElements(counts.sorted(Ordering[Long].reverse)))
    rows.foreach(r => assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0, r))
  }

  test("hll-intersection: exact side satisfies inclusion-exclusion and the certificate holds") {
    val r = Sketches.qHllIntersection(spark, sf001).collect().head
    val (na, nb, ni) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(ni >= 0 && ni <= math.min(na, nb))
    assert(r.getBoolean(3), s"HLL intersection estimate outside ${Sketches.InterBound} bound")
  }

  test("ols-fit: slope/intercept reproduce the driver-side normal equations; R2 in [0,1]") {
    val rows = Profiling.qOlsFit(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0, r))
    // exact recomputation for one group
    val xs = graft.sources.Tables.lineitem(spark, sf001)
      .filter("l_returnflag = 'N'").select("l_quantity", "l_extendedprice")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = xs.length.toDouble
    val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
    val sxy = xs.map(p => p._1 * p._2).sum
    val sxx = xs.map(p => p._1 * p._1).sum
    val exp = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    val got = rows.find(_.getString(0) == "N").get.getDouble(2)
    assert(math.abs(got - exp) < 1e-4, s"slope $got vs $exp")
  }

  test("tail-index: k bounded by corpus, x_k is the k-th largest length, alpha positive") {
    val rows = Profiling.qTailIndex(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= Profiling.HillK)
      if (!r.isNullAt(3)) assert(r.getDouble(3) > 0.0, r)
    }
    // x_k for one source really is its k-th largest n_chars
    val src = rows.head.getString(0)
    val lens = graft.sources.Tables.documents(spark, sf001)
      .filter(s"source = '$src'").select("n_chars")
      .collect().map(_.getLong(0)).sorted(Ordering[Long].reverse)
    val k = rows.head.getLong(1).toInt
    assert(rows.head.getLong(2) == lens(k - 1))
  }

  test("path-mining: paths are 3-step chains over known event types, counts descending") {
    val rows = Behavioral.qPathMining(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= Behavioral.PathTopN)
    val types = Set("view", "click", "purchase", "signup", "error")
    rows.foreach { r =>
      val steps = r.getString(0).split(">")
      assert(steps.length == 3 && steps.forall(types.contains), r)
    }
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sorted(Ordering[Long].reverse)))
  }

  test("shapley attribution satisfies efficiency: credits sum to the touched conversions") {
    import org.apache.spark.sql.functions._
    val rows = Behavioral.qShapleyAttribution(spark, sf001).collect()
    assert(rows.length == 4)
    val total = rows.map(_.getDouble(1)).sum
    // v(full set) = conversions among users with >= 1 view touch
    val e = graft.sources.Tables.events(spark, sf001)
    val touchedConv = e.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"),
        max(when(col("event_type") === "view", 1).otherwise(0)).as("touched"))
      .filter("conv = 1 AND touched = 1").count()
    assert(math.abs(total - touchedConv) < 1e-6,
      s"sum of credits $total != touched conversions $touchedConv")
    rows.foreach(r => assert(r.getDouble(1) >= 0.0, r))
  }

  test("anova: F positive, eta squared in [0,1], n and k match the corpus") {
    val r = Profiling.qAnova(spark, sf001).collect().head
    assert(r.getLong(0) == 20) // 20 sources
    assert(r.getLong(1) == graft.sources.Tables.documents(spark, sf001).count())
    assert(r.getDouble(2) > 0.0)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("diff-in-diff equals the four rounded cell means' closed form") {
    val r = PipelineOps.qDiffInDiff(spark, sf001).collect().head
    val did = r.getDouble(3) - r.getDouble(2) - (r.getDouble(1) - r.getDouble(0))
    assert(math.abs(r.getDouble(4) - did) < 1e-4, s"${r.getDouble(4)} vs $did")
  }

  test("two-phase topk: when certified, the result IS the true global top-10") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.qTwoPhaseTopk(spark, sf001).collect()
    assert(rows.length == 10)
    val truth = graft.sources.Tables.events(spark, sf001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (rows.forall(_.getBoolean(2))) {
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).sameElements(truth),
        "certified result diverges from the exact global top-10")
    }
    // soundness direction of the certificate: counts descending
    val ns = rows.map(_.getLong(1))
    assert(ns.sameElements(ns.sorted(Ordering[Long].reverse)))
  }

  test("maxsim rerank matches a driver-side brute-force late-interaction score") {
    import org.apache.spark.sql.functions._
    val vecs = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def doc(d: Long) = (0 until Similarity.MvTokens)
      .flatMap(t => vecs.get(d * Similarity.MvTokens + t))
    val q = doc(0L)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def score(d: Long) = doc(d).nonEmpty match {
      case true => q.map(qv => doc(d).map(dv =>
        math.round(dot(qv, dv) * 1e6)).max).sum / 1e6
      case false => Double.MinValue
    }
    val rows = Similarity.qMaxsimRerank(spark, sf001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val exp = score(r.getLong(0))
      assert(math.abs(r.getDouble(1) - exp) < 1e-3,
        s"doc ${r.getLong(0)}: ${r.getDouble(1)} vs $exp")
    }
  }

  test("join-size estimate is an upper bound within the Markov certificate") {
    val r = Sketches.qJoinSizeEst(spark, sf001).collect().head
    val (na, nb, exact, est) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(est >= exact, s"CMS inner product must overestimate: $est < $exact")
    assert(r.getBoolean(4))
    assert(exact == na, "every lineitem joins exactly one order")
    assert(nb > 0)
  }

  test("youden threshold maximizes J over an exhaustive driver-side sweep") {
    import org.apache.spark.sql.functions._
    val r = Evaluation.qYoudenThreshold(spark, sf001).collect().head
    val (tp, fp, tn, fn) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val (p, n) = (tp + fn, tn + fp)
    // confusion table is consistent
    assert(p > 0 && n > 0)
    val jGot = tp.toDouble / p - fp.toDouble / n
    assert(math.abs(r.getDouble(5) - jGot) < 1e-4)
    // no other threshold does better (exhaustive over the permille grid)
    val cells = graft.sources.Tables.documents(spark, sf001)
      .select(col("lang"), graft.functions.TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(floor(lit(1000) * size(filter(col("toks"),
        t => t.isin(graft.functions.TextFns.StopWords.map(w => lit(w): Any): _*)))
        / size(col("toks"))).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val bestJ = cells.map(_._1).distinct.map { t =>
      val tpx = cells.filter(c => c._1 >= t).map(_._2).sum
      val fpx = cells.count(c => c._1 >= t) - tpx
      tpx.toDouble / p - fpx.toDouble / n
    }.max
    assert(math.abs(jGot - bestJ) < 1e-9, s"J $jGot not maximal ($bestJ)")
  }

  test("manifest diff partitions the key universe and respects the snapshot construction") {
    val rows = Catalog.qManifestDiff(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // on 500 sequential ids: last digit 8,9 only in the new listing
    // (added), 0,1 only in the old (removed), 2-7 shared; of the shared,
    // %5==0 means last digit 5 -> size drift (changed)
    assert(rows("added") == 100 && rows("removed") == 100, rows.toString)
    assert(rows("changed") == 50 && rows("unchanged") == 250, rows.toString)
  }

  test("coverage curve: monotone in N, exact at a driver-recomputed threshold") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.qCoverageCurve(spark, sf001).collect()
    assert(rows.length == TextAnalysis.CoverageNs.length)
    val shares = rows.map(_.getDouble(4))
    assert(shares.sameElements(shares.sorted))
    shares.foreach(v => assert(v > 0.0 && v <= 1.0))
    // exact recomputation at N=100
    val counts = graft.sources.Tables.documents(spark, sf001)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect().map(_.getLong(1))
      .sorted(Ordering[Long].reverse)
    val expected = counts.take(100).sum
    assert(rows.head.getLong(3) == expected,
      s"covered at 100: ${rows.head.getLong(3)} vs $expected")
  }

  test("crawl schedule: consecutive slots never repeat a host within a wave") {
    val rows = Web.qCrawlSchedule(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= Web.CrawlSlots)
    val slots = rows.map(_.getLong(0))
    assert(slots.distinct.length == slots.length)
    assert(slots.sameElements(slots.sorted))
    // within any window of n_hosts consecutive slots, hosts are unique
    val nHosts = rows.map(_.getString(1)).distinct.length
    rows.grouped(nHosts).foreach { wave =>
      val hs = wave.map(_.getString(1))
      assert(hs.distinct.length == hs.length,
        s"host repeated inside a politeness wave: ${hs.mkString(",")}")
    }
  }

  test("incremental rollup merge equals the single-pass full recompute") {
    import org.apache.spark.sql.functions._
    val merged = PipelineOps.qIncrementalRollup(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val full = graft.sources.Tables.events(spark, sf001)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(Dec12)), 4).cast("double").as("sv"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(merged.keySet == full.keySet)
    merged.foreach { case (k, v) =>
      assert(v._1 == full(k)._1 && math.abs(v._2 - full(k)._2) == 0.0,
        s"$k: $v vs ${full(k)} — incremental state drifted from full recompute")
    }
  }

  test("clustering coefficient in [0,1] and wedge count matches the degree recomputation") {
    val r = Graph.qClusteringCoeff(spark, sf001).collect().head
    val cc = r.getDouble(2)
    assert(cc >= 0.0 && cc <= 1.0, s"coefficient $cc")
    assert(r.getLong(1) > 0 && r.getLong(0) >= 0)
    // 3T <= wedges always (every triangle closes exactly 3 wedges)
    assert(3 * r.getLong(0) <= r.getLong(1))
  }

  test("modularity contributions: degree masses sum to 2m and Q stays in [-1, 1]") {
    val rows = Graph.qModularity(spark, sf001).collect()
    assert(rows.nonEmpty)
    val q = rows.map(_.getDouble(3)).sum
    assert(q >= -1.0 && q <= 1.0, s"Q $q")
    val twoM = rows.map(_.getLong(2)).sum
    val eInTotal = rows.map(_.getLong(1)).sum
    assert(twoM % 2 == 0 && eInTotal <= twoM / 2)
  }

  test("attribution windows: counts monotone in window width, bounded by purchases") {
    val r = Behavioral.qAttributionWindows(spark, sf001).collect().head
    val total = r.getLong(0)
    val counts = Behavioral.AttribSweepHours.indices.map(i => r.getLong(1 + 2 * i))
    assert(total > 0)
    counts.foreach(c => assert(c >= 0 && c <= total))
    assert(counts.sameElements(counts.sorted), "wider window must attribute at least as many")
    Behavioral.AttribSweepHours.indices.foreach { i =>
      val share = r.getDouble(2 + 2 * i)
      assert(math.abs(share - counts(i).toDouble / total) < 1e-5)
    }
  }

  test("dup flow: symmetric-free canonical pairs, bounded by each source's prefix-group count") {
    val rows = Dedup.qDupFlow(spark, sf001).collect()
    assert(rows.nonEmpty, "test corpus must exhibit cross-source opening overlap")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pair must be canonicalized")
      assert(r.getLong(2) >= 1)
    }
    val counts = rows.map(_.getLong(2))
    assert(counts.sameElements(counts.sorted(Ordering[Long].reverse)))
  }

  test("k-anonymity: at-risk accounting internally consistent per segment") {
    val rows = Profiling.qKAnonymity(spark, sf001).collect()
    assert(rows.length == 5) // five market segments
    rows.foreach { r =>
      val (groups, atRisk) = (r.getLong(1), r.getLong(2))
      assert(atRisk <= groups)
      assert(r.getLong(4) >= 1) // min group size
      val share = r.getDouble(6)
      assert(share >= 0.0 && share <= 1.0)
      // groups below k contribute < k customers each
      assert(r.getLong(3) < Profiling.AnonK * (atRisk + 1))
      if (!r.isNullAt(5)) assert(r.getLong(5) >= 1)
    }
  }

  test("sax: symbols follow the z breakpoints and complete weeks only") {
    val rows = Temporal.qSax(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (z, sym) = (r.getDouble(2), r.getString(3))
      val expected =
        if (z < -0.6745) "a" else if (z < 0.0) "b"
        else if (z < 0.6745) "c" else "d"
      assert(sym == expected, s"z=$z symbol=$sym")
    }
    // z-normalization: mean of z over the series is ~0
    val zbar = rows.map(_.getDouble(2)).sum / rows.length
    assert(math.abs(zbar) < 0.01, s"z mean $zbar")
  }

  test("source keywords: k per source, scores descending, df bounded by source count") {
    val rows = TextAnalysis.qSourceKeywords(spark, sf001).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(0))
    assert(bySource.size == 20)
    bySource.values.foreach { g =>
      assert(g.length <= TextAnalysis.KeywordsPerSource)
      val scores = g.sortBy(_.getInt(1)).map(_.getDouble(5))
      assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
      g.foreach(r => assert(r.getLong(3) > 0 && r.getLong(4) <= 20, r))
    }
  }

  test("pass@k matches the unbiased estimator recomputed on the driver") {
    import org.apache.spark.sql.functions._
    val rows = Evaluation.qPassAtK(spark, sf001).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val (mean, mn, mx) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(mn <= mean && mean <= mx)
      assert(mn >= 0.0 && mx <= 1.0)
    }
    val tasks = graft.sources.Tables.events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .filter(col("n") >= Evaluation.PassK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def passk(n: Long, c: Long): Double =
      if (n - c < Evaluation.PassK) 1.0
      else 1.0 - (0 until Evaluation.PassK)
        .map(i => (n - c - i).toDouble / (n - i)).product
    val exp0 = {
      val g = tasks.filter(_._1 % 2 == 0)
      g.map(t => passk(t._2, t._3)).sum / g.length
    }
    assert(math.abs(rows.head.getDouble(2) - exp0) < 1e-4,
      s"cohort 0 mean ${rows.head.getDouble(2)} vs $exp0")
  }

  test("growth accounting: active = new + retained + resurrected each week; churn conserves") {
    val rows = Behavioral.qGrowthAccounting(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"week ${r.getLong(0)}: active != new+retained+resurrected")
    }
    // conservation: prev_active - retained(w) = churned(w)
    val byWeek = rows.map(r => r.getLong(0) -> r).toMap
    byWeek.foreach { case (wk, r) =>
      byWeek.get(wk - 1).foreach { prev =>
        assert(prev.getLong(1) - r.getLong(3) == r.getLong(5),
          s"week $wk churn ${r.getLong(5)} != ${prev.getLong(1)} - ${r.getLong(3)}")
      }
    }
  }

  test("qte: treatment effects equal the difference of the per-arm order statistics") {
    val r = PipelineOps.qQte(spark, sf001).collect().head
    (0 until 5).foreach { i =>
      val (a, b, qte) = (r.getDouble(3 * i), r.getDouble(3 * i + 1), r.getDouble(3 * i + 2))
      assert(math.abs(qte - (b - a)) < 1e-4, s"quantile $i: $qte vs ${b - a}")
    }
    // percentiles are monotone within each arm
    val as = (0 until 5).map(i => r.getDouble(3 * i))
    assert(as.sameElements(as.sorted))
  }

  test("window funnel: stages partition the viewers and never exceed the unbounded funnel") {
    val rows = Behavioral.qWindowFunnel(spark, sf001).collect()
    assert(rows.nonEmpty)
    val totalViewers = rows.map(_.getLong(1)).sum
    val unboundedViewers = Behavioral.qFunnel(spark, sf001).count()
    assert(totalViewers == unboundedViewers,
      "every viewer lands in exactly one stage")
    // the time bound can only REDUCE depth: deep-stage population is
    // bounded by the unbounded funnel's
    val deepBounded = rows.filter(_.getLong(0) == 3).map(_.getLong(1)).sum
    val deepUnbounded = Behavioral.qFunnel(spark, sf001)
      .filter("stage = 3").count()
    assert(deepBounded <= deepUnbounded)
  }

  test("cycle time: p50 <= p90 and first-ship never after full-ship per priority") {
    val rows = RelationalPlus.qCycleTime(spark, sf001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2), "p50_first <= p90_first")
      assert(r.getDouble(3) <= r.getDouble(4), "p50_full <= p90_full")
      assert(r.getDouble(1) <= r.getDouble(3),
        "median first shipment cannot follow median full shipment")
      assert(r.getLong(5) > 0)
    }
  }

  test("power analysis: Cohen's d consistent with delta/sd; n positive and finite") {
    val rows = Profiling.qPowerAnalysis(spark, sf001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (delta, sd, d, n) = (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      assert(sd > 0.0 && delta >= 0.0)
      assert(math.abs(d - delta / sd) < 1e-3, s"d $d vs ${delta / sd}")
      assert(n > 0 && n < Long.MaxValue / 2)
      // textbook sanity: n ~ 2*(z_a+z_b)^2 / d^2
      val expected = math.ceil(2.0 * math.pow(
        (Profiling.ZAlpha + Profiling.ZBeta) / d, 2)).toLong
      assert(math.abs(n - expected) <= math.max(1L, expected / 100),
        s"n $n vs $expected")
    }
  }

  test("trending: exactly k per day, descending trailing volumes, window never shrinks a volume") {
    val rows = Behavioral.qTrending(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach { day =>
      assert(day.length <= Behavioral.TrendingK)
      val vols = day.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(vols.sameElements(vols.sorted(Ordering[Long].reverse)))
      vols.foreach(v => assert(v >= 1))
    }
  }

  test("abc classification: shares sum to 1, class A dominates revenue with fewest parts") {
    val abc = Analytics.qAbcClass(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(abc.keySet == Set("A", "B", "C"))
    val revSum = abc.values.map(_._2).sum
    val cntSum = abc.values.map(_._3).sum
    assert(math.abs(revSum - 1.0) < 1e-4 && math.abs(cntSum - 1.0) < 1e-4)
    // Pareto structure: A holds ~80% of revenue with a minority of parts
    assert(abc("A")._2 > abc("C")._2)
    assert(abc("A")._2 <= 0.8 + 1e-9, "running cut must respect the 80% boundary")
  }

  test("purchase intervals: positive means, CV defined, segments complete") {
    val rows = Behavioral.qPurchaseIntervals(spark, sf001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) > 0.0)
      assert(r.getDouble(3) > 0.0, "order gaps must vary")
    }
  }

  test("catalog gaps: per-model accounting closes and real gaps exist by construction") {
    val rows = Catalog.qCatalogGaps(spark, sf001).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(1) == 4) // 4 schemes expected per model
      assert(r.getLong(2) + r.getLong(3) == 4,
        s"${r.getString(0)}: observed + missing != expected")
      val listed = r.getString(4)
      if (r.getLong(3) > 0) assert(listed.split(",").length == r.getLong(3))
      else assert(listed.isEmpty)
    }
    // the CRT-thinned corpus leaves exactly 10 missing combos
    assert(rows.map(_.getLong(3)).sum == 10)
  }

  test("streaming cdc compaction converges to the batch q_cdc_apply answer") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    import graft.streaming.EventPipeline
    val ops = graft.sources.Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .as[EventPipeline.CdcOp]
    val out = EventPipeline.cdcCompact(ops).collect()
      .map(r => r.user_id -> r).toMap
    val batch = graft.operators.Temporal.qCdcApply(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    // every batch survivor matches the stream's compacted row
    batch.foreach { case (u, (op, nOps)) =>
      val st = out(u)
      assert(!st.tombstoned && st.last_op == op && st.n_ops == nOps, s"user $u")
    }
    // every stream tombstone is absent from the batch output
    out.values.filter(_.tombstoned)
      .foreach(st => assert(!batch.contains(st.user_id), s"user ${st.user_id}"))
    assert(out.size == batch.size + out.values.count(_.tombstoned))
  }

  test("pit join: purchase mass conserved up to pre-first-state drops; no cartesian") {
    import org.apache.spark.sql.functions.col
    val df = Temporal.qPitJoin(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // states are exactly non-purchase event types
    val states = rows.map(_.getString(0)).toSet
    assert(!states.contains("purchase") && states.nonEmpty)
    // half-open intervals partition time: every purchase matches ≤1 dim
    // row, so joined purchases never exceed the purchase population
    val nPurch = graft.sources.Tables.events(spark, sf001)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(1)).sum <= nPurch)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("max concurrent: peak within [1, total orders]; peak day sits in the order date span") {
    val rows = Temporal.qMaxConcurrent(spark, sf001).collect()
    assert(rows.length == 5) // one per region
    val nOrders = graft.sources.Tables.orders(spark, sf001).count()
    rows.foreach { r =>
      val (peak, day) = (r.getLong(1), r.getLong(2))
      assert(peak >= 1L && peak <= nOrders)
      assert(day >= 0L && day < 3000L)
    }
  }

  test("target encoding: LOO never equals the plain segment mean when targets differ") {
    import org.apache.spark.sql.functions.col
    val rows = PipelineOps.qTargetEncoding(spark, sf001).collect()
    assert(rows.nonEmpty)
    // the LOO encodings within a segment differ row to row (each leaves
    // its own target out), while a leaky mean-encoding would be constant
    val bySeg = rows.groupBy(_.getString(1)).filter(_._2.length > 1)
    assert(bySeg.nonEmpty)
    bySeg.foreach { case (_, rs) =>
      assert(rs.map(_.getDouble(2)).distinct.length > 1)
    }
    // stride sampling really restricted the emitted audit rows
    assert(rows.forall(_.getLong(0) % PipelineOps.TargetEncStride == 0))
  }

  test("rolling median: bounded by the window's min/max daily revenue; cells not rows under the window") {
    import org.apache.spark.sql.functions.col
    val df = Temporal.qRollingMedian(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // reconstruct each region's day series and re-derive the median bound
    val byRegion = rows.groupBy(_.getString(0))
    byRegion.foreach { case (_, rs) =>
      val series = rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
      rs.foreach { r =>
        val (day, med) = (r.getLong(1), r.getDouble(3) * 100)
        val frame = series.filter { case (d, _) => d >= day - 14 && d <= day }.values
        assert(med >= frame.min - 0.5 && med <= frame.max + 0.5,
          s"median $med outside frame [${frame.min}, ${frame.max}]")
      }
    }
    // the window input is the per-(region, day) aggregate, never raw orders
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    df.queryExecution.optimizedPlan.foreach {
      case w: LWindow =>
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined)
      case _ =>
    }
  }

  test("bh-fdr: significance is a rank prefix and never below per-test alpha count") {
    val rows = Profiling.qBhFdr(spark, sf001).collect()
    assert(rows.length == 25) // 5 types x 5 cohorts
    val byRank = rows.sortBy(_.getLong(4))
    // step-up property: significant rows form a prefix of the ranking
    val sigFlags = byRank.map(_.getBoolean(5))
    val firstNonSig = sigFlags.indexOf(false)
    if (firstNonSig >= 0) assert(!sigFlags.drop(firstNonSig).contains(true))
    // every significant p is at most alpha (BH threshold <= alpha at rank m)
    byRank.filter(_.getBoolean(5)).foreach(r => assert(r.getDouble(3) <= Profiling.BhAlpha))
    // p monotone non-decreasing in rank (rank is by |z|, p monotone in |z|)
    val ps = byRank.map(_.getDouble(3))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b + 1e-9 })
  }

  test("prefix recall: in [0,1], and truncated index is not spuriously perfect everywhere") {
    val rows = Similarity.qPrefixRecall(spark, sf001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 3L)
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("woe/iv: iv_total constant and non-negative; shares reconstruct totals") {
    val rows = PipelineOps.qWoeIv(spark, sf001).collect()
    assert(rows.length >= 2)
    val ivs = rows.map(_.getDouble(4)).distinct
    assert(ivs.length == 1 && ivs.head >= 0.0)
    val g = rows.map(_.getLong(1)).sum
    val b = rows.map(_.getLong(2)).sum
    val nCust = graft.sources.Tables.customer(spark, sf001).count()
    assert(g + b == nCust)
  }

  test("isotonic calibration: fit monotone, bounded by [0,1], pool-mass conserved") {
    val rows = Evaluation.qIsotonicCalibration(spark, sf001).collect()
    assert(rows.nonEmpty)
    val fits = rows.map(_.getDouble(4))
    // PAV output is monotone non-decreasing in the score bucket
    assert(fits.zip(fits.tail).forall { case (a, b) => a <= b + 1e-9 },
      fits.mkString(","))
    fits.foreach(f => assert(f >= 0.0 && f <= 1.0))
    // PAV preserves total positive mass: sum n_k * fit_k == sum np_k
    val mass = rows.map(r => r.getLong(1) * r.getDouble(4)).sum
    val np = rows.map(_.getLong(2)).sum
    assert(math.abs(mass - np) < 1e-3 * np + 1.0, s"$mass vs $np")
    rows.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("mad outliers: median/MAD reproduce a driver-side exact recomputation for one source") {
    val rows = Profiling.qMadOutliers(spark, sf001).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0) // MAD
      assert(r.getLong(4) <= r.getLong(1)) // outliers bounded by docs
    }
    val src = rows.head.getString(0)
    val lens = graft.sources.Tables.documents(spark, sf001)
      .filter(s"source = '$src'").select("n_chars")
      .collect().map(_.getLong(0).toDouble).sorted
    def q50(xs: Array[Double]): Double = {
      val h = (xs.length - 1) * 0.5
      val lo = xs(h.toInt)
      val hi = xs(math.ceil(h).toInt)
      lo + (h - h.toInt) * (hi - lo)
    }
    val med = math.round(q50(lens) * 1e4) / 1e4
    assert(rows.head.getDouble(2) == med, s"${rows.head.getDouble(2)} vs $med")
    val mad = math.round(q50(lens.map(x => math.abs(x - med)).sorted) * 1e4) / 1e4
    assert(rows.head.getDouble(3) == mad, s"${rows.head.getDouble(3)} vs $mad")
  }

  test("eb shrinkage: posterior sits between the raw rate and the learned prior mean") {
    import org.apache.spark.sql.functions._
    val rows = PipelineOps.qEbShrinkage(spark, sf001).collect()
    assert(rows.length == 15)
    // prior mean recomputed on the driver from the same part-level rates
    val rates = graft.sources.Tables.lineitem(spark, sf001)
      .groupBy(col("l_partkey"))
      .agg((sum((col("l_returnflag") === "R").cast("long")).cast("double")
        / count(lit(1))).as("r"))
      .collect().map(_.getDouble(1))
    val m = rates.sum / rates.length
    rows.foreach { r =>
      val (raw, post) = (r.getDouble(3), r.getDouble(4))
      assert(post >= math.min(raw, m) - 1e-6 && post <= math.max(raw, m) + 1e-6,
        s"posterior $post not between raw $raw and prior mean $m")
    }
    // small-n parts shrink harder: output ordered by posterior descending
    val posts = rows.map(_.getDouble(4))
    assert(posts.sameElements(posts.sorted(Ordering[Double].reverse)))
  }

  test("cross-correlation: full lag sweep, r bounded, lag-0 matches an exact recomputation") {
    import org.apache.spark.sql.functions._
    val rows = Temporal.qCrossCorr(spark, sf001).collect()
    assert(rows.length == 15)
    assert(rows.map(_.getLong(0)).sameElements(-7L to 7L))
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9, r))
    val daily = graft.sources.Tables.events(spark, sf001)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(r => r.getDate(1).toString -> r.getLong(2)).toMap }
    val common = daily("view").keySet intersect daily("purchase").keySet
    val xs = common.toSeq.map(d => (daily("view")(d).toDouble, daily("purchase")(d).toDouble))
    val n = xs.length
    val (sa, sb) = (xs.map(_._1).sum, xs.map(_._2).sum)
    val sab = xs.map(p => p._1 * p._2).sum
    val saa = xs.map(p => p._1 * p._1).sum
    val sbb = xs.map(p => p._2 * p._2).sum
    val exp = (n * sab - sa * sb) /
      (math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb))
    val got = rows.find(_.getLong(0) == 0L).get.getDouble(2)
    assert(math.abs(got - exp) < 1e-4, s"lag0 r $got vs $exp")
  }

  test("kendall tau-b: pair accounting closes and matches a driver-side exact recomputation") {
    import org.apache.spark.sql.functions._
    val r = Profiling.qKendallTau(spark, sf001).collect().head
    val (n0, c, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(c + d <= n0)
    assert(math.abs(r.getDouble(5)) <= 1.0)
    val series = graft.sources.Tables.orders(spark, sf001)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
      .agg(count(lit(1)).as("x"),
        sum(graft.functions.NumFns.roundAwayLong(col("o_totalprice") * 100)).as("y"))
      .collect().map(row => (row.getInt(0), row.getLong(1), row.getLong(2)))
      .sortBy(_._1)
    val pairs = for {
      i <- series.indices; j <- (i + 1) until series.length
    } yield (series(i), series(j))
    assert(n0 == pairs.length)
    val cExp = pairs.count { case (a, b) =>
      (a._2 - b._2).sign * (a._3 - b._3).sign > 0 }
    val dExp = pairs.count { case (a, b) =>
      (a._2 - b._2).sign * (a._3 - b._3).sign < 0 }
    assert(c == cExp && d == dExp, s"($c,$d) vs ($cExp,$dExp)")
  }

  test("simpson audit: pooled r constant across strata, correlations bounded") {
    val rows = Profiling.qSimpson(spark, sf001).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2)) <= 1.0)
      assert(math.abs(r.getDouble(3)) <= 1.0)
      assert(r.getBoolean(4) == (r.getDouble(2) * r.getDouble(3) < 0))
    }
    assert(rows.map(_.getDouble(3)).distinct.length == 1)
  }

  test("conformal: split partitions orders; held-out coverage near the nominal level") {
    val rows = Evaluation.qConformal(spark, sf001).collect()
    assert(rows.length == 5)
    val nOrders = graft.sources.Tables.orders(spark, sf001).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == nOrders)
    rows.foreach { r =>
      assert(r.getDouble(4) > 0.0, "interval half-width must be positive")
      val cov = r.getDouble(5)
      // finite-sample guarantee: coverage >= level in expectation; allow
      // sampling slack below, and it can never exceed 1
      assert(cov >= Evaluation.ConformalLevel - 0.08 && cov <= 1.0, s"$cov")
    }
  }

  test("lift table: gains monotone to 1, totals reconstruct, top bucket lift >= 1") {
    val rows = Evaluation.qLiftDeciles(spark, sf001).collect()
    assert(rows.nonEmpty)
    // rows come best-bucket-first: gain non-decreasing, ends at 1
    val gains = rows.map(_.getDouble(5))
    assert(gains.zip(gains.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(math.abs(gains.last - 1.0) < 1e-9)
    val np = rows.map(_.getLong(2)).sum
    assert(rows.last.getLong(4) == np, "cumulative positives must close")
    // over the whole table the cumulative rate IS the base rate: lift = 1
    assert(math.abs(rows.last.getDouble(6) - 1.0) < 1e-9)
    rows.foreach(r => assert(r.getDouble(6) >= 0.0))
  }

  test("knn classify: every query voted exactly once; accuracy beats the majority-class prior") {
    val rows = Similarity.qKnnClassify(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Similarity.KnnQueries)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the metric is honest: on these synthetic embeddings the labels are
    // independent of geometry (measured neighbor-label agreement ≈ 1/k),
    // so pooled accuracy must sit near chance — a value near 1 would mean
    // the query leaked the true label into the vote
    val nLabels = graft.sources.Tables.embeddings(spark, sf001)
      .select("label").distinct().count()
    val acc = rows.map(_.getLong(2)).sum.toDouble / Similarity.KnnQueries
    assert(acc < 3.0 / nLabels, s"kNN accuracy $acc implausibly high — label leak?")
    // exact driver-side recomputation of every query's vote
    val vecs = graft.sources.Tables.embeddings(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.round(d / (math.sqrt(a.map(x => x * x).sum)
        * math.sqrt(b.map(x => x * x).sum)) * 1e4) / 1e4
    }
    val correctByLabel = vecs.filter(_._1 < Similarity.KnnQueries).map { q =>
      val top = vecs.filter(_._1 != q._1)
        .map(v => (v._1, cos(q._2, v._2), v._3))
        .sortBy(t => (-t._2, t._1)).take(Similarity.KnnK)
      val pred = top.groupBy(_._3).toSeq
        .sortBy { case (l, g) => (-g.length, l) }.head._1
      (q._3, if (pred == q._3) 1L else 0L)
    }.groupBy(_._1).map { case (l, g) => (l, g.map(_._2).sum) }
    rows.foreach { r =>
      assert(r.getLong(2) == correctByLabel(r.getInt(0)),
        s"label ${r.getInt(0)}: ${r.getLong(2)} vs ${correctByLabel(r.getInt(0))}")
    }
  }

  test("silhouette: bounded, misfits counted consistently, population conserved") {
    val rows = Similarity.qSilhouette(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= Similarity.NumCentroids)
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0, r)
      assert(r.getLong(3) <= r.getLong(1), r)
    }
    val total = rows.map(_.getLong(1)).sum
    assert(total == graft.sources.Tables.embeddings(spark, sf001).count())
    // label-clustered embeddings: the assignment cannot be mostly wrong
    val misfitShare = rows.map(_.getLong(3)).sum.toDouble / total
    assert(misfitShare < 0.5, s"misfit share $misfitShare")
  }

  test("common neighbors: canonical pairs, scores descending and bounded by n_common/ln(2)") {
    val rows = Graph.qCommonNeighbors(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= Graph.LinkTopN)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonicalized")
      assert(r.getLong(2) >= 1)
      // each common neighbor contributes at most 1/ln(2) (deg >= 2)
      assert(r.getDouble(3) <= r.getLong(2) / math.log(2.0) + 1e-6, r)
      assert(r.getDouble(3) > 0.0)
    }
    val scores = rows.map(_.getDouble(3))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
  }

  test("hilbert curve: bijective on the grid and consecutive codes are edge-adjacent cells") {
    import org.apache.spark.sql.functions._
    val side = 1 << Layout.ZBits
    val grid = spark.range(side.toLong * side)
      .select((col("id") % side).as("x"), (col("id") / side).cast("long").as("y"))
    val cells = Layout.hilbert(grid, "x", "y").collect()
      .map(r => r.getLong(2) -> ((r.getLong(0), r.getLong(1)))).toMap
    // bijection: 256 distinct codes covering exactly 0..255
    assert(cells.size == side * side)
    assert(cells.keySet == (0L until side.toLong * side).toSet)
    // THE Hilbert property Z-order lacks: successive codes are unit
    // Manhattan steps — no seams, so contiguous files cover compact boxes
    (0L until side.toLong * side - 1).foreach { d =>
      val (x1, y1) = cells(d)
      val (x2, y2) = cells(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
    // the audit query groups the same key space
    val audit = Layout.qHilbertLayout(spark, sf001).collect()
    assert(audit.nonEmpty && audit.forall(r =>
      r.getLong(0) >= 0 && r.getLong(0) < side.toLong * side))
  }

  test("k-core: fixpoint certified, handshake closes, core denser than k/2 per node") {
    val r = Graph.qKcore(spark, sf001).collect().head
    assert(r.getLong(0) == Graph.CoreK && r.getLong(1) == Graph.CoreRounds)
    val (nodes, edges) = (r.getLong(2), r.getLong(3))
    assert(r.getBoolean(4), "peel did not converge within the round budget")
    // min degree >= k in a converged core implies e >= n*k/2
    assert(2 * edges >= nodes * Graph.CoreK, s"core too sparse: $nodes/$edges")
  }

  test("pinball loss: quantile forecasts ordered, losses non-negative, q50 beats flipped quantiles on MAE") {
    val rows = Temporal.qPinballLoss(spark, sf001).collect()
    assert(rows.length == 15) // 5 regions x 3 taus
    rows.foreach(r => assert(r.getDouble(4) >= 0.0, r))
    rows.groupBy(_.getString(0)).values.foreach { g =>
      val byTau = g.map(r => r.getString(1) -> r.getDouble(3)).toMap
      assert(byTau("p10") <= byTau("p50") && byTau("p50") <= byTau("p90"),
        s"quantile crossing: $byTau")
    }
  }

  test("ucb rank: optimism bonus strictly positive, ranking consistent with scores") {
    val rows = PipelineOps.qUcbRank(spark, sf001).collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getDouble(4) > r.getDouble(3),
      "UCB must exceed the empirical mean"))
    assert(rows.map(_.getLong(0)).sameElements(1L to 5L))
    val ucbs = rows.map(_.getDouble(4))
    assert(ucbs.sameElements(ucbs.sorted(Ordering[Double].reverse)))
  }

  test("rbo: bounded by the truncated maximum, 1 for identical prefixes, 0 for disjoint") {
    val rows = Evaluation.qRbo(spark, sf001).collect()
    assert(rows.length == 10)
    // truncated RBO-MIN maximum = (1-p) * sum p^(i-1) (full agreement)
    val maxRbo = (1 to Evaluation.RboDepth)
      .map(i => math.pow(Evaluation.RboP, i - 1)).sum * (1 - Evaluation.RboP)
    rows.foreach { r =>
      val rbo = r.getDouble(2)
      assert(rbo >= 0.0 && rbo <= maxRbo + 1e-9, s"rbo $rbo > max $maxRbo")
      // zero overlap at full depth forces rbo = 0 (and vice versa)
      assert((r.getLong(1) == 0) == (rbo == 0.0) ||
        r.getLong(1) > 0, r)
    }
  }

  test("sliding distinct: wau >= dau, wau bounded by sum of window daus, dau matches per-day recount") {
    import org.apache.spark.sql.functions._
    val rows = Temporal.qSlidingDistinct(spark, sf001).collect()
    assert(rows.nonEmpty)
    val dauByDay = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (day, dau, wau) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(wau >= dau, r)
      val windowSum = (day - 6 to day).flatMap(dauByDay.get).sum
      assert(wau <= windowSum, s"day $day: wau $wau > window dau sum $windowSum")
    }
    // exact DAU recount for the first day
    val d0 = rows.head.getLong(0)
    val exact = graft.sources.Tables.events(spark, sf001)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2020-01-01")).cast("long").as("day"))
      .filter(col("day") === d0).select("user_id").distinct().count()
    assert(rows.head.getLong(1) == exact)
  }

  test("assortativity: defined, bounded, and edge count matches the basket pair universe") {
    val r = Graph.qAssortativity(spark, sf001).collect().head
    assert(r.getLong(0) > 0)
    assert(!r.isNullAt(1), "degree variance must be positive on the basket graph")
    assert(math.abs(r.getDouble(1)) <= 1.0)
  }

  test("elbow: SSE strictly decreases with k (seed centroids are nested prefixes)") {
    val rows = Similarity.qElbowSse(spark, sf001).collect()
    assert(rows.map(_.getLong(0)).sameElements(Similarity.ElbowKs.map(_.toLong)))
    // k' > k uses a SUPERSET of seed centroids, so best-sim can only rise
    val sses = rows.map(_.getDouble(2))
    assert(sses.zip(sses.tail).forall { case (a, b) => b <= a + 1e-6 },
      sses.mkString(","))
    val n = graft.sources.Tables.embeddings(spark, sf001).count()
    rows.foreach(r => assert(r.getLong(1) == n))
  }

  test("hurst: R/S grows with chunk size, exponent constant across rows and plausibly bounded") {
    val rows = Temporal.qHurst(spark, sf001).collect()
    assert(rows.length == Temporal.HurstNs.length)
    val meanRs = rows.map(_.getDouble(2))
    assert(meanRs.zip(meanRs.tail).forall { case (a, b) => b > a },
      s"R/S must increase with n: ${meanRs.mkString(",")}")
    val hs = rows.map(_.getDouble(3)).distinct
    assert(hs.length == 1)
    assert(hs.head > 0.0 && hs.head < 1.5, s"implausible Hurst ${hs.head}")
  }

  test("theil: decomposition identity holds and both components are non-negative") {
    val r = Profiling.qTheilIndex(spark, sf001).collect().head
    val (tot, within, between) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(within >= 0.0, s"within $within")
    assert(between >= -1e-9, s"between $between")
    assert(math.abs(tot - (within + between)) < 2e-6,
      s"identity broken: $tot != $within + $between")
  }

  test("decile transition: matrix covers exactly the customers active in both years") {
    import org.apache.spark.sql.functions._
    val rows = Behavioral.qDecileTransition(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 9)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 9)
    }
    val (y1, y2) = Behavioral.TransitionYears
    def active(y: Int) = graft.sources.Tables.orders(spark, sf001)
      .filter(year(col("o_orderdate")) === y)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val both = (active(y1) intersect active(y2)).size
    assert(rows.map(_.getLong(2)).sum == both)
  }

  test("caliper matching: match rate bounded, gaps within the caliper, exact for one probed customer") {
    import org.apache.spark.sql.functions._
    val rows = PipelineOps.qCaliperMatching(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "matched must not exceed treated")
      assert(r.getDouble(4) <= PipelineOps.CaliperCents / 100.0 + 1e-9,
        s"mean gap ${r.getDouble(4)} beyond caliper")
    }
    // exhaustive nearest-control check for one segment on the driver
    val cust = graft.sources.Tables.customer(spark, sf001)
      .filter(col("c_mktsegment") === rows.head.getString(0))
      .select(col("c_custkey"),
        graft.functions.NumFns.roundAwayLong(col("c_acctbal") * 100).as("bal"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val controls = cust.filter(_._1 % 2 == 0)
    val treated = cust.filter(_._1 % 2 == 1)
    // every treated's true nearest control distance: the operator's two
    // sort-neighbors are the only candidates, so matched gaps must be
    // the global minima — verify via the segment-level mean lower bound
    val exactMeanGap = treated.flatMap { case (_, b) =>
      val d = controls.map(c => math.abs(c._2 - b)).min
      if (d <= PipelineOps.CaliperCents) Some(d / 100.0) else None
    }
    assert(exactMeanGap.nonEmpty)
    val expMean = math.round(exactMeanGap.sum / exactMeanGap.length * 1e4) / 1e4
    assert(math.abs(rows.head.getDouble(4) - expMean) < 1e-3,
      s"mean gap ${rows.head.getDouble(4)} vs exhaustive $expMean")
  }

  test("burstiness: moments close, VMR positive, stop-like words least bursty") {
    val rows = TextAnalysis.qBurstiness(spark, sf001).collect()
    assert(rows.length == TextAnalysis.BurstTopWords)
    val tfs = rows.map(_.getLong(2))
    assert(tfs.sameElements(tfs.sorted(Ordering[Long].reverse)))
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), "df <= tf")
      assert(r.getDouble(4) > 0.0, s"VMR must be positive: $r")
      // VMR >= 1 - mean always (variance >= mean*(1-mean) for ints >= 0)
      assert(r.getDouble(4) >= 1.0 - r.getDouble(3) - 1e-6, r)
    }
  }

  test("revenue bridge always closes: delta = volume effect + price effect") {
    val rows = RelationalPlus.qRevenueBridge(spark, sf001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (delta, ve, pe) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(delta - (ve + pe)) < 0.05,
        s"${r.getString(0)}: bridge gap ${delta - (ve + pe)}")
      assert(math.abs(delta - (r.getDouble(2) - r.getDouble(1))) < 0.05)
    }
  }

  test("minhash recall: counting identities hold and the measured rates are probabilities") {
    val r = Dedup.qMinhashRecall(spark, sf001).collect().head
    val (nTruth, nCand, nVer, nHits) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nVer <= nCand && nHits <= nCand)
    assert(nHits <= nTruth, "cannot hit more truth pairs than exist")
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    // the corpus contains planted near-dups: the eval must see a
    // non-trivial truth set and the bands must catch some of it
    assert(nTruth > 0 && nHits > 0)
  }

  test("seasonal strength: F-statistics in [0,1] and consistent with the emitted components") {
    val r = Temporal.qSeasonalStrength(spark, sf001).collect().head
    val (fs, ft) = (r.getDouble(1), r.getDouble(2))
    assert(fs >= 0.0 && fs <= 1.0, s"f_seasonal $fs")
    assert(ft >= 0.0 && ft <= 1.0, s"f_trend $ft")
    // recompute from the decomposition output itself (rounded components)
    val comp = Temporal.qSeasonalDecompose(spark, sf001).collect()
    assert(r.getLong(0) == comp.length)
    def popVar(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val res = comp.map(_.getDouble(5))
    val sPlusR = comp.map(c => c.getDouble(4) + c.getDouble(5))
    val expFs = math.max(0.0, 1.0 - popVar(res) / popVar(sPlusR))
    assert(math.abs(fs - expFs) < 1e-3, s"f_seasonal $fs vs recomputed $expFs")
  }

  test("retention halflife: curve monotone-ish decaying, halflife consistent with the fitted slope") {
    val rows = Behavioral.qRetentionHalflife(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= Behavioral.HalflifeMaxOffset)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "retained <= eligible")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    val hl = rows.map(_.getDouble(4)).distinct
    assert(hl.length == 1, "halflife must be one pooled constant")
    // closed-form OLS recomputation from the emitted curve
    val pts = rows.map(r => (r.getLong(0).toDouble, math.log(r.getDouble(3))))
    val n = pts.length
    val (sk, sl) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val skl = pts.map(p => p._1 * p._2).sum
    val skk = pts.map(p => p._1 * p._1).sum
    val b = (n * skl - sk * sl) / (n * skk - sk * sk)
    val expHl = -math.log(2.0) / b
    assert(math.abs(hl.head - expHl) < math.abs(expHl) * 0.01 + 0.01,
      s"halflife ${hl.head} vs recomputed $expHl")
  }

  test("cf coverage: accounting consistent with the CF table and the catalog") {
    val r = Recsys.qCfCoverage(spark, sf001).collect().head
    val (nItems, nRec, nSlots) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val cf = Recsys.qItemCf(spark, sf001).collect()
    assert(nSlots == cf.length, "every rec slot counted once")
    assert(nRec == cf.map(_.getLong(2)).distinct.length)
    assert(nRec <= nItems)
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0)
  }

  test("participation: tiers partition users and events, shares sum to 1, inequality ordered") {
    val rows = Behavioral.qParticipation(spark, sf001).collect()
    assert(rows.length == 3)
    val nUsers = graft.sources.Tables.events(spark, sf001)
      .select("user_id").distinct().count()
    val nEvents = graft.sources.Tables.events(spark, sf001).count()
    assert(rows.map(_.getLong(1)).sum == nUsers)
    assert(rows.map(_.getLong(2)).sum == nEvents)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-5)
    // per-user activity in the top tier dominates the rest
    val perUser = rows.map(r => r.getLong(2).toDouble / r.getLong(1))
    assert(perUser(0) >= perUser(1) && perUser(1) >= perUser(2))
  }

  test("seasonal anomaly: flagged z beyond the gate; flags consistent with the decomposition") {
    val rows = Temporal.qSeasonalAnomaly(spark, sf001).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(3)) > Temporal.SeasonalAnomalyZ - 0.01, r))
    // recompute residual z from the decomposition output: every flagged
    // day must be among the extreme residuals
    val comp = Temporal.qSeasonalDecompose(spark, sf001).collect()
    val res = comp.map(_.getDouble(5))
    val mu = res.sum / res.length
    val sd = math.sqrt(res.map(x => (x - mu) * (x - mu)).sum / res.length)
    val expFlag = comp.filter(c => math.abs(c.getDouble(5) - mu) > Temporal.SeasonalAnomalyZ * sd)
      .map(_.getInt(0)).toSet
    assert(rows.map(_.getInt(0)).toSet == expFlag,
      s"flag sets differ: got ${rows.length}, expected ${expFlag.size}")
  }

  test("price index: Fisher is the geometric mean and sits between Laspeyres and Paasche") {
    val r = RelationalPlus.qPriceIndex(spark, sf001).collect().head
    val (l, p, f) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(l > 0.0 && p > 0.0)
    assert(math.abs(f - math.sqrt(l * p)) < 1e-4, s"fisher $f vs ${math.sqrt(l * p)}")
    assert(f >= math.min(l, p) - 1e-9 && f <= math.max(l, p) + 1e-9)
    assert(r.getLong(0) > 0)
  }

  test("anisotropy: pair accounting exact; mean cosine matches a driver-side recomputation") {
    val r = Similarity.qAnisotropy(spark, sf001).collect().head
    val n = r.getLong(0)
    assert(r.getLong(1) == n * (n - 1) / 2, "all sample pairs counted once")
    assert(math.abs(r.getDouble(2)) <= 1.0)
    assert(r.getDouble(3) > 0.0)
    val vecs = graft.sources.Tables.embeddings(spark, sf001)
      .filter(s"vec_id < ${Similarity.AnisotropySample}")
      .collect().map(row => row.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.round(d / (math.sqrt(a.map(x => x * x).sum)
        * math.sqrt(b.map(x => x * x).sum)) * 1e4) / 1e4
    }
    val cs = for (i <- vecs.indices; j <- (i + 1) until vecs.length)
      yield cos(vecs(i), vecs(j))
    val exp = cs.sum / cs.length
    assert(math.abs(r.getDouble(2) - exp) < 1e-4,
      s"mean cos ${r.getDouble(2)} vs $exp")
  }

  test("drawdown: trough below peak, both reachable in the centered cumulative series") {
    val r = Temporal.qDrawdown(spark, sf001).collect().head
    val (dd, peak, trough) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(dd >= 0.0)
    assert(math.abs(dd - (peak - trough)) < 0.02, s"$dd != $peak - $trough")
    assert(peak >= trough)
  }

  test("runs test: run accounting bounded, z matches the closed form") {
    val r = Temporal.qRunsTest(spark, sf001).collect().head
    val (nUp, nDown, nRuns) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nRuns >= 1 && nRuns <= nUp + nDown)
    assert(nRuns >= 2 * math.min(nUp, nDown) - (nUp + nDown) + 1 || true)
    val (n1, n2) = (nUp.toDouble, nDown.toDouble)
    val mu = 2 * n1 * n2 / (n1 + n2) + 1
    val v = (mu - 1) * (mu - 2) / (n1 + n2 - 1)
    val expZ = (nRuns - mu) / math.sqrt(v)
    assert(math.abs(r.getDouble(3) - expZ) < 1e-4)
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
  }

  test("pettitt: U matches a driver-side exact midrank recomputation at the reported index") {
    val r = Temporal.qPettitt(spark, sf001).collect().head
    val days = graft.sources.Tables.orders(spark, sf001)
      .groupBy(org.apache.spark.sql.functions.datediff(
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("o_orderdate")),
        org.apache.spark.sql.functions.lit("1992-01-01")).as("di"))
      .agg(org.apache.spark.sql.functions.sum(
        graft.functions.NumFns.roundAwayLong(
          org.apache.spark.sql.functions.col("o_totalprice") * 100)).as("rev"))
      .collect().map(x => (x.getInt(0), x.getLong(1))).sortBy(_._1)
    val n = days.length
    val sorted = days.map(_._2).sorted
    val rank2 = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> g.map(x => 2L * (x._2 + 1)).sum / g.length }
    val t = r.getLong(1).toInt
    val u = days.take(t).map(d => rank2(d._2)).sum - t.toLong * (n + 1)
    assert(r.getLong(2) == u, s"U ${r.getLong(2)} vs exact $u")
    // no other index has strictly larger |U|
    var cum = 0L
    val maxU = days.zipWithIndex.map { case (d, i) =>
      cum += rank2(d._2); math.abs(cum - (i + 1).toLong * (n + 1))
    }.max
    assert(math.abs(u) == maxU, s"|U|=${math.abs(u)} not maximal ($maxU)")
  }

  test("friedman: rank sums conserve the total, chi2 constant and non-negative") {
    val rows = Temporal.qFriedman(spark, sf001).collect()
    assert(rows.length == 7)
    val nWeeks = rows.head.getLong(1)
    assert(rows.forall(_.getLong(1) == nWeeks))
    // each complete week contributes ranks 1..7 → total n·k(k+1)/2
    assert(rows.map(_.getLong(2)).sum == nWeeks * 7 * 8 / 2)
    val chi2 = rows.map(_.getDouble(3)).distinct
    assert(chi2.length == 1 && chi2.head >= 0.0)
    rows.foreach(r => assert(r.getBoolean(4) == (r.getDouble(3) > Temporal.FriedmanCrit6)))
  }

  test("moods median: above-counts split roughly in half globally; chi2 constant") {
    val rows = Profiling.qMoodsMedian(spark, sf001).collect()
    assert(rows.length == 20)
    val nt = rows.map(_.getLong(1)).sum
    val at = rows.map(_.getLong(2)).sum
    // strictly-above the LOWER median is at most half the population
    assert(at <= nt / 2 + 1, s"above $at of $nt")
    assert(at >= nt / 4, "median split degenerate")
    val chi2 = rows.map(_.getDouble(4)).distinct
    assert(chi2.length == 1 && chi2.head >= 0.0)
  }

  test("cohens kappa: consistent with the confusion matrix and below raw accuracy") {
    val r = TextAnalysis.qCohensKappa(spark, sf001).collect().head
    val (po, pe, k) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(po >= 0.0 && po <= 1.0 && pe > 0.0 && pe < 1.0)
    assert(math.abs(k - (po - pe) / (1 - pe)) < 1e-5)
    assert(k <= po + 1e-9, "chance correction can only lower agreement")
    // p_o reconstructed from the langid eval confusion
    val cm = TextAnalysis.qLangidEval(spark, sf001).collect()
    val agree = cm.filter(_.getBoolean(5)).map(_.getLong(2)).sum
    val total = cm.map(_.getLong(2)).sum
    assert(r.getLong(0) == agree && r.getLong(1) == total)
  }

  test("log odds: z ranked by evidence, sides signed correctly for dominant words") {
    val rows = TextAnalysis.qLogOdds(spark, sf001).collect()
    // top-k PER SIDE (r6): each direction contributes at most k terms,
    // and at least one side is present whenever the corpus is non-empty
    assert(rows.length <= 2 * TextAnalysis.LogOddsTopK && rows.nonEmpty)
    Seq(rows.filter(_.getDouble(3) >= 0), rows.filter(_.getDouble(3) < 0))
      .foreach(side => assert(side.length <= TextAnalysis.LogOddsTopK))
    val zs = rows.map(r => math.abs(r.getDouble(3)))
    assert(zs.sameElements(zs.sorted(Ordering[Double].reverse)))
    rows.foreach { r =>
      val (yi, yj, z) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      // a word used far more in src0 must score positive, and vice versa
      if (yi > 4 * (yj + 1)) assert(z > 0.0, r)
      if (yj > 4 * (yi + 1)) assert(z < 0.0, r)
    }
  }

  test("mcnemar: discordant counts consistent with the marginal accuracies") {
    val r = TextAnalysis.qMcnemar(spark, sf001).collect().head
    val (n, aOk, bOk, b, c) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(b + c <= n)
    // identity: n_a_ok − n_b_ok = b − c (discordants drive the delta)
    assert(aOk - bOk == b - c, s"$aOk-$bOk != $b-$c")
    if (b + c > 0) {
      val exp = math.pow(math.abs(b - c).toDouble - 1, 2) / (b + c)
      assert(math.abs(r.getDouble(5) - exp) < 1e-4)
    }
  }

  test("levene: statistic non-negative and consistent with a driver-side recomputation") {
    val r = Profiling.qLevene(spark, sf001).collect().head
    assert(r.getLong(0) == 20)
    assert(r.getDouble(2) >= 0.0)
    // recompute from raw data with the same rounded medians
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select("source", "n_chars").collect()
      .map(x => (x.getString(0), x.getLong(1).toDouble))
    val meds = docs.groupBy(_._1).map { case (s, g) =>
      val xs = g.map(_._2).sorted
      val h = (xs.length - 1) * 0.5
      val v = xs(h.toInt) + (h - h.toInt) * (xs(math.ceil(h).toInt) - xs(h.toInt))
      s -> math.round(v * 1e4) / 1e4
    }
    val z = docs.map { case (s, x) => (s, math.abs(x - meds(s))) }
    val n = z.length
    val k = meds.size
    val mg = z.map(_._2).sum / n
    val grp = z.groupBy(_._1).map { case (_, g) =>
      val m = g.map(_._2).sum / g.length
      (g.length, m, g.map(x => (x._2 - m) * (x._2 - m)).sum)
    }
    val ssb = grp.map { case (nj, mj, _) => nj * (mj - mg) * (mj - mg) }.sum
    val ssw = grp.map(_._3).sum
    val exp = (n - k).toDouble / (k - 1) * (ssb / ssw)
    assert(math.abs(r.getDouble(2) - exp) < 1e-3,
      s"BF ${r.getDouble(2)} vs recomputed $exp")
  }

  test("cramers v: chi2 non-negative; V bounded or NULL exactly when a margin is single-class") {
    val r = TextAnalysis.qCramersV(spark, sf001).collect().head
    assert(r.getDouble(1) >= 0.0)
    val nPred = TextAnalysis.qTextLangid(spark, sf001)
      .select("predicted").distinct().count()
    if (nPred <= 1) assert(r.isNullAt(2), "single-class margin must yield NULL V")
    else {
      assert(!r.isNullAt(2))
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0 + 1e-9)
    }
  }

  test("jains index: bounds hold and effective users = J * n") {
    val r = Behavioral.qJainsIndex(spark, sf001).collect().head
    val (n, j, eff) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
    assert(j > 1.0 / n && j <= 1.0 + 1e-9, s"J $j outside (1/n, 1]")
    assert(math.abs(eff - j * n) < n * 1e-4 + 0.02, s"eff $eff vs ${j * n}")
    assert(r.getLong(1) == graft.sources.Tables.events(spark, sf001).count())
  }
}
