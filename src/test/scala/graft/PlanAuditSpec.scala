package graft

/** Plan audit over the full query inventory: structural red flags that
  * would sink a 100 TB run must not appear in any operator's plan.
  */
class PlanAuditSpec extends SparkSpec {

  /** Every query's frame, built once: building one runs its eager
    * checkpoints, and each walk below reads the same frames.
    */
  private lazy val frames: Map[String, org.apache.spark.sql.DataFrame] =
    SparkEntry.queries.map { case (name, fn) => name -> fn(spark, sf001) }

  private lazy val plans: Map[String, String] =
    frames.map { case (name, df) => name -> df.queryExecution.executedPlan.toString }

  test("no query plans a CartesianProduct") {
    // unhinted cartesians explode at scale; the deliberate tiny
    // cross-joins (manifest expansion, IVF centroids) must arrive as
    // BroadcastNestedLoopJoin over a broadcast side instead
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("every lineitem query pushes filters or prunes columns at the scan") {
    val p = plans("q_filter_pushdown")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"), p)
    // narrow projection reaches the reader
    assert(p.contains("ReadSchema: struct<l_orderkey"), p)
  }

  test("fact-dimension joins broadcast the dimension, never the fact") {
    val p = plans("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"))
    // lineitem (the fact) must not appear under a BroadcastExchange:
    // every broadcast subtree here reads customer/supplier/nation/region
    p.split("BroadcastExchange").drop(1).foreach { b =>
      val firstScan = b.split("FileScan parquet").drop(1).headOption.getOrElse("")
        .linesIterator.take(1).mkString
      assert(!firstScan.contains("lineitem.parquet"), "fact table broadcast detected")
    }
  }

  test("corpus self-joins are shuffle joins, not broadcasts") {
    Seq("q_dedup_ngram_jaccard", "q_dedup_minhash", "q_dedup_containment",
        "q_bigram_lm", "q_incremental_dedup", "q_ngram_novelty",
        "q_semdedup").foreach { q =>
      assert(plans(q).contains("ShuffledHashJoin"), s"$q lost its shuffle_hash hint")
    }
  }

  test("derived-corpus sides never broadcast in the dedup/LM family") {
    // a BroadcastExchange whose subtree computes shingles/bigrams means
    // Catalyst is building a derived corpus on the driver — the r1 cliff
    Seq("q_dedup_containment", "q_bigram_lm", "q_soft_dedup").foreach { q =>
      plans(q).split("BroadcastExchange").drop(1).foreach { b =>
        assert(!b.contains("documents.parquet"),
          s"$q broadcasts a subtree that reads the corpus")
      }
    }
  }

  test("the DSv2 synth scan is pruned to the one aggregated column") {
    // SupportsPushDownRequiredColumns must narrow the generator: the
    // BatchScan's output carries id and nothing else (the DSv2 analog
    // of parquet projection pruning reaching the reader)
    val p = plans("q_synth_pushdown")
    assert(p.contains("BatchScan"), s"no DSv2 scan in plan:\n$p")
    val scanLine = p.linesIterator.find(_.contains("BatchScan")).get
    assert(scanLine.contains("id") && !scanLine.contains("amount")
      && !scanLine.contains("category") && !scanLine.contains("user"),
      s"synth scan not pruned to id: $scanLine")
  }

  test("robust-stats frames broadcast back onto the corpus scan") {
    // med/mad are #sources-row aggregates; the corpus side must stay
    // un-shuffled (no exchange between its scan and the final joins)
    val p = plans("q_length_outliers")
    assert(p.contains("BroadcastHashJoin"), "stats frames must broadcast")
  }

  test("scan-side curation operators plan no joins or aggregations") {
    // pure projections: one scan, zero exchanges beyond the final sort
    Seq("q_text_normalize", "q_text_redact", "q_quality_score",
        "q_stratified_sample", "q_char_classes").foreach { q =>
      val p = plans(q)
      assert(!p.contains("Join"), s"$q plans a join")
      assert(!p.contains("HashAggregate"), s"$q plans an aggregation")
    }
  }

  test("unpartitioned windows only ever run over dimension-sized aggregates") {
    // Window with no partitionSpec funnels its whole input through ONE
    // task (Spark logs "Moving all data to a single partition"). That is
    // a scale-killer over raw rows, but fine over a frame that is itself
    // a grouped aggregate (buckets / sources / top-k words — dimension-
    // sized by construction). Assert the invariant for every query: any
    // partitionless logical Window must have an Aggregate below it.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    frames.foreach { case (name, df) =>
      df.queryExecution.optimizedPlan.foreach {
        case w: LWindow if w.partitionSpec.isEmpty =>
          assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
            s"$name plans a single-partition Window over raw (non-aggregated) rows")
        case _ =>
      }
    }
  }

  test("every literal row_number bound over a partitioned window prunes through WindowGroupLimit") {
    // Spark infers the map-side limit only for bounds up to
    // spark.sql.optimizer.windowGroupLimitThreshold (GraftSession.confs);
    // a rank cap raised above it would lose the pruning without this
    import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo,
      Expression, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, WindowGroupLimit,
      Window => LWindow}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var bounded = 0
    frames.foreach { case (name, df) =>
      df.queryExecution.optimizedPlan.foreach {
        case Filter(cond, w: LWindow) if w.partitionSpec.nonEmpty =>
          val rns = w.windowExpressions.collect {
            case a @ Alias(WindowExpression(_: RowNumber, _), _) => a.toAttribute
          }
          val isBound = conjuncts(cond).exists {
            case LessThanOrEqual(a, _: Literal) => rns.exists(_.semanticEquals(a))
            case LessThan(a, _: Literal) => rns.exists(_.semanticEquals(a))
            case EqualTo(a, _: Literal) => rns.exists(_.semanticEquals(a))
            case _ => false
          }
          if (isBound) {
            bounded += 1
            assert(w.child.isInstanceOf[WindowGroupLimit],
              s"$name bounds a row_number without a WindowGroupLimit:\n$w")
          }
        case _ =>
      }
    }
    assert(bounded > 0, "the walk found no row_number bound")
  }

  test("partitionless windows never rank an entity-domain frame") {
    // The r5 escape class: "window over an Aggregate" is necessary but
    // not sufficient — an aggregate GROUPED BY an entity key (customer,
    // user, word, item, vector) grows with the entity domain, and a
    // partitionless rank over it still funnels a 10⁸-row frame through
    // one task at 100 TB. A partitionless window is only sound over a
    // frame bounded by construction: a value-domain bucket/cell frame,
    // a calendar frame, or an explicitly limited top-k. Enforced here:
    // the first Aggregate under any partitionless Window must group by
    // non-entity keys, unless a Limit sits between window and aggregate.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LocalLimit, Window => LWindow}
    val entityKey =
      ("(?i)(custkey|user_?id|suppkey|partkey|orderkey|nationkey|doc_?id|" +
        "vec_?id|neighbor|event_id|session|^word$|^w$|^w1$|^w2$|^part$|" +
        "^cust$|^item$|^pa$|^pb$)").r
    frames.foreach { case (name, df) =>
      df.queryExecution.optimizedPlan.foreach {
        case w: LWindow if w.partitionSpec.isEmpty =>
          val limited = w.child.collectFirst {
            case _: GlobalLimit => (); case _: LocalLimit => ()
          }.isDefined
          if (!limited) {
            val agg = w.child.collectFirst { case a: Aggregate => a }
            assert(agg.isDefined,
              s"$name plans a partitionless Window over raw rows")
            val keys = agg.get.groupingExpressions
              .flatMap(_.references.map(_.name).toSeq)
            keys.foreach { k =>
              assert(entityKey.findFirstIn(k).isEmpty,
                s"$name plans a partitionless window over an entity-keyed " +
                  s"frame (grouping key '$k' — rank it from counts instead)")
            }
          }
        case _ =>
      }
    }
  }

  test("entity-domain fact-derived frames never broadcast, engine-wide") {
    // The r12 structural form of the r1-cliff doctrine. The old test
    // above checks three dedup/LM queries by name; q_burst_detect
    // escaped it by broadcasting a per-USER median frame derived from
    // events (one row per user — ~10⁸ rows at 100×, an executor OOM).
    // Here EVERY query's physical plan is walked: a BroadcastExchange
    // subtree that aggregates a FACT table (lineitem/orders/events/
    // documents/embeddings) GROUPED BY an entity key is a failure,
    // unless a limit bounds the frame between the exchange and the
    // aggregate (top-k candidates are k·shards rows by construction).
    // Value-domain buckets, calendar frames, per-source stats and 1-row
    // scalars all pass: their grouping keys are not entity keys.
    import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec,
      CollectLimitExec, LocalLimitExec, GlobalLimitExec,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val entityKey =
      ("(?i)(custkey|user_?id|suppkey|partkey|orderkey|nationkey|doc_?id|" +
        "vec_?id|neighbor|event_id|session|^word$|^w$|^w1$|^w2$|^part$|" +
        "^cust$|^item$|^pa$|^pb$)").r
    val factScan = "(lineitem|orders|events|documents|embeddings)\\.parquet".r
    def subtreeHasFactScan(p: SparkPlan): Boolean = {
      var found = false
      def visit(n: SparkPlan): Unit = {
        n match {
          case f: FileSourceScanExec
              if factScan.findFirstIn(f.metadata.getOrElse("Location", ""))
                .isDefined => found = true
          case _ =>
        }
        n.children.foreach(visit)
        n match { case a: AdaptiveSparkPlanExec => visit(a.executedPlan); case _ => }
      }
      visit(p)
      found
    }
    // A frame keyed by an entity id is still bounded BY CONSTRUCTION
    // when a literal bound on that id sits in the subtree (the ANN/eval
    // query sets: `vec_id < 10` is 10 rows at ANY corpus size, and
    // broadcasting the query set against the corpus is exactly the
    // right 100 TB plan; same for q_gapfill's `user_id < GapfillUsers`
    // demo slice). Only upper bounds / equality / IN against literals
    // qualify — a modulo or fraction filter scales with the data and
    // does NOT bound. (Auto-broadcasts of raw un-aggregated fact slices
    // are left to Catalyst: scan-size stats are accurate byte counts,
    // so at real scale those frames exceed the threshold and re-plan as
    // shuffles; the hazard this test closes is the entity AGGREGATE,
    // whose small test-scale estimate hides unbounded growth.)
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
      EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan,
      LessThanOrEqual, Literal}
    def attrIs(e: Expression, key: String) = e match {
      case a: Attribute => a.name == key
      case _ => false
    }
    def boundsKey(cond: Expression, key: String): Boolean = cond match {
      case And(l, r) => boundsKey(l, key) || boundsKey(r, key)
      case LessThan(a, _: Literal) if attrIs(a, key) => true
      case LessThanOrEqual(a, _: Literal) if attrIs(a, key) => true
      case GreaterThan(_: Literal, a) if attrIs(a, key) => true
      case GreaterThanOrEqual(_: Literal, a) if attrIs(a, key) => true
      case EqualTo(a, _: Literal) if attrIs(a, key) => true
      case EqualTo(_: Literal, a) if attrIs(a, key) => true
      case In(a, vs) if attrIs(a, key) && vs.forall(_.isInstanceOf[Literal]) => true
      case _ => false
    }
    def hasBoundingFilter(p: SparkPlan, key: String): Boolean = {
      var found = false
      def visit(n: SparkPlan): Unit = {
        n match {
          case f: org.apache.spark.sql.execution.FilterExec
              if boundsKey(f.condition, key) => found = true
          case _ =>
        }
        n.children.foreach(visit)
        n match { case a: AdaptiveSparkPlanExec => visit(a.executedPlan); case _ => }
      }
      visit(p)
      found
    }
    // The broadcast frame's cardinality is governed by the TOPMOST
    // aggregate on each path from the exchange: descent stops there
    // (q_heavy_hitters broadcasts a per-TYPE total computed on top of a
    // per-user partial — the broadcast frame is type-sized and fine).
    // Descent also stops at limits: whatever sits below one is bounded.
    def offendingAggs(p: SparkPlan): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      def visit(n: SparkPlan): Unit = {
        n match {
          case _: CollectLimitExec | _: LocalLimitExec | _: GlobalLimitExec |
              _: TakeOrderedAndProjectExec => return
          case agg: BaseAggregateExec =>
            val keys = agg.groupingExpressions
              .flatMap(e => e.name +: e.references.map(_.name).toSeq)
            val hits = keys.filter(k => entityKey.findFirstIn(k).isDefined)
            if (hits.nonEmpty && subtreeHasFactScan(agg)) out += hits.head
            return // the frame above this point has THIS aggregate's keys
          case _ =>
        }
        n.children.foreach(visit)
        n match { case a: AdaptiveSparkPlanExec => visit(a.executedPlan); case _ => }
      }
      visit(n = p)
      out.toSeq
    }
    val offenders = frames.toSeq.flatMap { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      val broadcasts = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
      def visit(n: SparkPlan): Unit = {
        n match { case b: BroadcastExchangeExec => broadcasts += b; case _ => }
        n.children.foreach(visit)
        n.subqueries.foreach(visit)
        n match { case a: AdaptiveSparkPlanExec => visit(a.executedPlan); case _ => }
      }
      visit(plan)
      broadcasts.flatMap(b => offendingAggs(b)
        .filterNot(k => hasBoundingFilter(b, k))
        .headOption.map(k => s"$name('$k')"))
    }.distinct
    assert(offenders.isEmpty,
      s"queries broadcasting a fact-derived ENTITY-domain aggregate " +
        s"(an entity frame grows with the data — use .hint(\"shuffle_hash\") " +
        s"like q_burst_detect): ${offenders.mkString(", ")}")
  }

  test("no query HINT-forces a broadcast of an unbounded table") {
    // r13 (r12 verdict ask #3). The engine-wide test above catches
    // entity AGGREGATES under a BroadcastExchange, but it deliberately
    // exempts raw dimension slices on the accurate-scan-stats argument:
    // Catalyst's own threshold re-plans an over-threshold scan as a
    // shuffle at real scale. An explicit broadcast() HINT defeats
    // exactly that safety valve — Catalyst honors the hint at ANY size,
    // and customer at 100 TB is ~10⁹ rows (so are part and supplier).
    // So: walk every query's ANALYZED plan (hints still visible as
    // ResolvedHint; the optimizer erases them into join strategies) and
    // fail on any broadcast hint whose subtree reads a table that grows
    // with the data, unless the subtree bounds its cardinality BY
    // CONSTRUCTION before the hint: a literal bound on an entity key
    // (the ANN query sets), a LIMIT, or an aggregate whose grouping
    // keys are all value-domain (per-source stats, price buckets,
    // 1-row scalars). nation/region are genuinely bounded dimensions
    // and stay broadcastable.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      GlobalLimit, LocalLimit, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val entityKey =
      ("(?i)(custkey|user_?id|suppkey|partkey|orderkey|nationkey|doc_?id|" +
        "vec_?id|neighbor|event_id|session|^word$|^w$|^w1$|^w2$|^part$|" +
        "^cust$|^item$|^pa$|^pb$)").r
    val unbounded =
      "(customer|part|supplier|lineitem|orders|events|documents|embeddings)\\.parquet".r
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
      EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan,
      LessThanOrEqual, Literal}
    def isEntityAttr(e: Expression) = e match {
      case a: Attribute => entityKey.findFirstIn(a.name).isDefined
      case _ => false
    }
    def boundsEntity(cond: Expression): Boolean = cond match {
      case And(l, r) => boundsEntity(l) || boundsEntity(r)
      case LessThan(a, _: Literal) if isEntityAttr(a) => true
      case LessThanOrEqual(a, _: Literal) if isEntityAttr(a) => true
      case GreaterThan(_: Literal, a) if isEntityAttr(a) => true
      case GreaterThanOrEqual(_: Literal, a) if isEntityAttr(a) => true
      case EqualTo(a, _: Literal) if isEntityAttr(a) => true
      case EqualTo(_: Literal, a) if isEntityAttr(a) => true
      case In(a, vs) if isEntityAttr(a) && vs.forall(_.isInstanceOf[Literal]) => true
      case _ => false
    }
    // true when the subtree under a broadcast hint can grow with the
    // data: descend until a bounding construct or a scan is reached
    def growsWithData(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => false
      case Filter(cond, child) =>
        if (boundsEntity(cond)) false else growsWithData(child)
      case a: Aggregate =>
        val keys = a.groupingExpressions
          .flatMap(e => e.references.map(_.name).toSeq)
        // entity-keyed aggregate: as large as the entity domain — grows;
        // value-domain keys (or none): bounded regardless of data size
        if (keys.exists(k => entityKey.findFirstIn(k).isDefined))
          a.children.exists(growsWithData)
        else false
      case r: LogicalRelation =>
        unbounded.findFirstIn(r.relation.toString).isDefined
      case other => other.children.exists(growsWithData)
    }
    val offenders = frames.toSeq.flatMap { case (name, df) =>
      val analyzed = df.queryExecution.analyzed
      val bad = scala.collection.mutable.ArrayBuffer.empty[String]
      analyzed.foreach {
        case h: ResolvedHint
            if h.hints.strategy.exists(_.toString.toLowerCase.contains("broadcast")) &&
              growsWithData(h.child) =>
          bad += name
        case _ =>
      }
      bad.distinct
    }
    assert(offenders.isEmpty,
      s"queries hint-forcing a broadcast of a frame whose cardinality " +
        s"grows with the data (drop the hint — Catalyst's threshold " +
        s"degrades it to a shuffle at scale — or pin shuffle_hash): " +
        s"${offenders.distinct.mkString(", ")}")
  }

  test("r4 heavy shapes hold their audited plan structure (PlanReport)") {
    import graft.plans.PlanReport
    // q_item_cf: one customer-keyed exchange feeds four consumers; the
    // tree shows the exchange per consumer pre-AQE (reuse collapses them
    // at runtime) — the guard is the ceiling and the absences.
    val cf = PlanReport.of(SparkEntry.queries("q_item_cf")(spark, sf001))
    assert(cf.shuffles <= 12 && cf.broadcasts == 0 && cf.cartesianProducts == 0,
      s"q_item_cf plan drifted: ${cf.summary}")
    // q_attribution: shuffle_hash both sides — the event fact must never
    // broadcast, and every parquet scan keeps its pushdown.
    val at = PlanReport.of(SparkEntry.queries("q_attribution")(spark, sf001))
    assert(at.shuffles <= 12 && at.broadcasts == 0 && at.cartesianProducts == 0,
      s"q_attribution plan drifted: ${at.summary}")
    assert(at.parquetScans > 0 && at.scansWithPushdown == at.parquetScans,
      s"q_attribution lost scan pushdown: ${at.summary}")
    // q_pca_power_iter: the only shuffles carry the dims²-bounded
    // quantized moment cells; the single broadcast is the 1-row norm.
    val pca = PlanReport.of(SparkEntry.queries("q_pca_power_iter")(spark, sf001))
    assert(pca.shuffles <= 2 && pca.broadcasts <= 1 && pca.cartesianProducts == 0,
      s"q_pca_power_iter plan drifted: ${pca.summary}")
  }

  test("r5 heavy shapes hold their audited plan structure (PlanReport)") {
    import graft.plans.PlanReport
    // q_dup_span: the span frame joins the dup-key frame shuffle_hash
    // (both fact-derived — broadcast would be the r1 cliff) and nothing
    // is cartesian; the ×8 cover explode happens after the key join.
    val ds = PlanReport.of(SparkEntry.queries("q_dup_span")(spark, sf001))
    assert(ds.cartesianProducts == 0, s"q_dup_span: ${ds.summary}")
    val dsPlan = SparkEntry.queries("q_dup_span")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(dsPlan.contains("ShuffledHashJoin"), "q_dup_span lost shuffle_hash")
    // q_hits: the 1-row max broadcasts; the edge-frame joins stay
    // shuffle-side; no cartesian.
    val ht = PlanReport.of(SparkEntry.queries("q_hits")(spark, sf001))
    assert(ht.cartesianProducts == 0 && ht.broadcasts <= 2,
      s"q_hits plan drifted: ${ht.summary}")
    // q_two_phase_topk: candidates broadcast into the semi join (they
    // are k·shards rows by construction); the partial-count frame never
    // broadcasts.
    val tp = PlanReport.of(SparkEntry.queries("q_two_phase_topk")(spark, sf001))
    assert(tp.cartesianProducts == 0, s"q_two_phase_topk: ${tp.summary}")
    val tpPlan = SparkEntry.queries("q_two_phase_topk")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(tpPlan.contains("BroadcastHashJoin"),
      "q_two_phase_topk candidates must broadcast into the recount semi join")
    // q_shapley_attribution: after the one user_id exchange every frame
    // is constant-sized; the mask/conv join is shuffle-side.
    val sh = PlanReport.of(SparkEntry.queries("q_shapley_attribution")(spark, sf001))
    assert(sh.cartesianProducts == 0, s"q_shapley_attribution: ${sh.summary}")
  }

  test("r6 rank-from-counts rewrites hold their audited plan structure") {
    import graft.plans.PlanReport
    // The five r5 perf-weak queries + q_abc_class (same class, caught
    // by the entity-key invariant above): the structural ban lives in
    // that invariant; here guard the supporting shape.
    Seq("q_conformal", "q_decile_transition", "q_zipf_fit", "q_abc_class")
      .foreach { q =>
        val r = PlanReport.of(SparkEntry.queries(q)(spark, sf001))
        assert(r.cartesianProducts == 0, s"$q: ${r.summary}")
      }
    // q_participation needs NO rank at all — count-of-counts cells
    // answer the tier cuts arithmetically.
    val pp = SparkEntry.queries("q_participation")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!pp.contains("row_number"), "q_participation must not rank users")
    // q_cf_coverage consumes the memoized CF table: exactly ONE parquet
    // scan (the lineitem catalog count) — more means it re-derives
    // q_item_cf; and its Gini is rank-free.
    val cc = SparkEntry.queries("q_cf_coverage")(spark, sf001)
    val ccr = PlanReport.of(cc)
    assert(ccr.parquetScans == 1,
      s"q_cf_coverage re-derives the CF table: ${ccr.summary}")
    assert(!cc.queryExecution.executedPlan.toString.contains("row_number"),
      "q_cf_coverage must compute its Gini from count-of-counts cells")
  }

  test("r5 statistical-family heavies hold their audited plan structure") {
    import graft.plans.PlanReport
    // q_cycle_time: one orderkey-keyed join+agg feeds the shared exact-
    // percentile machinery; nothing cartesian, scans keep pushdown.
    val ct = PlanReport.of(SparkEntry.queries("q_cycle_time")(spark, sf001))
    assert(ct.cartesianProducts == 0, s"q_cycle_time: ${ct.summary}")
    // q_ols_fit: a single scan collapsing straight into one grouped
    // moment aggregate — one aggregate shuffle plus the ≤|flags|-row
    // output sort, no joins, no windows.
    val ols = PlanReport.of(SparkEntry.queries("q_ols_fit")(spark, sf001))
    assert(ols.shuffles <= 2 && ols.parquetScans == 1 &&
      ols.cartesianProducts == 0 && ols.unpartitionedWindows == 0,
      s"q_ols_fit drifted from its one-scan/one-aggregate shape: ${ols.summary}")
    // q_assortativity: hub-capped edge frame self-joins shuffle-side
    // (fact-derived sides must never broadcast).
    val as = SparkEntry.queries("q_assortativity")(spark, sf001)
    assert(PlanReport.of(as).cartesianProducts == 0, "q_assortativity cartesian")
    assert(as.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      "q_assortativity lost its shuffle_hash edge joins")
    // q_kcore peels iteratively through localCheckpoints, so its final
    // plan is just the closing aggregate — guard that it stays that way
    // (a join or window reappearing means the loop stopped materializing).
    val kc = PlanReport.of(SparkEntry.queries("q_kcore")(spark, sf001))
    assert(kc.cartesianProducts == 0 && kc.unpartitionedWindows == 0,
      s"q_kcore: ${kc.summary}")
  }

  test("centroid averaging partial-aggregates before its single shuffle") {
    val p = plans("q_embed_centroids")
    assert(p.contains("partial_count") || p.contains("partial_avg"),
      "centroid agg lost its map-side combine")
    assert(!p.contains("CollectList") && !p.contains("collect_list"),
      "centroids must aggregate cells, not collect vectors")
  }

  test("round-5 continuation heavy shapes hold their audited structure (PlanReport)") {
    import graft.plans.PlanReport
    // q_common_neighbors (r10 shape): degrees attach shuffle_hash
    // (fact-derived — broadcast would drive the capped join through the
    // driver), pairs come from the neighbor-list combination explode
    // (NOT an edge self-join), and the collect_list groupBy must reuse
    // the join's hash partitioning — so exactly ONE ShuffledHashJoin
    // and no cartesian anywhere.
    val cn = PlanReport.of(SparkEntry.queries("q_common_neighbors")(spark, sf001))
    assert(cn.cartesianProducts == 0, s"q_common_neighbors: ${cn.summary}")
    assert(plans("q_common_neighbors").contains("ShuffledHashJoin"),
      "q_common_neighbors lost its shuffle_hash degree join")
    assert(!plans("q_common_neighbors").contains("SortMergeJoin"),
      "q_common_neighbors grew a second (sort-merge) join — the pair " +
        "stream must come from the combination explode, not a self-join")
    // q_minhash_recall: both index frames (bands, blocked-exact) join
    // shuffle-side; the only broadcast is the 1-row truth count.
    val mr = PlanReport.of(SparkEntry.queries("q_minhash_recall")(spark, sf001))
    assert(mr.cartesianProducts == 0 && mr.broadcasts <= 1,
      s"q_minhash_recall: ${mr.summary}")
    assert(plans("q_minhash_recall").contains("ShuffledHashJoin"),
      "q_minhash_recall lost its shuffle_hash index joins")
    // q_caliper_matching: the control-index joins are key-equi joins of
    // entity-bounded frames — no pair blow-up, no cartesian.
    val cm = PlanReport.of(SparkEntry.queries("q_caliper_matching")(spark, sf001))
    assert(cm.cartesianProducts == 0, s"q_caliper_matching: ${cm.summary}")
    // q_silhouette / q_elbow_sse: centroid frames broadcast; the corpus
    // is never on a broadcast side.
    Seq("q_silhouette", "q_elbow_sse").foreach { q =>
      val p = plans(q)
      p.split("BroadcastExchange").drop(1).foreach { b =>
        val firstScan = b.split("FileScan parquet").drop(1).headOption
          .getOrElse("").linesIterator.take(1).mkString
        assert(!firstScan.contains("embeddings.parquet") ||
          b.contains("LessThan(vec_id,"),
          s"$q broadcasts the full embedding corpus")
      }
    }
  }

  test("r7 heavy shapes hold their audited plan structure (PlanReport)") {
    import graft.plans.PlanReport
    // q_component_sizes: CC runs through localCheckpoints, so the final
    // plan is label aggregation only — no cartesian, no re-derived pair
    // join may reappear.
    val cs = PlanReport.of(SparkEntry.queries("q_component_sizes")(spark, sf001))
    assert(cs.cartesianProducts == 0 && cs.unpartitionedWindows == 0,
      s"q_component_sizes: ${cs.summary}")
    // q_dedup_threshold_sweep: ONE scored pair frame (localCheckpoint)
    // serves every threshold — the plan must not re-run the shingle
    // pipeline per threshold (no documents scan may survive).
    val ts = SparkEntry.queries("q_dedup_threshold_sweep")(spark, sf001)
    assert(!ts.queryExecution.executedPlan.toString.contains("documents.parquet"),
      "q_dedup_threshold_sweep re-derives the corpus per threshold")
    // q_trimmed_mean: rank-range arithmetic over cells — windows stay
    // partitioned by the priority key, never a global row sort.
    val tm = PlanReport.of(SparkEntry.queries("q_trimmed_mean")(spark, sf001))
    assert(tm.cartesianProducts == 0 && tm.unpartitionedWindows == 0,
      s"q_trimmed_mean: ${tm.summary}")
    // q_mann_kendall: the i<j pair join runs over the calendar-bounded
    // day AGGREGATE with one side broadcast (BNLJ) — a cartesian or a
    // fact-level pair join would be the scale cliff.
    val mk = SparkEntry.queries("q_mann_kendall")(spark, sf001)
    val mkp = mk.queryExecution.executedPlan.toString
    assert(PlanReport.of(mk).cartesianProducts == 0, "q_mann_kendall cartesian")
    assert(mkp.contains("BroadcastNestedLoopJoin"),
      "q_mann_kendall pair join must be broadcast-NLJ over the day frame")
    // q_ann_probe_curve: one candidate frame (localCheckpoint) serves
    // all depths; probe side broadcasts, corpus side never does.
    val pc = PlanReport.of(SparkEntry.queries("q_ann_probe_curve")(spark, sf001))
    assert(pc.cartesianProducts == 0, s"q_ann_probe_curve: ${pc.summary}")
    // q_median_ci: bucket histogram + single-bucket refinement — no
    // cartesian, and the only windows sit over bounded cell frames
    // (the suite-wide window invariant covers their placement).
    val mc = PlanReport.of(SparkEntry.queries("q_median_ci")(spark, sf001))
    assert(mc.cartesianProducts == 0, s"q_median_ci: ${mc.summary}")
  }

  test("q_pagerank_iter derives its edge list once, with no eager checkpoint") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // the edge list feeds the out-degree count and the scatter join; AQE
    // must run its orders⋈lineitem derivation in one stage (reusing the
    // distinct exchange for the second consumer), never once per consumer
    val df = SparkEntry.queries("q_pagerank_iter")(spark, sf001)
    df.collect()
    val root = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    def stages(p: SparkPlan): Seq[QueryStageExec] =
      p.collect { case s: QueryStageExec => s }.flatMap(s => s +: stages(s.plan))
    val all = stages(root)
    val lineitemStages = all.count(_.plan.collectFirst {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") => f
    }.nonEmpty)
    val edgesReused = all.exists(_.plan match {
      case r: ReusedExchangeExec => r.output.map(_.name) == Seq("c", "su")
      case _ => false
    })
    assert(lineitemStages == 1 || edgesReused,
      s"lineitem read in $lineitemStages stages and no reused edge exchange:\n$root")
  }

  /** Queries whose derived frame is read by two or more branches of one
    * plan and shared by Spark's own exchange reuse, with no eager
    * localCheckpoint to materialize it while the frame is built.
    */
  private val reuseShared = Seq(
    "q_triangle_count", "q_dedup_prefix", "q_source_vocab_overlap", "q_window_pmi",
    "q_permutation_test", "q_gtest", "q_brunner_munzel", "q_kpss", "q_t_closeness",
    "q_distance_corr", "q_hellinger", "q_neyman_allocation", "q_cooks_distance",
    "q_pot_gpd", "q_entropy_rate", "q_bowker_test", "q_dunn_posthoc",
    "q_session_gap_sensitivity", "q_ivf_balance", "q_cluster_agreement",
    "q_rfm_segments", "q_chi2_independence", "q_autocorr", "q_psi_drift",
    "q_seasonal_decompose", "q_forecast_eval", "q_watermark_audit", "q_join_skew",
    "q_top_supplier", "q_important_stock", "q_cuped", "q_hits", "q_tail_index",
    "q_shapley_attribution", "q_coverage_curve", "q_crawl_schedule",
    "q_clustering_coeff", "q_dup_flow", "q_sax", "q_growth_accounting", "q_simpson",
    "q_seasonal_strength", "q_retention_halflife", "q_seasonal_anomaly", "q_pettitt",
    "q_log_odds", "q_cramers_v")

  test("multi-reader frames are built without a job") {
    // q_attribution_windows folds its per-purchase frame in one
    // aggregate: one reader, no exchange to reuse
    (reuseShared :+ "q_attribution_windows").foreach { q =>
      frames(q) // warm: table schemas
      assert(jobsDuring(SparkEntry.queries(q)(spark, sf001)) == 0,
        s"$q runs a job while its frame is built")
    }
  }

  test("multi-reader frames execute through a reused exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def reused(p: SparkPlan): Boolean = p.exists {
      case _: ReusedExchangeExec => true
      case a: AdaptiveSparkPlanExec => reused(a.executedPlan)
      case q: QueryStageExec => reused(q.plan)
      case n => n.subqueries.exists(reused)
    }
    // the shared frames of q_soft_dedup and q_dedup_threshold_sweep sit
    // above a checkpoint that stays (the component loop, the shingle set)
    (reuseShared ++ Seq("q_soft_dedup", "q_dedup_threshold_sweep")).foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf001)
      df.collect()
      assert(reused(df.queryExecution.executedPlan),
        s"$q executes without a reused exchange:\n${df.queryExecution.executedPlan}")
    }
  }
}
