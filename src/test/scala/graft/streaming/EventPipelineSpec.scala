package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Relational
import graft.sources.Tables

/** Streaming operators must converge to the batch answers: we stream the
  * same events parquet through a file source into a memory sink and
  * compare with the batch mirrors.
  */
class EventPipelineSpec extends SparkSpec {

  test("streamed hourly counts equal the batch aggregation") {
    val stream = EventPipeline.streamEventsFrom(spark, sf001)
    val q = EventPipeline.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT hour_epoch, event_type, n_events FROM hourly_test ORDER BY hour_epoch, event_type")
        .collect()
      val batch = Relational.qEventsHourly(spark, sf001)
        .select(col("hour_epoch"), col("event_type"), col("n_events"))
        .collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (sRow, b) => assert(sRow == b) }
    } finally q.stop()
  }

  test("native session windows reproduce the batch gap sessionization") {
    val stream = EventPipeline.streamEventsFrom(spark, sf001)
    val q = EventPipeline.sessionWindows(stream)
      .writeStream.format("memory").queryName("sesswin_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // per-user rollup of the emitted session windows must equal the
      // batch lag/cumsum sessionization (same 30-min gap)
      val streamed = spark.sql(
        """SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n_events
          |FROM sesswin_test GROUP BY user_id ORDER BY user_id""".stripMargin)
        .collect()
      val batch = Relational.qSessionize(spark, sf001).collect()
      assert(streamed.length == batch.length && streamed.length > 0)
      streamed.zip(batch).foreach { case (sw, b) =>
        assert(sw.getLong(0) == b.getLong(0) && sw.getLong(1) == b.getLong(1)
          && sw.getLong(2) == b.getLong(2), s"$sw != $b")
      }
      // window span sanity: every session is [first event, last event + gap]
      val bad = spark.sql(
        "SELECT count(*) FROM sesswin_test WHERE session_end_us - session_start_us < 1800000000")
        .collect()(0).getLong(0)
      assert(bad == 0L, "a session window shorter than the gap is impossible")
    } finally q.stop()
  }

  test("stream-stream interval join converges to the batch inner join") {
    val joined = EventPipeline.purchaseErrorJoin(
      EventPipeline.streamEventsFrom(spark, sf001),
      EventPipeline.streamEventsFrom(spark, sf001))
    val q = joined.writeStream.format("memory").queryName("pe_join_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT count(*) FROM pe_join_test").collect()(0).getLong(0)
      // batch mirror: same equi-key + interval condition, inner join
      val ev = Tables.events(spark, sf001)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("us").as("p_us"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("eu"), col("us").as("e_us"))
      val batch = p.join(e, col("pu") === col("eu")
        && col("e_us") > col("p_us")
        && col("e_us") <= col("p_us") + lit(3600000000L)).count()
      assert(streamed == batch)
      assert(batch > 0L)
    } finally q.stop()
  }

  test("streaming anomaly monitor reproduces the batch z-score flags") {
    import spark.implicits._
    val stream = EventPipeline.streamEventsFrom(spark, sf001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .as[EventPipeline.ValueEvent]
    val q = EventPipeline.anomalies(stream)
      .writeStream.format("memory").queryName("anomaly_test")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT event_id FROM anomaly_test")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.operators.Temporal.qAnomalyZscore(spark, sf001)
        .select(col("event_id")).collect().map(_.getLong(0)).toSet
      assert(batch.nonEmpty, "batch mirror must flag something at sf0.001")
      assert(streamed == batch,
        s"flag sets must agree: stream-batch=${streamed -- batch} batch-stream=${batch -- streamed}")
    } finally q.stop()
  }

  test("streaming Misra-Gries monitor is a provable superset of the batch heavy hitters") {
    import spark.implicits._
    val stream = EventPipeline.streamEventsFrom(spark, sf001)
      .select(col("event_type"), col("user_id"))
      .as[EventPipeline.TypedEvent]
    val q = EventPipeline.heavyHittersStream(stream)
      .writeStream.format("memory").queryName("hh_test")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val candidates = spark.sql("SELECT event_type, user_id, mg_count FROM hh_test")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val exact = graft.operators.Behavioral.qHeavyHitters(spark, sf001)
        .select(col("event_type"), col("user_id"), col("n")).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(exact.nonEmpty, "batch mirror must report hitters at sf0.001")
      val missed = exact.keySet -- candidates.keySet
      assert(missed.isEmpty,
        s"MG must never miss a true heavy hitter, but missed $missed")
      // the MG counter never overcounts: mg_count ≤ true count, always
      exact.foreach { case (k, n) =>
        assert(candidates(k) <= n, s"$k: mg=${candidates(k)} > true=$n")
      }
      // and the candidate set is state-bounded: ≤ MgCounters per type
      val perType = candidates.keys.groupBy(_._1).view.mapValues(_.size)
      perType.foreach { case (t, n) =>
        assert(n <= EventPipeline.MgCounters, s"$t emitted $n candidates")
      }
    } finally q.stop()
  }

  test("streaming ingestion lands the cloud-optimized layout exactly once") {
    val out = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val q = EventPipeline.ingestTo(
      EventPipeline.streamEventsFrom(spark, sf001), out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(out)
    val source = Tables.events(spark, sf001)
    assert(landed.count() == source.count())
    // partitioned by event date: directory-level pruning must engage
    assert(landed.select("event_date").distinct().count() > 1)
    val pruned = landed.filter(col("event_date") === "2024-01-02")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters: [") &&
      !pruned.contains("PartitionFilters: []"))

    // replayed micro-batch (same batchId, the post-append pre-checkpoint
    // failure case) must overwrite itself, not append duplicates
    // partition discovery infers the smallest numeric type, so read generically
    val batchIds = landed.select("ingest_batch").distinct()
      .collect().map(_.get(0).asInstanceOf[Number].longValue())
    assert(batchIds.nonEmpty)
    val replayId = batchIds.min
    val replayRows = landed.filter(col("ingest_batch") === replayId)
      .drop("ingest_batch")
      .localCheckpoint() // materialize: the replay writes over its own source files
    graft.sources.CloudOptimize.write(
      replayRows.withColumn("ingest_batch", lit(replayId)),
      out,
      partitionCols = Seq("ingest_batch", "event_date"), sortCols = Seq("ts"),
      extraOptions = Map("partitionOverwriteMode" -> "dynamic"))
    assert(spark.read.parquet(out).count() == source.count(),
      "batch replay duplicated rows — sink is not idempotent")
  }

  test("stateful sessionization matches the batch window-function answer") {
    import spark.implicits._
    val evs = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[EventPipeline.Event]
    // batch execution of the flatMapGroupsWithState operator
    val out = EventPipeline.sessionize(evs).collect()
      .map(u => u.user_id -> ((u.n_sessions, u.n_events))).toMap
    val expected = Relational.qSessionize(spark, sf001).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))).toMap
    assert(out == expected)
  }
  test("streaming HLL WAU lands within the sketch bound of the exact batch sliding distinct") {
    import spark.implicits._
    val stream = EventPipeline.streamEventsFrom(spark, sf001)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2020-01-01")).cast("long").as("day"))
      .as[EventPipeline.DayVisit]
    val q = EventPipeline.wauStream(stream)
      .writeStream.format("memory").queryName("wau_test")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // Update mode re-emits per batch; keep the LAST estimate per day
      val est = spark.sql("SELECT day, wau_est FROM wau_test")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = graft.operators.Temporal.qSlidingDistinct(spark, sf001)
        .select(col("day"), col("wau")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(exact.nonEmpty)
      // every real anchor day has an estimate within 5% (~3 sigma at p=12)
      exact.foreach { case (d, n) =>
        val e = est.getOrElse(d, fail(s"day $d missing from stream"))
        assert(math.abs(e - n) <= math.max(1L, math.round(n * 0.05)),
          s"day $d: est $e vs exact $n")
      }
    } finally q.stop()
  }

  test("streaming time-to-convert emits exactly the batch funnel conversions") {
    import spark.implicits._
    val stream = EventPipeline.streamEventsFrom(spark, sf001)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[EventPipeline.FunnelEvent]
    val q = EventPipeline.timeToConvertStream(stream)
      .writeStream.format("memory").queryName("ttc_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        """SELECT user_id, signup_us, purchase_us, latency_s FROM ttc_test
          |ORDER BY user_id, signup_us""".stripMargin).collect()
      // driver-side reference fold of the same semantics over the batch
      // table (sf0.001 is tiny): earliest unconverted signup -> first
      // later purchase, clear on convert
      val rows = Tables.events(spark, sf001)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
        var pending = Option.empty[Long]
        evs.filter(e => e._2 == "signup" || e._2 == "purchase")
          .sortBy(e => (e._3, e._2))
          .flatMap {
            case (_, "signup", us) =>
              if (pending.isEmpty) pending = Some(us)
              None
            case (_, "purchase", us) =>
              val hit = pending.map(s0 => (uid, s0, us, (us - s0) / 1e6))
              if (hit.isDefined) pending = None
              hit
            case _ => None
          }
      }.sortBy(t => (t._1, t._2))
      assert(streamed.length == expected.length && expected.nonEmpty)
      streamed.zip(expected).foreach { case (sw, e) =>
        assert(sw.getLong(0) == e._1 && sw.getLong(1) == e._2
          && sw.getLong(2) == e._3 && math.abs(sw.getDouble(3) - e._4) < 1e-9,
          s"$sw != $e")
      }
    } finally q.stop()
  }
}
