package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Tables

/** Structured Streaming mirror of the batch event operators
  * (Relational.qEventsHourly / qSessionize): the same logical
  * transformations declared over an unbounded source.
  *
  * The reference's sensor loop (loca2_sensor.py) is a poll-every-N-seconds
  * incremental pipeline; Structured Streaming is the Spark-native version
  * of that contract — source offsets replace the Dagster cursor, and the
  * watermark bounds state exactly like the sensor's chunk-at-a-time
  * processing bounds its scan window.
  *
  * Scale: hourly aggregation state is (hours × event_types) rows; the
  * 2-hour watermark evicts closed windows, so state is O(active windows),
  * not O(stream length). Sessionization state is one SessionState per
  * active user, evicted via processing-time timeout.
  */
object EventPipeline {

  /** Event-time tumbling hourly counts with a 2-hour watermark. Input
    * must carry (ts: timestamp, event_type: string, value: double).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Event-time session windows via the NATIVE `session_window`
    * aggregate — the declarative complement of [[sessionize]]'s
    * custom-state form. The engine merges overlapping per-user windows
    * as events arrive and the watermark evicts closed sessions, so state
    * is O(open sessions) regardless of stream length; window end = last
    * event + gap, the standard session-window convention. Batch parity
    * is spec-asserted against the gap-sessionization in
    * [[graft.operators.Relational.qSessionize]].
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))

  case class Event(user_id: Long, event_id: Long, us: Long)
  case class SessionState(nSessions: Long, lastUs: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  val SessionGapUs: Long = 1800L * 1000000L

  /** Per-user gap sessionization via flatMapGroupsWithState — the custom
    * stateful operator form. Events within a micro-batch are sorted by
    * (us, event_id) before folding, matching the batch window-function
    * semantics of Relational.qSessionize.
    */
  def sessionize(events: Dataset[Event]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          var n = 0L
          sorted.foreach { e =>
            val newSession = st.lastUs == Long.MinValue || e.us - st.lastUs > SessionGapUs
            st = SessionState(st.nSessions + (if (newSession) 1 else 0), e.us)
            n += 1
          }
          state.update(st)
          Iterator.single(UserSessions(uid, st.nSessions, n))
      }
  }

  /** Streaming exact dedup — the run-key semantics of the reference's
    * ingestion (one logical row per key, ever) under unbounded input:
    * dropDuplicatesWithinWatermark keys state by (user_id, event_id) and
    * evicts it once the watermark passes, so state is bounded by the
    * duplicate-arrival horizon rather than the stream length.
    */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_id")

  /** Stream-stream interval join — the streaming mirror of the batch
    * q_interval_join: every purchase paired with the same user's error
    * events in the following hour. Both sides carry watermarks and the
    * join condition bounds event time on both ends, so each side's
    * buffered state is evicted once the watermark passes the interval —
    * state is O(in-flight hour), not O(stream length). The equi-key on
    * user_id keeps the runtime join a hash join per micro-batch.
    */
  def purchaseErrorJoin(purchases: DataFrame, errors: DataFrame): DataFrame = {
    val p = purchases
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val e = errors
      .filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    p.join(e,
      col("p_user") === col("e_user")
        && col("e_ts") > col("p_ts")
        && col("e_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("error_id"))
  }

  /** Streaming ingestion into the cloud-optimized layout — the
    * reference's ingest→convert loop (stream a file in, re-encode it
    * cloud-optimized) as one Structured Streaming job: each micro-batch
    * lands via CloudOptimize.write, partitioned by (ingest_batch,
    * event_date) and sorted by timestamp within files. foreachBatch
    * because the partitioned/sorted/sized re-encode is a batch-writer
    * contract — and foreachBatch alone is only at-least-once (a batch
    * that fails after its append but before the checkpoint commit is
    * re-run, duplicating rows). The sink is therefore made IDEMPOTENT on
    * the batchId: every batch writes under its own `ingest_batch=<id>`
    * partition with dynamic partition overwrite, so a replay of batch N
    * replaces exactly batch N's partitions instead of appending them
    * again. Idempotent sink + the file source's replayable offsets =
    * end-to-end exactly-once, which is the run_key guarantee the
    * reference gets from Dagster. Cost: one extra partition level (fold
    * it away with a periodic compaction job if dir counts matter);
    * event_date pruning still works — it remains a partition column.
    */
  def ingestTo(events: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events
      .withColumn("event_date", to_date(col("ts")))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.sources.CloudOptimize.write(
            batch.toDF().withColumn("ingest_batch", lit(batchId)),
            outPath,
            partitionCols = Seq("ingest_batch", "event_date"), sortCols = Seq("ts"),
            maxRecordsPerFile = 1000000L,
            mode = org.apache.spark.sql.SaveMode.Overwrite,
            extraOptions = Map("partitionOverwriteMode" -> "dynamic"))
      }
      .start()

  case class ValueEvent(user_id: Long, event_id: Long, us: Long, value: Double)
  case class AnomalyFlag(user_id: Long, event_id: Long, us: Long, value: Double,
      n_prev: Long, mean_prev: Double, std_prev: Double)
  case class WindowState(values: List[Double])

  val AnomalyWindow = 10
  val AnomalyMinPrev = 5

  /** Streaming rolling z-score anomaly monitor — the unbounded mirror of
    * the batch `q_anomaly_zscore`: flag an event deviating more than 3σ
    * from the mean of the SAME user's previous [[AnomalyMinPrev]]..
    * [[AnomalyWindow]] events. flatMapGroupsWithState keeps one bounded
    * deque (≤ [[AnomalyWindow]] doubles) per user — O(10) state per key
    * regardless of stream length, no watermark needed because the state
    * never grows with time. Events within a micro-batch fold in
    * (us, event_id) order, matching the batch window's frame order, so
    * a single-batch replay of a file reproduces the batch flags.
    */
  def anomalies(events: Dataset[ValueEvent]): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[WindowState, AnomalyFlag](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[WindowState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.us, e.event_id))
          var vals = state.getOption.map(_.values).getOrElse(Nil)
          val out = Seq.newBuilder[AnomalyFlag]
          sorted.foreach { e =>
            val n = vals.length
            if (n >= AnomalyMinPrev) {
              val s1 = vals.sum
              val s2 = vals.map(x => x * x).sum
              val mean = s1 / n
              val std = math.sqrt(math.max((s2 - s1 * s1 / n) / (n - 1), 0.0))
              if (math.abs(e.value - mean) > 3.0 * std)
                out += AnomalyFlag(uid, e.event_id, e.us, e.value, n, mean, std)
            }
            vals = (vals :+ e.value).takeRight(AnomalyWindow)
          }
          state.update(WindowState(vals))
          out.result().iterator
      }
  }

  case class TypedEvent(event_type: String, user_id: Long)
  case class MgState(counters: Map[Long, Long], total: Long)
  case class MgCandidate(event_type: String, user_id: Long,
      mg_count: Long, total: Long)

  /** Misra-Gries counter budget per event type. The guarantee is
    * budget-relative: any user with true share > 1/[[MgCounters]] of a
    * type's events survives in the summary, and 1/256 ≈ 39 bp is well
    * under the [[graft.operators.Behavioral.HeavyHitterBp]] = 80 bp reporting threshold — so the
    * candidate set is a PROVABLE superset of the exact heavy hitters.
    */
  val MgCounters = 256

  /** Streaming heavy-hitters monitor — the unbounded mirror of the batch
    * `q_heavy_hitters`, with O([[MgCounters]]) state per event type
    * instead of O(users): a Misra-Gries summary folded event-at-a-time
    * inside flatMapGroupsWithState. A new user takes a free counter if
    * one exists; otherwise EVERY counter decrements (the MG step) — the
    * classic guarantee is that a counter undercounts its user's true
    * count by at most total/[[MgCounters]]. Emission compensates exactly
    * that bound (`(mg_count·k + total)·10000 ≥ total·bp·k`, all int64),
    * so every true ≥ threshold hitter is emitted after the batch
    * that crossed the line — false positives are possible (resolved by
    * one exact count over the candidate set, 256 keys per type), false
    * negatives are not. No watermark: state is size-bounded by
    * construction, not time-bounded.
    */
  def heavyHittersStream(events: Dataset[TypedEvent]): Dataset[MgCandidate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[MgState, MgCandidate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (etype, evs, state: GroupState[MgState]) =>
          var m = state.getOption.map(_.counters).getOrElse(Map.empty[Long, Long])
          var total = state.getOption.map(_.total).getOrElse(0L)
          evs.foreach { e =>
            total += 1
            m.get(e.user_id) match {
              case Some(c) => m = m.updated(e.user_id, c + 1)
              case None =>
                if (m.size < MgCounters) m = m.updated(e.user_id, 1L)
                else m = m.flatMap { case (k, v) =>
                  if (v > 1) Some(k -> (v - 1)) else None
                }
            }
          }
          state.update(MgState(m, total))
          m.iterator
            .filter { case (_, c) =>
              10000L * (c * MgCounters + total) >= graft.operators.Behavioral.HeavyHitterBp.toLong * MgCounters * total
            }
            .map { case (u, c) => MgCandidate(etype, u, c, total) }
      }
  }

  case class CdcOp(user_id: Long, event_id: Long, us: Long,
    event_type: String, value: Double)
  case class CdcState(bestUs: Long, bestId: Long, lastOp: String,
    lastValue: Double, nOps: Long)
  case class CdcRow(user_id: Long, last_op: String, last_value: Double,
    n_ops: Long, tombstoned: Boolean)

  /** Streaming CDC log compaction — the unbounded-input form of the
    * batch [[graft.operators.Temporal.qCdcApply]]: last-writer-wins per
    * key under the same TOTAL (event time, event_id) order, with `error`
    * ops as tombstones. State is ONE CdcState per key — the winner so
    * far — regardless of stream length or arrival order: a late-arriving
    * op only replaces the winner if it sorts later, so any arrival
    * interleaving converges to the batch answer (spec-asserted). Each
    * update emits the key's current compacted row; a downstream upsert
    * sink (foreachBatch MERGE) makes this the classic streaming
    * materialized view.
    */
  def cdcCompact(ops: Dataset[CdcOp]): Dataset[CdcRow] = {
    import ops.sparkSession.implicits._
    ops
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, CdcRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(
            CdcState(Long.MinValue, Long.MinValue, "", 0.0, 0L))
          evs.foreach { e =>
            val wins = e.us > st.bestUs ||
              (e.us == st.bestUs && e.event_id > st.bestId)
            st = CdcState(
              if (wins) e.us else st.bestUs,
              if (wins) e.event_id else st.bestId,
              if (wins) e.event_type else st.lastOp,
              if (wins) e.value else st.lastValue,
              st.nOps + 1)
          }
          state.update(st)
          Iterator.single(CdcRow(uid, st.lastOp, st.lastValue, st.nOps,
            tombstoned = st.lastOp == "error"))
      }
  }

  case class DayVisit(day: Long, user_id: Long)
  case class HllState(regs: Array[Byte])
  case class WauEstimate(day: Long, wau_est: Long)

  /** HLL precision for [[wauStream]]: 2^12 registers ≈ 1.6% rsd. */
  val WauHllP = 12

  /** Window width in days (matches the batch op). */
  val WauWindow = 7

  /** splitmix64 — the deterministic 64-bit avalanche both the index and
    * rank bits come from. Pure integer arithmetic, no library hash whose
    * seed could differ between runs.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Streaming trailing-[[WauWindow]]-day distinct actives — the
    * unbounded-input form of the exact batch
    * [[graft.operators.Temporal.qSlidingDistinct]]: each (day, user)
    * visit fans out to the ≤7 anchor days it serves (the same cell
    * fan-out the batch op uses — streaming or not, sliding distinctness
    * only decomposes by registering the visit with every window it
    * belongs to), and per anchor day the state is a fixed 4 KB
    * HyperLogLog register array, NOT a user set: state size is constant
    * per key at any traffic volume, which is the whole reason WAU at
    * 100 TB is an HLL and not a distinct-set. Updates emit the anchor's
    * current estimate; standard HLL bias correction with the
    * linear-counting small-range regime. Parity gate (spec): final
    * estimates land within 5% (≈3σ) of the exact batch WAU.
    */
  def wauStream(visits: Dataset[DayVisit]): Dataset[WauEstimate] = {
    import visits.sparkSession.implicits._
    val m = 1 << WauHllP
    visits
      .flatMap(v => (0 until WauWindow).map(o => DayVisit(v.day + o, v.user_id)))
      .groupByKey(_.day)
      .flatMapGroupsWithState[HllState, WauEstimate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (anchor, vs, state: GroupState[HllState]) =>
          val regs = state.getOption.map(_.regs).getOrElse(new Array[Byte](m))
          vs.foreach { v =>
            val h = mix64(v.user_id)
            val idx = (h >>> (64 - WauHllP)).toInt
            val rank = (java.lang.Long.numberOfLeadingZeros(h << WauHllP | 1L)
              + 1).toByte
            if (rank > regs(idx)) regs(idx) = rank
          }
          state.update(HllState(regs))
          // alpha_m * m^2 / sum(2^-reg), linear counting when small
          val alpha = 0.7213 / (1.0 + 1.079 / m)
          var sum = 0.0
          var zeros = 0
          var i = 0
          while (i < m) {
            sum += math.pow(2.0, -regs(i).toDouble)
            if (regs(i) == 0) zeros += 1
            i += 1
          }
          val raw = alpha * m.toDouble * m / sum
          val est =
            if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
            else raw
          Iterator.single(WauEstimate(anchor, math.round(est)))
      }
  }

  case class FunnelEvent(user_id: Long, event_type: String, us: Long)
  case class PendingSignup(signupUs: Long)
  case class Conversion(user_id: Long, signup_us: Long, purchase_us: Long,
      latency_s: Double)

  /** Streaming signup→purchase conversion latency via
    * flatMapGroupsWithState — the funnel-latency monitor as a custom
    * stateful operator: per user, state holds the EARLIEST unconverted
    * signup; the first later purchase emits one conversion row and
    * clears it (repeat signups before converting don't reset the
    * clock; repeat purchases without a fresh signup emit nothing).
    * State is one timestamp per un-converted user — bounded by the
    * live-user domain, not stream length. Each micro-batch's events
    * fold in (us, event_type) order, which makes the fold insensitive
    * to arrival order WITHIN a batch; there is no watermark buffer, so
    * the operator ASSUMES a user's events do not arrive out of order
    * ACROSS batch boundaries (a signup delivered after its
    * later-timestamped purchase was already folded would be treated as
    * a fresh pending signup, diverging from the batch fold). That
    * matches checkpointed-replay and in-order transports (per-key
    * ordered logs); a genuinely disordered transport needs an upstream
    * watermark-buffered sort before this operator. Append mode: each
    * conversion is final the moment it is emitted.
    */
  def timeToConvertStream(events: Dataset[FunnelEvent]): Dataset[Conversion] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "signup" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PendingSignup, Conversion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[PendingSignup]) =>
          val sorted = evs.toSeq.sortBy(e => (e.us, e.event_type))
          val out = scala.collection.mutable.ArrayBuffer.empty[Conversion]
          var pending = state.getOption.map(_.signupUs)
          sorted.foreach { e =>
            if (e.event_type == "signup") {
              if (pending.isEmpty) pending = Some(e.us)
            } else pending.foreach { s0 =>
              out += Conversion(uid, s0, e.us, (e.us - s0) / 1e6)
              pending = None
            }
          }
          pending match {
            case Some(s0) => state.update(PendingSignup(s0))
            case None => state.remove()
          }
          out.iterator
      }
  }

  /** Batch-equivalent entry used by tests: stream the events parquet
    * through a file source (raw on-disk schema — ts arrives as a ns Long
    * under nanosAsLong and is normalized to a µs timestamp, mirroring
    * Tables.events).
    */
  def streamEventsFrom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // the file-stream source wants a directory; glob down to the one table
    val st = spark.readStream.schema(Tables.read(spark, s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    st.schema("ts").dataType match {
      case LongType =>
        st.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(isAdjustedToUTC=false) parquet → TIMESTAMP_NTZ; UTC
      // session zone makes the cast micros-preserving (mirrors Tables.events)
      case TimestampNTZType =>
        st.withColumn("ts", col("ts").cast(TimestampType))
      case _ => st
    }
  }
}
