package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NumFns
import graft.functions.NumFns.{Dec0, Dec12}
import graft.sources.Tables

/** Time-series operators over the events table (SURVEY.md §2, table 2):
  * value-range window frames, gap-filling/densification, and ordered
  * sequence-pattern matching. All three partition by user_id — the engine
  * never plans a global sort over event rows, and per-user work is bounded
  * by per-user activity.
  *
  * Timestamp discipline (shared with sessionize): Spark compares
  * microseconds via `unix_micros` and DuckDB via `epoch_us`, so the two
  * engines window over identical integers.
  */
object Temporal {

  /** Trailing one-hour RANGE frame per user: for every event, the count
    * and value-sum of that user's events in the preceding hour (the
    * "activity in the last N minutes" feature). A RANGE frame over epoch
    * micros — Spark sorts each user partition once and slides the frame;
    * no self-join, no explode. The same shape at 100 TB is one shuffle on
    * user_id and a per-user streaming sort — the frame never materializes
    * more than the sliding hour.
    */
  def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", round(sum(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("us"), col("n_1h"), col("sum_1h"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  val qRangeFrameOracle: String =
    """SELECT event_id, user_id, epoch_us(ts) AS us,
      |  count(*) OVER w AS n_1h,
      |  round(sum(value) OVER w, 2) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, us, event_id""".stripMargin

  /** Hourly gap-fill (densification): each sampled user's hourly activity
    * with missing hours materialized as explicit zero rows — the step
    * every downstream time-series model needs before windowing. The hour
    * spine is generated per user from that user's own [min, max] hour via
    * `sequence` + explode (scan-side generator, no driver loop, no global
    * calendar table), then left-joined against the hourly aggregate.
    * Both the aggregate and the spine shuffle on user_id only; spine size
    * is users × their own span, independent of event count.
    */
  val GapfillUsers = 20

  def qGapfill(s: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(s, dir)
      .filter(col("user_id") < GapfillUsers)
      .groupBy(col("user_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("n"), graft.functions.NumFns.stableSum(col("value"), 2).as("sv"))
    val spine = hours
      .groupBy(col("user_id"))
      .agg(min(col("hour_epoch")).as("h0"), max(col("hour_epoch")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), lit(3600L))).as("hour_epoch"))
    spine.join(hours, Seq("user_id", "hour_epoch"), "left")
      .select(col("user_id"), col("hour_epoch"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("sv"), lit(0.0)).as("sum_value"),
        col("n").isNull.as("is_gap"))
      .orderBy(col("user_id"), col("hour_epoch"))
  }

  val qGapfillOracle: String =
    s"""WITH h AS (
       |  SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       |    count(*) AS n, ${graft.functions.NumFns.stableSumSql("value", 2)} AS sv
       |  FROM events WHERE user_id < $GapfillUsers
       |  GROUP BY 1, 2
       |),
       |sp AS (
       |  SELECT user_id, unnest(generate_series(min(hour_epoch), max(hour_epoch), 3600)) AS hour_epoch
       |  FROM h GROUP BY user_id
       |)
       |SELECT sp.user_id, sp.hour_epoch,
       |  coalesce(h.n, 0) AS n_events,
       |  coalesce(h.sv, 0.0) AS sum_value,
       |  h.n IS NULL AS is_gap
       |FROM sp LEFT JOIN h ON h.user_id = sp.user_id AND h.hour_epoch = sp.hour_epoch
       |ORDER BY sp.user_id, sp.hour_epoch""".stripMargin

  /** `(user_id, event_id, us, event_type)` of every event, `us` its
    * timestamp in µs.
    */
  private def typedEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))

  /** Each user's events in (time, event_id) order: a total order both
    * engines share.
    */
  private val userOrder = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))

  /** Ordered sequence-pattern match (MATCH_RECOGNIZE-lite): per user,
    * count the CONSECUTIVE view→click→purchase runs in the event stream
    * (tie-broken by event_id — a total order both engines share). Two lag
    * offsets + one grouped aggregate: unlike a collect-the-sequence
    * approach this never materializes a user's history, so a 100 TB
    * stream costs one user_id shuffle and a streaming per-user sort.
    * Contrast with q_funnel, which matches the NON-consecutive (any gaps)
    * form via chained min-aggregates.
    */
  def qSequenceMatch(s: SparkSession, dir: String): DataFrame = {
    typedEvents(s, dir)
      .withColumn("p1", lag(col("event_type"), 1).over(userOrder))
      .withColumn("p2", lag(col("event_type"), 2).over(userOrder))
      .withColumn("hit",
        (col("p2") === "view" && col("p1") === "click" &&
          col("event_type") === "purchase").cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("hit")).as("n_matches"))
      .withColumn("has_seq", col("n_matches") > 0)
      .orderBy(col("user_id"))
  }

  val qSequenceMatchOracle: String =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
      |), g AS (
      |  SELECT user_id,
      |    CASE WHEN lag(event_type, 2) OVER w = 'view'
      |          AND lag(event_type, 1) OVER w = 'click'
      |          AND event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(hit) AS BIGINT) AS n_matches,
      |  sum(hit) > 0 AS has_seq
      |FROM g GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** First-order event-type transition counts `(from_type, to_type, n)`:
    * each user's events in (time, event_id) order, every event paired
    * with the one before it by one lag window, then one grouped count.
    */
  private def transitions(s: SparkSession, dir: String): DataFrame =
    typedEvents(s, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(userOrder))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))

  /** SQL twin of [[transitions]]. */
  private val transitionsSql: String =
    """SELECT from_type, to_type, count(*) AS n FROM (
      |  SELECT event_type AS to_type,
      |    lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS from_type
      |  FROM events
      |) WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** First-order Markov transition matrix over the event-type stream:
    * P(next | current) estimated by MLE over per-user consecutive pairs.
    * One lag window per user (the sequence-match shape) then a grouped
    * count; the normalizing window runs over the POST-aggregation frame —
    * types × types ≈ 25 rows — so the corpus-sized data is touched by
    * exactly one shuffle-free lag pass plus one map-side-combined count.
    */
  def qMarkovChain(s: SparkSession, dir: String): DataFrame = {
    val wFrom = Window.partitionBy(col("from_type"))
    transitions(s, dir)
      .withColumn("p", round(col("n") / sum(col("n")).over(wFrom), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  val qMarkovChainOracle: String =
    s"""WITH c AS ($transitionsSql)
      |SELECT from_type, to_type, n,
      |  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
      |FROM c
      |ORDER BY from_type, to_type""".stripMargin

  /** Time-bounded anti-join (conversion-failure analysis): per user, the
    * count of view events with NO purchase by the same user within the
    * following hour. The anti side is an equi-join on user_id with the
    * time window as a residual condition — one shuffle each side, no
    * interval explosion; the unconverted counts re-join the per-user
    * totals (both dimension-sized). The NOT-EXISTS-with-range shape that
    * a retention pipeline runs at full fact scale.
    */
  def qUnconvertedViews(s: SparkSession, dir: String): DataFrame = {
    val ev = typedEvents(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("us").as("p_us"))
    val unconverted = views
      .join(purchases,
        col("user_id") === col("p_user") && col("p_us") > col("us") &&
          col("p_us") <= col("us") + 3600L * 1000000L,
        "left_anti")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_unconverted"))
    views.groupBy(col("user_id")).agg(count(lit(1)).as("n_views"))
      // per-USER frame: shuffle_hash, never broadcast (r12 ban); both
      // sides arrive user-keyed from their aggregates
      .join(unconverted.hint("shuffle_hash"), Seq("user_id"), "left")
      .select(col("user_id"), col("n_views"),
        coalesce(col("n_unconverted"), lit(0L)).as("n_unconverted"))
      .withColumn("unconverted_ratio",
        round(col("n_unconverted") / col("n_views").cast("double"), 6))
      .orderBy(col("user_id"))
  }

  val qUnconvertedViewsOracle: String =
    """WITH v AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'
      |), p AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |)
      |SELECT v.user_id, count(*) AS n_views,
      |  CAST(sum(CASE WHEN NOT EXISTS (
      |    SELECT 1 FROM p WHERE p.user_id = v.user_id
      |      AND p.us > v.us AND p.us <= v.us + 3600000000
      |  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_unconverted,
      |  round(sum(CASE WHEN NOT EXISTS (
      |    SELECT 1 FROM p WHERE p.user_id = v.user_id
      |      AND p.us > v.us AND p.us <= v.us + 3600000000
      |  ) THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS unconverted_ratio
      |FROM v
      |GROUP BY v.user_id
      |ORDER BY v.user_id""".stripMargin

  /** SCD type-2 dimension build from an event log: compress each user's
    * event stream into versioned validity intervals — one row per
    * event_type CHANGE, carrying [valid_from, valid_to) in epoch micros
    * (valid_to NULL on the current version). The temporal-table
    * construction every warehouse needs before an as-of join can serve
    * point-in-time lookups. Shape: one shuffle on user_id feeding two
    * stacked windows (lag to detect changes, row_number + lead over the
    * change rows to version and close intervals) — per-user bounded,
    * never a global sort, and the change rows are a sliver of the log.
    */
  def qScd2Build(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val changes = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_us", lead(col("us"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("us").as("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("version"))
  }

  val qScd2BuildOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      AS prev_type
      |  FROM events
      |), c AS (
      |  SELECT * FROM e WHERE prev_type IS NULL OR prev_type != event_type
      |)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS INTEGER) AS version,
      |  event_type,
      |  us AS valid_from_us,
      |  lead(us) OVER w AS valid_to_us
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** Gaps-and-islands: collapse each user's distinct active DAYS into
    * maximal runs of consecutive days — the classic streak detection
    * (login streaks, uptime runs, SLA windows). The standard day−rank
    * trick: within a user, consecutive days share (epoch_day − row_number)
    * so one grouped aggregate per (user, grp) yields island bounds —
    * no self-join, no recursive walk. Shape at 100 TB: the distinct
    * (user, day) frame is a tiny projection of the log (one map-side-
    * combined distinct), then one user-partitioned window + one grouped
    * agg — per-user bounded, never a global sort. Days travel as epoch
    * integers so both engines subtract exactly.
    */
  def qGapsIslands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    Tables.events(s, dir)
      .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      .distinct()
      .withColumn("grp", col("d") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("d")).as("start_day"), max(col("d")).as("end_day"),
        count(lit(1)).as("n_days"))
      .select(col("user_id"), col("start_day"), col("end_day"), col("n_days"))
      .orderBy(col("user_id"), col("start_day"))
  }

  val qGapsIslandsOracle: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, (ts::DATE - DATE '1970-01-01') AS d FROM events
      |), g AS (
      |  SELECT user_id, d,
      |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
      |  FROM d
      |)
      |SELECT user_id, CAST(min(d) AS INTEGER) AS start_day, CAST(max(d) AS INTEGER) AS end_day, count(*) AS n_days
      |FROM g
      |GROUP BY user_id, grp
      |ORDER BY user_id, start_day""".stripMargin

  /** Rolling z-score anomaly flags: an event whose value deviates more
    * than 3σ from the mean of that user's previous [[AnomalyMinPrev]]..10
    * events — the self-calibrating outlier monitor every metrics pipeline
    * runs (no fixed thresholds, adapts per user). One user-partitioned
    * sliding ROWS frame carrying three aggregates (n, Σx, Σx²); mean and
    * variance come from the sufficient statistics, so the frame never
    * re-materializes. Float discipline: the frame sums are DECIMAL(38,12)
    * (order-exact — DuckDB may evaluate sliding frames via segment trees,
    * a different summation order than Spark's sequential slide; decimal
    * sums are associative-exact so both engines produce the identical
    * scalar), and the downstream mean/σ/compare arithmetic is then
    * identical IEEE ops on identical inputs. At 100 TB this is one
    * shuffle on user_id and a bounded sliding frame — state is O(10)
    * per user regardless of history length.
    */
  val AnomalyMinPrev = 5

  def qAnomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(-10, -1)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("s1", sum(col("value").cast(Dec12)).over(w).cast("double"))
      .withColumn("s2", sum((col("value") * col("value")).cast(Dec12)).over(w).cast("double"))
      .filter(col("n_prev") >= AnomalyMinPrev)
      .withColumn("mean_prev", col("s1") / col("n_prev"))
      .withColumn("std_prev",
        sqrt(greatest((col("s2") - col("s1") * col("s1") / col("n_prev"))
          / (col("n_prev") - 1), lit(0.0))))
      .filter(abs(col("value") - col("mean_prev")) > lit(3.0) * col("std_prev"))
      .select(col("event_id"), col("user_id"), col("us"), col("value"),
        col("n_prev"),
        graft.functions.NumFns.roundPortable(col("mean_prev"), 4).as("mean_prev"),
        graft.functions.NumFns.roundPortable(col("std_prev"), 4).as("std_prev"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  val qAnomalyZscoreOracle: String =
    s"""WITH b AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us, value,
       |    count(*) OVER w AS n_prev,
       |    CAST(sum(CAST(value AS DECIMAL(38,12))) OVER w AS DOUBLE) AS s1,
       |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) OVER w AS DOUBLE) AS s2
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
       |), z AS (
       |  SELECT event_id, user_id, us, value, n_prev,
       |    s1 / n_prev AS mean_prev,
       |    sqrt(greatest((s2 - s1 * s1 / n_prev) / (n_prev - 1), 0.0)) AS std_prev
       |  FROM b WHERE n_prev >= $AnomalyMinPrev
       |)
       |SELECT event_id, user_id, us, value, n_prev,
       |  ${graft.functions.NumFns.roundPortableSql("mean_prev", 4)} AS mean_prev,
       |  ${graft.functions.NumFns.roundPortableSql("std_prev", 4)} AS std_prev
       |FROM z
       |WHERE abs(value - mean_prev) > 3.0 * std_prev
       |ORDER BY user_id, us, event_id""".stripMargin

  /** Last-observation-carried-forward (LOCF) imputation: annotate every
    * event with the value of that user's most recent PURCHASE as of that
    * moment — the point-in-time feature ("last basket size") a training
    * pipeline joins onto every interaction, and the standard fill for
    * sparsely-observed signals. `last(..., ignoreNulls)` over a running
    * user window: one shuffle on user_id, one per-user ordered pass,
    * O(1) carry state — never a self-join, never an as-of re-sort per
    * feature. Events before the user's first purchase stay NULL (both
    * engines agree on the missing prefix).
    */
  def qLocfImpute(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .withColumn("last_purchase_value",
        round(last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w), 2))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  val qLocfImputeOracle: String =
    """SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value,
      |  round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |          ROWS UNBOUNDED PRECEDING), 2) AS last_purchase_value
      |FROM events
      |ORDER BY user_id, us, event_id""".stripMargin

  /** Daily burst detection: days where a user's event count exceeds
    * [[BurstFactor]]× their own median daily activity — the self-
    * calibrating rate monitor (scraper gone hot, bot takeover, incident
    * spike) that needs no global threshold. Integer day counts, exact
    * per-user median (a half-integer at worst — exact in binary), and an
    * integer-vs-exact-double compare: no accumulation anywhere, so the
    * flag set is bit-stable on both engines. Shape at 100 TB: one
    * map-side-combined (user, day) count, then the per-USER median frame
    * joins back shuffle_hash — the frame is ENTITY-domain (one row per
    * user, ~10⁸ rows at 100×), so broadcasting it is the r1 cliff; both
    * sides are already user-keyed out of their aggregates, so the hash
    * join is one cheap co-shuffle. (r12: this was the one broadcast(
    * fact-derived-frame) in the engine; PlanAuditSpec now bans the
    * class structurally.)
    */
  val BurstFactor = 2L

  def qBurstDetect(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / (86400L * 1000000L)).as("day_epoch"))
      .groupBy(col("user_id"), col("day_epoch"))
      .agg(count(lit(1)).as("n_events"))
    val med = days.groupBy(col("user_id")).agg(median(col("n_events")).as("med"))
    days.join(med.hint("shuffle_hash"), Seq("user_id"))
      .filter(col("n_events") > lit(BurstFactor) * col("med"))
      .select(col("user_id"), col("day_epoch"), col("n_events"),
        round(col("med"), 1).as("median_daily"))
      .orderBy(col("user_id"), col("day_epoch"))
  }

  val qBurstDetectOracle: String =
    s"""WITH h AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day_epoch, count(*) AS n_events
       |  FROM events GROUP BY user_id, day_epoch
       |),
       |m AS (SELECT user_id, median(n_events) AS med FROM h GROUP BY user_id)
       |SELECT user_id, day_epoch, n_events, round(med, 1) AS median_daily
       |FROM h JOIN m USING (user_id)
       |WHERE n_events > $BurstFactor * med
       |ORDER BY user_id, day_epoch""".stripMargin

  /** Freshness-decayed engagement: per user, Σ value·2^−age_days (age
    * relative to the corpus's newest day) — the recency weighting a
    * sampling pipeline uses to favor fresh data without dropping history
    * (half-life = 1 day here; generalize by scaling age). Exactness: the
    * decay base is 2, so every weight is a power of two and value·2^−age
    * is an EXACT IEEE scaling (exponent shift — no pow, no rounding);
    * the per-user sum is decimal-stable. Ages ≥ 63 contribute exactly 0
    * on both engines (shift saturation guard). One scan + one broadcast
    * 1-row max + one map-side-combined grouped sum.
    */
  def qFreshnessDecay(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / (86400L * 1000000L)).as("day"), col("value"))
    val maxDay = e.agg(max(col("day")).as("max_day"))
    e.crossJoin(broadcast(maxDay))
      .withColumn("age", (col("max_day") - col("day")).cast("int"))
      .withColumn("decayed",
        when(col("age") >= 63, lit(0.0)).otherwise(col("value") /
          expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(age AS INT)) AS DOUBLE)")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.NumFns.stableSum(col("decayed"), 6).as("decayed_sum"))
      .orderBy(col("user_id"))
  }

  val qFreshnessDecayOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, value FROM events
       |),
       |m AS (SELECT max(day) AS max_day FROM e),
       |d AS (
       |  SELECT user_id,
       |    CASE WHEN (max_day - day) >= 63 THEN 0.0
       |         ELSE value / CAST(1::BIGINT << CAST(max_day - day AS INT) AS DOUBLE)
       |    END AS decayed
       |  FROM e CROSS JOIN m
       |)
       |SELECT user_id, count(*) AS n_events,
       |  ${graft.functions.NumFns.stableSumSql("decayed", 6)} AS decayed_sum
       |FROM d
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** A user whose last activity is this many days before the corpus's
    * final observed day counts as CHURNED; later last-activity is
    * right-censored (still alive at observation end).
    */
  val ChurnHorizonDays = 7L

  /** The user-lifetime risk-set frame behind [[qSurvival]] and
    * [[qNelsonAalen]]: lifetime = days between a user's first and last
    * event, churn vs right-censoring decided by [[ChurnHorizonDays]]
    * against the corpus's last observed day. One user-level aggregate
    * (first/last day), the corpus-end scalar broadcast back, then the
    * duration CELL frame (≤ observed-span rows) `(t, n_t, d_t,
    * n_risk)`: `d_t` churned of the `n_t` lifetimes of length t, and
    * the risk set `n_risk` from an exclusive cumulative window over
    * the aggregate (plan-audit safe). Censored lifetimes leave the risk
    * set but never count as deaths.
    */
  def lifetimes(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / (86400L * 1000000L)).as("day"))
    val users = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val corpusEnd = days.agg(max(col("day")).as("end_day"))
    val spans = users.crossJoin(broadcast(corpusEnd))
      .select((col("last_day") - col("first_day")).as("t"),
        (col("last_day") <= col("end_day") - ChurnHorizonDays).as("churned"))
    val cells = spans.groupBy(col("t"))
      .agg(count(lit(1)).as("n_t"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d_t"))
    val total = cells.agg(sum(col("n_t")).as("n_users"))
    val wBefore = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cells.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("n_t")).over(wBefore), lit(0L)))
  }

  /** SQL twin of [[lifetimes]]: CTEs ending in `r(t, n_t, d_t, n_risk)`. */
  val lifetimesSql: String =
    s"""days AS (
       |  SELECT user_id,
       |    CAST(floor(epoch_us(ts) / 86400000000::BIGINT) AS BIGINT) AS day
       |  FROM events
       |),
       |u AS (
       |  SELECT user_id, min(day) AS first_day, max(day) AS last_day
       |  FROM days GROUP BY user_id
       |),
       |m AS (SELECT max(day) AS end_day FROM days),
       |lt AS (
       |  SELECT last_day - first_day AS t,
       |    last_day <= end_day - $ChurnHorizonDays AS churned
       |  FROM u CROSS JOIN m
       |),
       |c AS (
       |  SELECT t, count(*) AS n_t,
       |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d_t
       |  FROM lt GROUP BY t
       |),
       |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_users FROM c),
       |r AS (
       |  SELECT t, n_t, d_t,
       |    n_users - CAST(COALESCE(sum(n_t) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS n_risk
       |  FROM c CROSS JOIN tot
       |)""".stripMargin

  /** Kaplan-Meier survival curve over user lifetimes — THE
    * retention/churn estimator: S(t) = Π_{u ≤ t} (1 − d_u/n_u) over
    * event times of the [[lifetimes]] risk sets (censoring is exactly
    * why naive "fraction retained" overestimates churn). Survival runs
    * via exp(Σ ln) with each term an identical rational on both
    * engines and the cumulative window sequential in frame order —
    * deterministic without stabilization.
    */
  def qSurvival(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    lifetimes(s, dir)
      .withColumn("lnterm",
        log(lit(1.0) - col("d_t") / col("n_risk").cast("double")))
      .withColumn("survival", round(exp(sum(col("lnterm")).over(wCum)), 6))
      .select(col("t"), col("n_risk"), col("d_t"), col("n_t"), col("survival"))
      .orderBy(col("t"))
  }

  val qSurvivalOracle: String =
    s"""WITH $lifetimesSql
       |SELECT t, n_risk, d_t, n_t,
       |  round(exp(sum(ln(1.0 - d_t / CAST(n_risk AS DOUBLE))) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
       |FROM r
       |ORDER BY t""".stripMargin

  /** Exponentially-weighted moving average (α = ½) over each user's
    * event-value series, truncated at [[EwmaWindow]] terms — the
    * smoothing primitive behind anomaly baselines and trend features.
    * α = ½ is chosen deliberately: every weight 2^−(k+1) is a DYADIC
    * rational, so weight·value is an EXACT binary scaling (multiplying
    * a double by a power of two never rounds) and the truncated-series
    * normalizer 1−2^−n is exact — the whole computation is
    * deterministic arithmetic, not an accumulation-order gamble. Shape:
    * per-user positions from a bounded per-user sort window, then a
    * user-keyed self-join with ≤[[EwmaWindow]] fan-out per row (the
    * distance-weighted frame no built-in window aggregate expresses);
    * the weighted terms sum decimal-cast (order-independent). One
    * shuffle on user_id; fan-out is constant-bounded.
    */
  val EwmaWindow = 16

  def qEwma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pos = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .withColumn("pos", row_number().over(w))
    val a = pos.select(col("user_id"), col("event_id"), col("pos"), col("value"))
    val b = pos.select(col("user_id").as("b_user"), col("pos").as("b_pos"),
      col("value").as("b_value"))
    a.join(b.hint("shuffle_hash"),
        col("user_id") === col("b_user")
          && col("b_pos") <= col("pos")
          && col("b_pos") > col("pos") - EwmaWindow)
      .select(col("user_id"), col("event_id"), col("pos"), col("value"),
        (col("b_value") * pow(lit(2.0), (col("b_pos") - col("pos") - 1).cast("double")))
          .cast(Dec12).as("term"))
      .groupBy(col("user_id"), col("event_id"), col("pos"), col("value"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term")).as("num"))
      .select(col("user_id"), col("event_id"), col("value"),
        graft.functions.NumFns.roundPortable(
          col("num").cast("double") /
            (lit(1.0) - pow(lit(2.0), -col("n_terms").cast("double"))), 6).as("ewma"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val qEwmaOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pos
       |  FROM events
       |),
       |j AS (
       |  SELECT a.user_id, a.event_id, a.pos, a.value,
       |    CAST(b.value * power(2.0, CAST(b.pos - a.pos - 1 AS DOUBLE)) AS DECIMAL(38,12)) AS term
       |  FROM e a JOIN e b ON a.user_id = b.user_id
       |    AND b.pos <= a.pos AND b.pos > a.pos - $EwmaWindow
       |),
       |g AS (
       |  SELECT user_id, event_id, value, count(*) AS n_terms,
       |    sum(term) AS num
       |  FROM j GROUP BY user_id, event_id, pos, value
       |)
       |SELECT user_id, event_id, value,
       |  ${graft.functions.NumFns.roundPortableSql(
             "CAST(num AS DOUBLE) / (1.0 - power(2.0, -CAST(n_terms AS DOUBLE)))", 6)} AS ewma
       |FROM g
       |ORDER BY user_id, event_id""".stripMargin

  /** Per-user time-weighted average value (TWAP — the IoT/finance
    * aggregate where irregular sampling makes the plain mean wrong):
    * each event's value weighted by how long it was "current" (the gap
    * to the user's next event), normalized by the user's total active
    * span. The last event holds no interval and drops out — users need
    * ≥ 2 events. Exactness: interval durations are exact integer
    * MICROSECONDS (the lead-window difference of unix_micros), each
    * value·duration product is one deterministic IEEE multiply
    * decimal-cast before the order-independent sum, and the final
    * normalization divides by the exact integer span. Shape: one
    * shuffle on user_id, a bounded per-user lead window, map-side-
    * combined per-user aggregation — never a self-join.
    */
  def qTwap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .select(col("user_id"), col("value"), (col("next_us") - col("us")).as("dur"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur")).as("span_us"),
        sum((col("value") * col("dur")).cast(Dec12)).as("vnum"))
      .filter(col("span_us") > 0)
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        graft.functions.NumFns.roundPortable(
          col("vnum").cast("double") / col("span_us"), 6).as("twap"))
      .orderBy(col("user_id"))
  }

  val qTwapOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
       |    lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS next_us
       |  FROM events
       |),
       |d AS (
       |  SELECT user_id, value, next_us - us AS dur
       |  FROM e WHERE next_us IS NOT NULL
       |),
       |g AS (
       |  SELECT user_id, count(*) AS n_intervals,
       |    CAST(sum(dur) AS BIGINT) AS span_us,
       |    sum(CAST(value * dur AS DECIMAL(38,12))) AS vnum
       |  FROM d GROUP BY user_id
       |)
       |SELECT user_id, n_intervals, span_us,
       |  ${graft.functions.NumFns.roundPortableSql(
             "CAST(vnum AS DOUBLE) / span_us", 6)} AS twap
       |FROM g
       |WHERE span_us > 0
       |ORDER BY user_id""".stripMargin

  /** Day-of-week seasonality profile per event type: events per ISO
    * weekday, that weekday's mean value, and the lift of the weekday
    * mean over the type's overall mean — the decomposition behind
    * "weekend traffic is 2× weekday" dashboards.
    *
    * Shape: ONE event scan into a (type × 7)-cell map-side-combined
    * aggregate carrying the DECIMAL partial sum and count; the per-type
    * overall mean folds FROM the 7 weekday cells (exact decimal partials
    * re-aggregated, never a second event scan) and broadcasts back onto
    * the cell frame. Everything after the scan is dimension-sized.
    *
    * Cross-engine: ISO weekday (1=Mon..7=Sun) is arithmetic on Spark's
    * Sunday-based `dayofweek` vs DuckDB's native `isodow`; means are
    * DECIMAL-sum ÷ count rounded portably (a mean of few-decimal values
    * CAN land on the 6th-decimal boundary).
    */
  def qDowProfile(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(col("event_type"),
        (pmod(dayofweek(col("ts")) + 5, lit(7)) + 1).as("isodow"),
        col("value"))
      .groupBy(col("event_type"), col("isodow"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(Dec12)).as("vsum"))
    val overall = cells.groupBy(col("event_type"))
      .agg((sum(col("vsum")).cast("double") / sum(col("n_events"))).as("mean_all"))
    cells.join(broadcast(overall), Seq("event_type"))
      .select(col("event_type"), col("isodow"), col("n_events"),
        NumFns.roundPortable(col("vsum").cast("double") / col("n_events"), 6)
          .as("mean_value"),
        NumFns.roundPortable(
          (col("vsum").cast("double") / col("n_events")) / col("mean_all"), 6)
          .as("lift"))
      .orderBy(col("event_type"), col("isodow"))
  }

  val qDowProfileOracle: String =
    s"""WITH c AS (
       |  SELECT event_type, isodow(ts) AS isodow, count(*) AS n_events,
       |    sum(CAST(value AS DECIMAL(38,12))) AS vsum
       |  FROM events GROUP BY event_type, isodow(ts)
       |),
       |o AS (
       |  SELECT event_type,
       |    CAST(sum(vsum) AS DOUBLE) / sum(n_events) AS mean_all
       |  FROM c GROUP BY event_type
       |)
       |SELECT event_type, CAST(isodow AS INTEGER) AS isodow, n_events,
       |  ${NumFns.roundPortableSql("CAST(vsum AS DOUBLE) / n_events", 6)} AS mean_value,
       |  ${NumFns.roundPortableSql(
             "(CAST(vsum AS DOUBLE) / n_events) / mean_all", 6)} AS lift
       |FROM c JOIN o USING (event_type)
       |ORDER BY event_type, isodow""".stripMargin

  /** CUSUM change-point detection per event type: the day where the
    * cumulative deviation of the daily mean from the type's overall mean
    * peaks in absolute value — the classic single-change-point locator
    * (the cusum curve drifts monotonically before/after a level shift,
    * so its extremum brackets the shift).
    *
    * Shape: events collapse once to (type, day) cells with DECIMAL
    * partial sums (map-side combined); the per-type mean-of-daily-means
    * folds from the cell frame and broadcasts; the cusum window runs
    * over the (type × days) CELL frame — day-count-sized, never event
    * rows — and one rank keeps the extremum row per type.
    *
    * Determinism: daily means are portable-rounded doubles (identical
    * both engines), the running sum is sequential in day order on both
    * engines over identical inputs, and the argmax tie-breaks on the
    * earlier day.
    */
  def qCusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / (86400L * 1000000L)).as("day_epoch"),
        col("value"))
      .groupBy(col("event_type"), col("day_epoch"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Dec12)).as("vsum"))
      .select(col("event_type"), col("day_epoch"),
        NumFns.roundPortable(col("vsum").cast("double") / col("n"), 6)
          .as("day_mean"))
    val mu = days.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        NumFns.roundPortable(
          sum(col("day_mean").cast(Dec12)).cast("double") / count(lit(1)), 6)
          .as("mu"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day_epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = days.join(broadcast(mu), Seq("event_type"))
      .withColumn("cusum", sum(col("day_mean") - col("mu")).over(wCum))
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("cusum")).desc, col("day_epoch"))
    cum.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n_days"),
        col("day_epoch").as("change_day"),
        NumFns.roundPortable(col("cusum"), 6).as("peak_cusum"),
        when(col("cusum") > 0, "level_drop").otherwise("level_rise")
          .as("shift_direction"))
      .orderBy(col("event_type"))
  }

  val qCusumChangepointOracle: String =
    s"""WITH d AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_epoch,
       |    count(*) AS n, sum(CAST(value AS DECIMAL(38,12))) AS vsum
       |  FROM events GROUP BY event_type, day_epoch
       |),
       |dm AS (
       |  SELECT event_type, day_epoch,
       |    ${NumFns.roundPortableSql("CAST(vsum AS DOUBLE) / n", 6)} AS day_mean
       |  FROM d
       |),
       |m AS (
       |  SELECT event_type, count(*) AS n_days,
       |    ${NumFns.roundPortableSql(
             "CAST(sum(CAST(day_mean AS DECIMAL(38,12))) AS DOUBLE) / count(*)", 6)} AS mu
       |  FROM dm GROUP BY event_type
       |),
       |c AS (
       |  SELECT dm.event_type, m.n_days, dm.day_epoch,
       |    sum(dm.day_mean - m.mu) OVER (PARTITION BY dm.event_type
       |      ORDER BY dm.day_epoch
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
       |  FROM dm JOIN m USING (event_type)
       |),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type
       |    ORDER BY abs(cusum) DESC, day_epoch) AS rk
       |  FROM c
       |)
       |SELECT event_type, n_days, day_epoch AS change_day,
       |  ${NumFns.roundPortableSql("cusum", 6)} AS peak_cusum,
       |  CASE WHEN cusum > 0 THEN 'level_drop' ELSE 'level_rise' END
       |    AS shift_direction
       |FROM r WHERE rk = 1
       |ORDER BY event_type""".stripMargin

  /** The daily revenue series `(di, yc)` behind the trend, seasonality
    * and change-point tests: one row per order day, `di` its whole days
    * since 1992-01-01 and `yc` its revenue in integer cents (each
    * `o_totalprice` rounded half away from zero, then summed), so the
    * series is exact and accumulation-order-free. `more` adds per-day
    * aggregates beside `yc`; callers rename, cast or scale on their side.
    */
  def dailyCents(s: SparkSession, dir: String, more: Column*): DataFrame =
    Tables.orders(s, dir)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01")).as("di"))
      .agg(dayCents.as("yc"), more: _*)

  /** SQL twin of [[dailyCents]]; `di` and `yc` are BIGINT. */
  def dailyCentsSql(more: String*): String =
    s"""SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS di,
       |  $dayCentsSql AS yc${more.map(", " + _).mkString}
       |FROM orders GROUP BY 1""".stripMargin

  /** One order day's revenue in integer cents, the [[dailyCents]] sum. */
  def dayCents: Column = sum(NumFns.roundAwayLong(col("o_totalprice") * 100))

  /** SQL twin of [[dayCents]], a BIGINT. */
  def dayCentsSql: String = "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"

  /** The order days keyed by calendar date `d`, with the per-day
    * aggregates `agg +: more` ([[dayCents]] for the revenue series).
    */
  def orderDates(s: SparkSession, dir: String, agg: Column, more: Column*): DataFrame =
    Tables.orders(s, dir).groupBy(to_date(col("o_orderdate")).as("d")).agg(agg, more: _*)

  /** SQL twin of [[orderDates]]: the body of a CTE. */
  def orderDatesSql(aggs: String*): String =
    s"SELECT CAST(o_orderdate AS DATE) AS d, ${aggs.mkString(", ")} FROM orders GROUP BY 1"

  /** Least-squares line y = a + b·di over `days (di, y)` in doubles:
    * `n`, the [[TextAnalysis.momentSums]] of x = di, `b` and `a`.
    */
  private def dayTrend(days: DataFrame): DataFrame =
    days.select(col("di").as("x"), col("y"))
      .agg(count(lit(1)).as("n"), TextAnalysis.momentSums: _*)
      .withColumn("b", (col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("a", (col("sy") - col("b") * col("sx")) / col("n"))

  /** SQL twin of [[dayTrend]]: CTE `tr` over the relation `days`. */
  private def dayTrendSql(days: String): String =
    s"""tr AS (
       |  SELECT *, (sy - b * sx) / n AS a FROM (
       |    SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b FROM (
       |      SELECT count(*) AS n, ${TextAnalysis.momentSumsSql}
       |      FROM (SELECT di AS x, y FROM $days)))
       |)""".stripMargin

  /** Autocorrelation of the daily revenue series at lags 1..7 — the
    * seasonality detector behind the DOW profile: a strong lag-7 peak
    * means weekly periodicity, a slow lag-1 decay means trend. Shape:
    * the fact table collapses scan-side to the DAYS frame (one integer
    * cents sum per day — map-side combined, value-domain-sized), the
    * lag alignment is a self-join of that dimension-sized frame on
    * `day − lag` (broadcast-scale; the corpus is never touched again),
    * and each lag's Pearson terms are exact integer/DECIMAL sums, so
    * the statistic is accumulation-order-independent.
    */
  val AutocorrMaxLag = 7

  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di"), col("yc").as("rev"))
    val lags = s.range(1, AutocorrMaxLag + 1).select(col("id").cast("int").as("lag"))
    // aligned pairs: x at day di, y at day di - lag
    val aligned = days.select(col("di"), col("rev").as("x"))
      .crossJoin(broadcast(lags))
      .join(days.select(col("di").as("dj"), col("rev").as("y")),
        col("dj") === col("di") - col("lag"))
    aligned.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x").cast(Dec0) * col("y"))).as("sxy"),
        sum((col("x").cast(Dec0) * col("x"))).as("sxx"),
        sum((col("y").cast(Dec0) * col("y"))).as("syy"))
      .select(col("lag"), col("n"),
        NumFns.roundPortable(
          (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (sqrt(col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("autocorr"))
      .orderBy(col("lag"))
  }

  val qAutocorrOracle: String =
    s"""WITH days AS (SELECT di, yc AS rev FROM (${dailyCentsSql()})),
       |lags AS (SELECT unnest(range(1, ${AutocorrMaxLag + 1})) AS lag),
       |al AS (
       |  SELECT l.lag, a.rev AS x, b.rev AS y
       |  FROM days a CROSS JOIN lags l
       |  JOIN days b ON b.di = a.di - l.lag
       |),
       |ag AS (
       |  SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
       |    sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
       |    sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
       |  FROM al GROUP BY lag
       |)
       |SELECT CAST(lag AS INT) AS lag, n,
       |  ${NumFns.roundPortableSql(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
            " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
            " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 6)}
       |    AS autocorr
       |FROM ag ORDER BY lag""".stripMargin

  /** Classical seasonal decomposition (STL-lite) of the daily revenue
    * series: trend = centered 7-observation moving average, seasonal =
    * day-of-week mean of the detrended series, residual = the rest —
    * the explainability layer over `q_dow_profile`/`q_autocorr`'s
    * detection. Shape: the fact table collapses scan-side to the
    * integer-cents DAYS frame once; the MA window, the DOW means, and
    * the residual all run over that dimension-sized aggregate (the
    * unpartitioned window is over cells, never rows). Exactness: the
    * trend is an exact-integer 7-sum divided once; detrended values are
    * identical IEEE doubles on both engines and every cross-row mean
    * DECIMAL-sums them.
    */
  /** Shared decomposition frame `(di, dow, rev, trend, seasonal)` —
    * UNROUNDED, consumed by [[qSeasonalDecompose]] (rounded emission)
    * and [[qSeasonalStrength]] (variance ratios). One definition, like
    * the oracle's shared CTE chain.
    */
  private def decomposed(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di"), col("yc").as("rev"))
    val w = Window.orderBy(col("di")).rowsBetween(-3, 3)
    val trended = days
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("s7", sum(col("rev")).over(w))
      .filter(col("n7") === 7) // only fully-windowed observations
      .select(col("di"), col("rev"),
        (col("s7") / lit(7.0)).as("trend"),
        ((col("di") + 3) % 7).as("dow")) // 1992-01-01 was a Wednesday
    val seasonal = trended
      .groupBy(col("dow"))
      .agg((sum((col("rev") - col("trend")).cast(Dec12)).cast("double")
        / count(lit(1))).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("dow"))
  }

  /** Oracle CTE chain ending in `t2(di, rev, trend, dow)` and
    * `se(dow, seasonal)` — the SQL twin of [[decomposed]], shared by
    * both consumers' oracles.
    */
  private val decomposeCteSql: String =
    s"""days AS (SELECT di, yc AS rev FROM (${dailyCentsSql()})),
       |tr AS (
       |  SELECT di, rev,
       |    count(*) OVER w AS n7, sum(rev) OVER w AS s7,
       |    (di + 3) % 7 AS dow
       |  FROM days
       |  WINDOW w AS (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
       |),
       |t2 AS (
       |  SELECT di, rev, s7 / 7.0 AS trend, dow FROM tr WHERE n7 = 7
       |),
       |se AS (
       |  SELECT dow,
       |    CAST(sum(CAST(rev - trend AS DECIMAL(38,12))) AS DOUBLE) / count(*)
       |      AS seasonal
       |  FROM t2 GROUP BY dow
       |)""".stripMargin

  def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    decomposed(s, dir)
      .select(col("di"), col("dow"), col("rev").as("rev_cents"),
        NumFns.roundPortable(col("trend"), 6).as("trend"),
        NumFns.roundPortable(col("seasonal"), 6).as("seasonal"),
        NumFns.roundPortable(
          col("rev") - col("trend") - col("seasonal"), 6).as("residual"))
      .orderBy(col("di"))

  val qSeasonalDecomposeOracle: String =
    s"""WITH $decomposeCteSql
       |SELECT CAST(di AS INTEGER) AS di, CAST(t2.dow AS INTEGER) AS dow, CAST(rev AS BIGINT) AS rev_cents,
       |  ${NumFns.roundPortableSql("trend", 6)} AS trend,
       |  ${NumFns.roundPortableSql("seasonal", 6)} AS seasonal,
       |  ${NumFns.roundPortableSql("rev - trend - seasonal", 6)} AS residual
       |FROM t2 JOIN se ON se.dow = t2.dow
       |ORDER BY di""".stripMargin

  /** Seasonal and trend STRENGTH of the decomposition (Hyndman's
    * F-statistics): F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) — the one-number answers to
    * "is the weekday pattern worth modeling at all" that reading
    * q_seasonal_decompose's 2000 component rows cannot give. Both
    * variances are population moments of the SAME shared decomposition
    * frame ([[decomposed]] — one definition, one oracle CTE chain), so
    * the strengths are exactly consistent with the emitted components.
    * Shape: the decomposition is day-frame work; the strengths are one
    * more aggregate over it (DECIMAL-stable moment sums, doubles only
    * in the final ratios).
    */
  def qSeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val f = decomposed(s, dir)
      .select(col("di"),
        (col("rev") - col("trend") - col("seasonal")).as("r"),
        (col("rev") - col("trend")).as("sr"), // S + R
        (col("rev") - col("seasonal")).as("tr")) // T + R
    def popVar(sx: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column) =
      (sxx.cast("double") / col("n")) -
        (sx.cast("double") / col("n")) * (sx.cast("double") / col("n"))
    val m = f.agg(count(lit(1)).as("n"),
      sum(col("r").cast(Dec12)).as("s_r"), sum((col("r") * col("r")).cast(Dec12)).as("q_r"),
      sum(col("sr").cast(Dec12)).as("s_sr"), sum((col("sr") * col("sr")).cast(Dec12)).as("q_sr"),
      sum(col("tr").cast(Dec12)).as("s_tr"), sum((col("tr") * col("tr")).cast(Dec12)).as("q_tr"))
    val vR = popVar(col("s_r"), col("q_r"))
    val vSR = popVar(col("s_sr"), col("q_sr"))
    val vTR = popVar(col("s_tr"), col("q_tr"))
    m.select(col("n").as("n_days"),
      NumFns.roundPortable(greatest(lit(0.0), lit(1.0) - vR / vSR), 6)
        .as("f_seasonal"),
      NumFns.roundPortable(greatest(lit(0.0), lit(1.0) - vR / vTR), 6)
        .as("f_trend"))
  }

  val qSeasonalStrengthOracle: String = {
    def varSql(s: String, q: String) =
      s"(CAST($q AS DOUBLE) / n - (CAST($s AS DOUBLE) / n) * (CAST($s AS DOUBLE) / n))"
    s"""WITH $decomposeCteSql,
       |comp AS (
       |  SELECT di, rev - trend - se.seasonal AS r,
       |    rev - trend AS sr, rev - se.seasonal AS tr2
       |  FROM t2 JOIN se ON se.dow = t2.dow
       |),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(r AS DECIMAL(38,12))) AS s_r,
       |    sum(CAST(r * r AS DECIMAL(38,12))) AS q_r,
       |    sum(CAST(sr AS DECIMAL(38,12))) AS s_sr,
       |    sum(CAST(sr * sr AS DECIMAL(38,12))) AS q_sr,
       |    sum(CAST(tr2 AS DECIMAL(38,12))) AS s_tr,
       |    sum(CAST(tr2 * tr2 AS DECIMAL(38,12))) AS q_tr
       |  FROM comp
       |)
       |SELECT n AS n_days,
       |  ${NumFns.roundPortableSql(
            s"greatest(0.0, 1.0 - ${varSql("s_r", "q_r")} / ${varSql("s_sr", "q_sr")})",
            6)} AS f_seasonal,
       |  ${NumFns.roundPortableSql(
            s"greatest(0.0, 1.0 - ${varSql("s_r", "q_r")} / ${varSql("s_tr", "q_tr")})",
            6)} AS f_trend
       |FROM m""".stripMargin
  }

  /** Sigma multiple for [[qSeasonalAnomaly]]. */
  val SeasonalAnomalyZ = 3.0

  /** Seasonally-adjusted anomaly days: flag days whose decomposition
    * RESIDUAL exceeds [[SeasonalAnomalyZ]]·σ_R — the detector
    * q_anomaly_zscore cannot be: an alarm on the raw series fires every
    * weekend (that's the seasonal component doing its job) and misses a
    * genuinely anomalous Saturday that is merely "weekday-sized". Built
    * on the SAME shared decomposition frame ([[decomposed]]) as the
    * decompose/strength pair, so the three operators can never drift
    * apart. σ_R is the population std of residuals (DECIMAL-stable
    * moments); the flag compare runs on identical doubles both engines.
    */
  def qSeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val f = decomposed(s, dir)
      .select(col("di"), col("dow"), col("rev"),
        (col("rev") - col("trend") - col("seasonal")).as("r"))
    val m = f.agg(count(lit(1)).as("n"),
      sum(col("r").cast(Dec12)).as("s_r"),
      sum((col("r") * col("r")).cast(Dec12)).as("q_r"))
    val mu = col("s_r").cast("double") / col("n")
    val sd = sqrt(col("q_r").cast("double") / col("n") - mu * mu)
    f.crossJoin(broadcast(m))
      .filter(abs(col("r") - mu) > lit(SeasonalAnomalyZ) * sd)
      .select(col("di"), col("dow"), col("rev").as("rev_cents"),
        NumFns.roundPortable((col("r") - mu) / sd, 4).as("resid_z"))
      .orderBy(col("di"))
  }

  val qSeasonalAnomalyOracle: String =
    s"""WITH $decomposeCteSql,
       |comp AS (
       |  SELECT di, t2.dow, rev,
       |    rev - trend - se.seasonal AS r
       |  FROM t2 JOIN se ON se.dow = t2.dow
       |),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(r AS DECIMAL(38,12))) AS s_r,
       |    sum(CAST(r * r AS DECIMAL(38,12))) AS q_r
       |  FROM comp
       |)
       |SELECT CAST(di AS INTEGER) AS di, CAST(dow AS INTEGER) AS dow,
       |  CAST(rev AS BIGINT) AS rev_cents,
       |  ${NumFns.roundPortableSql(
            "(r - CAST(s_r AS DOUBLE) / n) / " +
            "sqrt(CAST(q_r AS DOUBLE) / n " +
            "- (CAST(s_r AS DOUBLE) / n) * (CAST(s_r AS DOUBLE) / n))", 4)}
       |    AS resid_z
       |FROM comp, m
       |WHERE abs(r - CAST(s_r AS DOUBLE) / n) > $SeasonalAnomalyZ *
       |  sqrt(CAST(q_r AS DOUBLE) / n
       |    - (CAST(s_r AS DOUBLE) / n) * (CAST(s_r AS DOUBLE) / n))
       |ORDER BY di""".stripMargin

  /** Wald–Wolfowitz runs test on the sign of day-over-day revenue moves
    * — the nonparametric "is this series actually random" gate that
    * autocorrelation (a LINEAR measure) can miss: too few runs means
    * momentum, too many means oscillation, either way naive-forecast
    * baselines and CUSUM alarm thresholds are miscalibrated. The
    * statistic is exact integer counting (n⁺ up-moves, n⁻ down-moves,
    * R sign-runs; zero moves drop, the standard convention) with the
    * normal approximation z = (R − μ_R)/σ_R and the shared A&S p-value.
    * Shape: day cells → lag diff (one window over the aggregate) →
    * sign-change counting (another) → a 1-row closed form.
    */
  def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di").cast("long").as("di"), col("yc").as("rev"))
    val w = Window.orderBy(col("di"))
    val moves = days
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
      .withColumn("s", signum(col("rev") - col("prev")).cast("long"))
    val runs = moves
      .withColumn("ps", lag(col("s"), 1).over(w))
      .withColumn("new_run",
        when(col("ps").isNull || col("s") =!= col("ps"), 1L).otherwise(0L))
    val agg = runs.agg(
      sum((col("s") === 1).cast("long")).as("n_up"),
      sum((col("s") === -1).cast("long")).as("n_down"),
      sum(col("new_run")).as("r"))
    val n1 = col("n_up").cast("double")
    val n2 = col("n_down").cast("double")
    val muR = lit(2.0) * n1 * n2 / (n1 + n2) + 1.0
    val varR = (muR - 1.0) * (muR - 2.0) / (n1 + n2 - 1.0)
    val z = (col("r") - muR) / sqrt(varR)
    agg.select(col("n_up"), col("n_down"), col("r").as("n_runs"),
      NumFns.roundPortable(z, 6).as("z"),
      NumFns.roundPortable(NumFns.normTwoSidedP(z), 6).as("p_value"))
  }

  val qRunsTestOracle: String = {
    val n1 = "CAST(n_up AS DOUBLE)"
    val n2 = "CAST(n_down AS DOUBLE)"
    val muR = s"(2.0 * $n1 * $n2 / ($n1 + $n2) + 1.0)"
    val varR = s"(($muR - 1.0) * ($muR - 2.0) / ($n1 + $n2 - 1.0))"
    val z = s"((r - $muR) / sqrt($varR))"
    s"""WITH days AS (SELECT di, yc AS rev FROM (${dailyCentsSql()})),
       |mv AS (
       |  SELECT di, sign(rev - prev) AS s FROM (
       |    SELECT di, rev, lag(rev) OVER (ORDER BY di) AS prev FROM days
       |  ) WHERE prev IS NOT NULL AND rev != prev
       |),
       |rn AS (
       |  SELECT s, CASE WHEN ps IS NULL OR s != ps THEN 1 ELSE 0 END
       |    AS new_run
       |  FROM (SELECT s, lag(s) OVER (ORDER BY di) AS ps FROM mv)
       |),
       |ag AS (
       |  SELECT CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_up,
       |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       |    CAST(sum(new_run) AS BIGINT) AS r
       |  FROM rn
       |)
       |SELECT n_up, n_down, r AS n_runs,
       |  ${NumFns.roundPortableSql(z, 6)} AS z,
       |  ${NumFns.roundPortableSql(NumFns.normTwoSidedPSql(z), 6)} AS p_value
       |FROM ag""".stripMargin
  }

  /** Pettitt rank-based changepoint test on the daily revenue series —
    * the robust companion to q_cusum_changepoint's mean-CUSUM: rank
    * statistics are immune to the heavy-tailed daily spikes that drag a
    * mean-based alarm, so Pettitt finds the structural shift CUSUM
    * dates wrong. U_t = 2·Σ_{i≤t} r_i − t·(n+1) over global midranks;
    * the changepoint is argmax |U_t| with the standard significance
    * approximation p ≈ 2·exp(−6K²/(n³+n²)). Exactness: midranks come
    * from value CELLS (doubled to stay integer: 2·rank is a whole
    * number), so every U_t is an exact integer; only the final p is a
    * double. Shape: rank-from-cells (value-domain), one running-sum
    * window over the day frame, a 1-row argmax.
    */
  def qPettitt(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di").cast("long").as("di"), col("yc").as("rev"))
    // doubled midrank per VALUE cell: 2·r = 2·below + c + 1 (integer)
    val cells = days.groupBy(col("rev")).agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("rev"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("below", coalesce(sum(col("c")).over(wv), lit(0L)))
      .select(col("rev"), (lit(2) * col("below") + col("c") + 1).as("r2"))
    val wT = Window.orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val walked = days.join(broadcast(ranked), Seq("rev"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("t", row_number().over(Window.orderBy(col("di"))).cast("long"))
      // U_t = 2·Σ_{i≤t} r_i − t·(n+1) = Σ r2_i − t·(n+1): exact integers
      .withColumn("u", sum(col("r2")).over(wT) - col("t") * (col("n") + 1))
    val n = col("n").cast("double")
    walked.orderBy(abs(col("u")).desc, col("di")).limit(1)
      .select(col("di").as("change_day"), col("t").as("t_index"),
        col("u").as("u_stat"),
        NumFns.roundPortable(
          lit(2.0) * exp(lit(-6.0) * col("u") * col("u")
            / (n * n * n + n * n)), 6).as("p_approx"))
  }

  val qPettittOracle: String =
    s"""WITH days AS (SELECT di, yc AS rev FROM (${dailyCentsSql()})),
       |cells AS (SELECT rev, count(*) AS c FROM days GROUP BY rev),
       |rk AS (
       |  SELECT rev,
       |    2 * COALESCE(sum(c) OVER (ORDER BY rev
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + c + 1 AS r2
       |  FROM cells
       |),
       |wk AS (
       |  SELECT di,
       |    CAST(count(*) OVER () AS BIGINT) AS n,
       |    CAST(row_number() OVER (ORDER BY di) AS BIGINT) AS t,
       |    CAST(sum(r2) OVER (ORDER BY di
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS sr
       |  FROM days JOIN rk USING (rev)
       |)
       |SELECT di AS change_day, t AS t_index,
       |  CAST(sr - t * (n + 1) AS BIGINT) AS u_stat,
       |  ${NumFns.roundPortableSql(
            "2.0 * exp(-6.0 * CAST(sr - t * (n + 1) AS DOUBLE) " +
            "* (sr - t * (n + 1)) / (CAST(n AS DOUBLE) * n * n + " +
            "CAST(n AS DOUBLE) * n))", 6)} AS p_approx
       |FROM wk
       |ORDER BY abs(sr - t * (n + 1)) DESC, di
       |LIMIT 1""".stripMargin

  /** χ² critical value at α = 0.05, df = 6 (7 weekday treatments). */
  val FriedmanCrit6 = 12.591587243743977

  /** Friedman rank test of a weekday effect on event traffic — the
    * nonparametric companion to q_dow_profile's descriptive means:
    * within each complete week (the block), the 7 daily event counts
    * are ranked 1..7, and χ²_F = 12/(n·k·(k+1))·ΣR_j² − 3n(k+1) asks
    * whether weekday rank sums diverge more than chance. Blocking by
    * week removes the trend/level drift that would contaminate a pooled
    * Kruskal-Wallis — each week is its own control. (The EVENT stream
    * is the dense daily series at every scale; the sparse-day order
    * series would leave no complete blocks at small SF.) Determinism:
    * within-week ranks use a total (count, dow) order (exact integers;
    * ties broken by weekday, documented); rank sums and ΣR² stay
    * integer, so χ² is one double expression at the end, compared
    * against the fixed df=6 critical value. Shape: day cells →
    * per-week rank windows (7-row frames) → a 7-row rank-sum aggregate.
    */
  def qFriedman(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .groupBy(datediff(to_date(col("ts")), lit("2020-01-01"))
        .cast("long").as("di"))
      .agg(count(lit(1)).as("rev"))
      .withColumn("wk", expr("di div 7"))
      .withColumn("dow", col("di") % 7)
    val wWeek = Window.partitionBy(col("wk"))
    val full = days
      .withColumn("wdays", count(lit(1)).over(wWeek))
      .filter(col("wdays") === 7)
      .withColumn("rk", row_number().over(
        wWeek.orderBy(col("rev"), col("dow"))).cast("long"))
    val sums = full.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_weeks"), sum(col("rk")).as("rsum"))
    val wAll = Window.partitionBy()
    val k = lit(7.0)
    sums
      .withColumn("n", max(col("n_weeks")).over(wAll).cast("double"))
      .withColumn("srr", sum(col("rsum") * col("rsum")).over(wAll))
      .select(col("dow"), col("n_weeks"), col("rsum"),
        NumFns.roundPortable(
          lit(12.0) * col("srr") / (col("n") * k * (k + 1))
            - lit(3.0) * col("n") * (k + 1), 6).as("chi2"),
        (lit(12.0) * col("srr") / (col("n") * k * (k + 1))
          - lit(3.0) * col("n") * (k + 1) > FriedmanCrit6)
          .as("significant"))
      .orderBy(col("dow"))
  }

  val qFriedmanOracle: String = {
    val chi2 = "12.0 * srr / (n * 7.0 * (7.0 + 1)) - 3.0 * n * (7.0 + 1)"
    s"""WITH days AS (
       |  SELECT CAST(CAST(ts AS DATE) - DATE '2020-01-01' AS BIGINT) AS di,
       |    count(*) AS rev
       |  FROM events GROUP BY 1
       |),
       |wkd AS (
       |  SELECT di // 7 AS wk, di % 7 AS dow, rev,
       |    count(*) OVER (PARTITION BY di // 7) AS wdays
       |  FROM days
       |),
       |rk AS (
       |  SELECT dow,
       |    CAST(row_number() OVER (PARTITION BY wk ORDER BY rev, dow)
       |      AS BIGINT) AS r
       |  FROM wkd WHERE wdays = 7
       |),
       |sums AS (
       |  SELECT dow, count(*) AS n_weeks, CAST(sum(r) AS BIGINT) AS rsum
       |  FROM rk GROUP BY dow
       |),
       |ag AS (
       |  SELECT dow, n_weeks, rsum,
       |    CAST(max(n_weeks) OVER () AS DOUBLE) AS n,
       |    CAST(sum(rsum * rsum) OVER () AS BIGINT) AS srr
       |  FROM sums
       |)
       |SELECT dow, n_weeks, rsum,
       |  ${NumFns.roundPortableSql(chi2, 6)} AS chi2,
       |  ($chi2 > $FriedmanCrit6) AS significant
       |FROM ag
       |ORDER BY dow""".stripMargin
  }

  /** Maximum drawdown of cumulative net daily revenue — the
    * worst-case peak-to-trough the capacity/treasury view asks for:
    * running cumulative revenue, its running peak, drawdown = peak −
    * cum, and the single worst day with its peak/trough anchors. Every
    * quantity is an exact integer cent sum, so the answer is exact and
    * tie-broken deterministically (earliest worst day). The windows are
    * the allowed partitionless-over-Aggregate shape: they slide over
    * the |days| cell frame, never raw orders.
    */
  def qDrawdown(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di").cast("long").as("di"), col("yc").as("rev"))
    // center daily revenue so the cumulative series actually dips: net
    // = rev − overall mean (an exact integer after flooring), the
    // standard de-drifting for drawdown on a growing series
    val tot = days.agg(sum(col("rev")).as("s"), count(lit(1)).as("n"))
      .select(floor(col("s") / col("n")).cast("long").as("mu"))
    val w = Window.orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = days.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("rev") - col("mu")).over(w))
      .withColumn("peak", max(col("cum")).over(w))
      .withColumn("dd", col("peak") - col("cum"))
    run.orderBy(col("dd").desc, col("di")).limit(1)
      .select(col("di").as("trough_day"),
        NumFns.roundPortable(col("dd").cast("double") / 100.0, 2)
          .as("max_drawdown"),
        NumFns.roundPortable(col("peak").cast("double") / 100.0, 2)
          .as("peak_cum"),
        NumFns.roundPortable(col("cum").cast("double") / 100.0, 2)
          .as("trough_cum"))
  }

  val qDrawdownOracle: String =
    s"""WITH days AS (SELECT di, yc AS rev FROM (${dailyCentsSql()})),
       |tot AS (
       |  SELECT CAST(floor(CAST(sum(rev) AS DOUBLE) / count(*)) AS BIGINT)
       |    AS mu
       |  FROM days
       |),
       |cum0 AS (
       |  SELECT di,
       |    CAST(sum(rev - mu) OVER (ORDER BY di
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM days, tot
       |),
       |run AS (
       |  SELECT di, cum,
       |    CAST(max(cum) OVER (ORDER BY di
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS peak
       |  FROM cum0
       |)
       |SELECT di AS trough_day,
       |  ${NumFns.roundPortableSql("CAST(peak - cum AS DOUBLE) / 100.0", 2)}
       |    AS max_drawdown,
       |  ${NumFns.roundPortableSql("CAST(peak AS DOUBLE) / 100.0", 2)}
       |    AS peak_cum,
       |  ${NumFns.roundPortableSql("CAST(cum AS DOUBLE) / 100.0", 2)}
       |    AS trough_cum
       |FROM run
       |ORDER BY peak - cum DESC, di
       |LIMIT 1""".stripMargin

  /** Backtest of the two zero-parameter forecasting baselines every
    * real model must beat — naive (ŷ_t = y_{t−1}) and seasonal-naive
    * (ŷ_t = y_{t−7}) — scored with MAE (exact integer cents) and SMAPE
    * (DECIMAL-summed terms). Lag alignment joins the dimension-sized
    * days frame on `di − lag` (calendar-exact under gaps, unlike a
    * row-offset lag window); the corpus contributes one scan.
    */
  def qForecastEval(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di"), col("yc").as("rev"))
    val models = s.range(0, 2).select(
      when(col("id") === 0, "naive_lag1").otherwise("seasonal_naive_lag7").as("model"),
      when(col("id") === 0, 1).otherwise(7).as("lag"))
    val scored = days.select(col("di"), col("rev").as("y"))
      .crossJoin(broadcast(models))
      .join(days.select(col("di").as("dj"), col("rev").as("f")),
        col("dj") === col("di") - col("lag"))
      .select(col("model"),
        abs(col("y") - col("f")).as("ae"),
        ((lit(2.0) * abs(col("y") - col("f")))
          / (abs(col("y")) + abs(col("f")))).cast(Dec12).as("sm"))
    scored.groupBy(col("model"))
      .agg(count(lit(1)).as("n"),
        sum(col("ae")).as("sae"),
        sum(col("sm")).as("ssm"))
      .select(col("model"), col("n"),
        NumFns.roundPortable(col("sae") / col("n").cast("double"), 2).as("mae_cents"),
        NumFns.roundPortable(col("ssm").cast("double") / col("n"), 6).as("smape"))
      .orderBy(col("model"))
  }

  val qForecastEvalOracle: String =
    s"""WITH days AS (SELECT di, yc AS rev FROM (${dailyCentsSql()})),
       |models AS (
       |  SELECT 'naive_lag1' AS model, 1 AS lag
       |  UNION ALL SELECT 'seasonal_naive_lag7', 7
       |),
       |sc AS (
       |  SELECT m.model, abs(a.rev - b.rev) AS ae,
       |    CAST((2.0 * abs(a.rev - b.rev)) / (abs(a.rev) + abs(b.rev))
       |      AS DECIMAL(38,12)) AS sm
       |  FROM days a CROSS JOIN models m
       |  JOIN days b ON b.di = a.di - m.lag
       |)
       |SELECT model, count(*) AS n,
       |  ${NumFns.roundPortableSql("sum(ae) / CAST(count(*) AS DOUBLE)", 2)} AS mae_cents,
       |  ${NumFns.roundPortableSql("CAST(sum(sm) AS DOUBLE) / count(*)", 6)} AS smape
       |FROM sc GROUP BY model
       |ORDER BY model""".stripMargin

  /** Bucketed global range join — the non-equi-key time-range join made
    * scale-safe: for every purchase, the count of error events from ANY
    * user within ±5 minutes, plus the nearest error's absolute gap.
    * There is no equi key to hash on, so the naive form is an all-pairs
    * time comparison; the scalable shape buckets time into windows the
    * width of the match radius (600 s): each error lands in every bucket
    * its ±300 s window overlaps (≤2 — radius = bucket/2), each purchase
    * in exactly one, and the join becomes bucket-equality + residual
    * |Δt| ≤ 300 s. Shuffles carry (bucket, µs) longs; candidates per
    * purchase are bounded by the errors in two buckets, and a hot bucket
    * is ordinary AQE-skew territory. This is the standard event-
    * correlation primitive (incident windows, sensor coincidence) that
    * a plain hash join cannot express.
    */
  def qRangeJoinGlobal(s: SparkSession, dir: String): DataFrame = {
    val RadiusUs = 300L * 1000000L
    val BucketUs = 2L * RadiusUs
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("us"), floor(col("us") / BucketUs).as("bk"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("us").as("eus"),
        explode(array_distinct(array(
          floor((col("us") - RadiusUs) / BucketUs),
          floor((col("us") + RadiusUs) / BucketUs)))).as("bk"))
    purchases.join(errors,
        purchases("bk") === errors("bk") &&
          abs(col("eus") - col("us")) <= RadiusUs, "left")
      .groupBy(col("event_id"), col("us"))
      .agg(
        sum(when(col("eus").isNotNull, 1L).otherwise(0L)).as("n_errors_5m"),
        min(abs(col("eus") - col("us"))).as("nearest_error_gap_us"))
      .select(col("event_id"), col("n_errors_5m"), col("nearest_error_gap_us"))
      .orderBy(col("event_id"))
  }

  val qRangeJoinGlobalOracle: String =
    """WITH p AS (
      |  SELECT event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |),
      |e AS (SELECT epoch_us(ts) AS eus FROM events WHERE event_type = 'error')
      |SELECT p.event_id,
      |  CAST(sum(CASE WHEN e.eus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_errors_5m,
      |  min(abs(e.eus - p.us)) AS nearest_error_gap_us
      |FROM p LEFT JOIN e ON abs(e.eus - p.us) <= 300000000
      |GROUP BY p.event_id, p.us
      |ORDER BY p.event_id""".stripMargin

  /** Trailing-7-day rolling Pearson correlation between daily event
    * volume and daily event value — the metric-coupling monitor ("did
    * traffic decouple from revenue this week?"). Scale shape: the corpus
    * collapses to one row per day (map-side-combined aggregation with
    * the value sum quantized to exact integer micros), and ALL window
    * work — five trailing sums — runs over that dimension-sized day
    * frame in ONE pass (an ORDER BY frame is sequential on both engines,
    * so the double sums need no stabilization). The correlation is then
    * fixed-order arithmetic over identical doubles, portably rounded;
    * windows shorter than 7 days emit NULL, as does a zero-variance
    * window.
    */
  def qRollingCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
        col("value"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("x"),
        sum(NumFns.roundAwayLong(col("value") * lit(1e6))).as("y"))
      .select(col("day"), col("x").cast("double").as("x"),
        (col("y").cast("double") / lit(1e6)).as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    val corr =
      (lit(7.0) * col("sxy") - col("sx") * col("sy")) /
        (sqrt(lit(7.0) * col("sxx") - col("sx") * col("sx")) *
          sqrt(lit(7.0) * col("syy") - col("sy") * col("sy")))
    daily
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .select(col("day"), col("x").cast("long").as("n_events"),
        NumFns.roundPortable(col("y"), 6).as("value_sum"),
        when(col("n7") === 7 &&
            (lit(7.0) * col("sxx") - col("sx") * col("sx")) > 0 &&
            (lit(7.0) * col("syy") - col("sy") * col("sy")) > 0,
          NumFns.roundPortable(corr, 6)).as("corr_7d"))
      .orderBy(col("day"))
  }

  val qRollingCorrOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
       |    CAST(count(*) AS DOUBLE) AS x,
       |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS y
       |  FROM events GROUP BY day
       |),
       |r AS (
       |  SELECT day, x, y,
       |    count(*) OVER w AS n7,
       |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
       |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
       |    sum(x * y) OVER w AS sxy
       |  FROM daily
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       |)
       |SELECT day, CAST(x AS BIGINT) AS n_events,
       |  ${NumFns.roundPortableSql("y", 6)} AS value_sum,
       |  CASE WHEN n7 = 7 AND (7.0 * sxx - sx * sx) > 0 AND (7.0 * syy - sy * sy) > 0
       |    THEN ${NumFns.roundPortableSql(
              "(7.0 * sxy - sx * sy) / (sqrt(7.0 * sxx - sx * sx) * sqrt(7.0 * syy - sy * sy))", 6)}
       |  END AS corr_7d
       |FROM r
       |ORDER BY day""".stripMargin

  /** SAX symbolization (Lin et al.) of the daily event-value series —
    * the time-series-to-text bridge: 7-day PAA means, z-normalized
    * against the whole series, cut at the N(0,1) quartile breakpoints
    * (−0.6745, 0, 0.6745) into a 4-letter alphabet. Once a series is a
    * symbol string, the TEXT machinery (n-gram counts, fingerprints,
    * dedup) applies to sensor/metric data verbatim — that is the point
    * of SAX at scale. Exactness: day cells carry micro-quantized int64
    * value sums; weekly PAA and the global moments are exact-integer
    * derived; z and the breakpoint comparisons are then identical IEEE
    * scalars on both engines (breakpoints are exact double literals).
    * Shape: day cells → ≤weeks frame → 1-row moments broadcast — all
    * dimension-sized after the one scan.
    */
  def qSax(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(NumFns.roundAwayLong(col("value") * lit(1e6))).as("vq"))
    val weeks = days
      .groupBy(floor(datediff(col("day"), lit("2024-01-01")) / 7)
        .cast("long").as("week"))
      .agg(count(lit(1)).as("n_days"), sum(col("vq")).as("wq"))
      .filter(col("n_days") === 7) // complete weeks only
      .select(col("week"),
        (col("wq").cast("double") / lit(7e6)).as("paa"))
    val mom = weeks.agg(count(lit(1)).cast("double").as("n"),
        sum(col("paa").cast(Dec12)).cast("double").as("sx"),
        sum((col("paa") * col("paa")).cast(Dec12)).cast("double").as("sxx"))
      .select((col("sx") / col("n")).as("mu"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1.0)).as("sd"))
    val z = (col("paa") - col("mu")) / col("sd")
    weeks.crossJoin(broadcast(mom))
      .select(col("week"),
        NumFns.roundPortable(col("paa"), 4).as("paa"),
        NumFns.roundPortable(z, 4).as("z"),
        when(z < -0.6745, "a").when(z < 0.0, "b")
          .when(z < 0.6745, "c").otherwise("d").as("symbol"))
      .orderBy(col("week"))
  }

  val qSaxOracle: String =
    s"""WITH days AS (
       |  SELECT ts::DATE AS day,
       |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS vq
       |  FROM events GROUP BY 1
       |),
       |weeks AS (
       |  SELECT CAST(floor(date_diff('day', DATE '2024-01-01', day) / 7)
       |      AS BIGINT) AS week,
       |    count(*) AS n_days, CAST(sum(vq) AS BIGINT) AS wq
       |  FROM days GROUP BY 1
       |),
       |w AS (
       |  SELECT week, CAST(wq AS DOUBLE) / 7e6 AS paa
       |  FROM weeks WHERE n_days = 7
       |),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(paa AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(paa * paa AS DECIMAL(38,12))) AS DOUBLE) AS sxx
       |  FROM w
       |),
       |k AS (
       |  SELECT sx / n AS mu,
       |    sqrt((sxx - sx * sx / n) / (n - 1.0)) AS sd
       |  FROM m
       |)
       |SELECT week, ${NumFns.roundPortableSql("paa", 4)} AS paa,
       |  ${NumFns.roundPortableSql("(paa - mu) / sd", 4)} AS z,
       |  CASE WHEN (paa - mu) / sd < -0.6745 THEN 'a'
       |       WHEN (paa - mu) / sd < 0.0 THEN 'b'
       |       WHEN (paa - mu) / sd < 0.6745 THEN 'c'
       |       ELSE 'd' END AS symbol
       |FROM w, k
       |ORDER BY week""".stripMargin

  /** CDC log application (the MERGE/upsert-compaction kernel): the event
    * stream is read as a change log — every event is an upsert of the
    * user's profile value and an `error` event is a tombstone — and the
    * final state is last-writer-wins per key with a total, reproducible
    * order (event time, then event_id as the uniquifier: a bare-ts order
    * would be nondeterministic under same-microsecond writes, the classic
    * CDC replay bug). One user-keyed window (row_number desc, keep 1),
    * tombstoned keys dropped AFTER picking the winner — a tombstone only
    * deletes if it IS the latest op. At 100 TB this is exactly the
    * log-compaction shuffle: one exchange on the key, state never larger
    * than one row per key, and the same plan incrementalizes (new log
    * chunk unioned with prior compacted state, same window).
    */
  def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_op"),
        NumFns.roundPortable(col("value"), 6).as("last_value"),
        col("n_ops"))
      .orderBy(col("user_id"))
  }

  val qCdcApplyOracle: String =
    s"""WITH r AS (
       |  SELECT user_id, event_type, value,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n_ops
       |  FROM events
       |)
       |SELECT user_id, event_type AS last_op,
       |  ${NumFns.roundPortableSql("value", 6)} AS last_value, n_ops
       |FROM r
       |WHERE rn = 1 AND event_type <> 'error'
       |ORDER BY user_id""".stripMargin

  /** Point-in-time (PIT) join — the consumption side of [[qScd2Build]]:
    * each purchase is joined to the SCD2 "activity state" dimension built
    * from the user's NON-purchase events (which browsing state was
    * current when the purchase landed), matching on
    * `valid_from ≤ ts < valid_to` with the open version unbounded. This
    * is the lookup every feature store and temporal warehouse serves:
    * facts against dimension-AS-OF-fact-time, never dimension-as-of-now.
    * Shape: both sides hash to user_id (one co-located equi-join, the
    * interval predicate is a cheap residual); per-user dim rows are
    * bounded by state CHANGES — a sliver of the log — so the probe side
    * never amplifies. Purchases before the user's first state change
    * have no dimension row and drop out (inner PIT semantics).
    */
  def qPitJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val dim = Tables.events(s, dir)
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("state"))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(w))
      .select(col("user_id"), col("state"),
        col("us").as("valid_from_us"), col("valid_to_us"))
    val fact = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"), col("value"))
    fact.join(dim,
        fact("user_id") === dim("user_id") &&
          col("pus") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("pus") < col("valid_to_us")))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_purchases"),
        NumFns.stableSum(col("value"), 6).as("sum_value"))
      .orderBy(col("state"))
  }

  val qPitJoinOracle: String =
    s"""WITH d0 AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type AS state,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS prev_state
       |  FROM events WHERE event_type <> 'purchase'
       |), dim AS (
       |  SELECT user_id, state, us AS valid_from_us,
       |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS valid_to_us
       |  FROM d0 WHERE prev_state IS NULL OR prev_state <> state
       |), fact AS (
       |  SELECT user_id, epoch_us(ts) AS pus, value
       |  FROM events WHERE event_type = 'purchase'
       |)
       |SELECT dim.state, count(*) AS n_purchases,
       |  ${NumFns.stableSumSql("fact.value", 6)} AS sum_value
       |FROM fact JOIN dim ON fact.user_id = dim.user_id
       |  AND fact.pus >= dim.valid_from_us
       |  AND (dim.valid_to_us IS NULL OR fact.pus < dim.valid_to_us)
       |GROUP BY dim.state
       |ORDER BY dim.state""".stripMargin

  /** Each customer's region `(c_custkey, r_name)`: two broadcast
    * dimension hops, customer → nation → region.
    */
  def custRegion(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))

  /** SQL twin of [[custRegion]]. */
  val custRegionSql: String =
    """SELECT c_custkey, r_name FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey""".stripMargin

  /** Per-(region, day) revenue cells `(r_name, day, rev_cents)`: the
    * [[dailyCents]] sum keyed by region as well, `day` a long, shared by
    * [[qRollingMedian]] and [[qPinballLoss]].
    */
  private def regionDailyCents(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(custRegion(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long").as("day"))
      .agg(sum(NumFns.roundAwayLong(col("o_totalprice") * 100)).as("rev_cents"))

  /** SQL twin of [[regionDailyCents]]. */
  private val regionDailyCentsSql: String =
    s"""SELECT r_name,
       |  CAST(o_orderdate::DATE - DATE '1992-01-01' AS BIGINT) AS day,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
       |FROM orders JOIN ($custRegionSql) ON o_custkey = c_custkey
       |GROUP BY 1, 2""".stripMargin

  /** Peak concurrency via the endpoint sweep — per region, the maximum
    * number of simultaneously OPEN orders (open from order date through
    * the order's last ship date, inclusive) and the first day the peak
    * is reached. The classic interval-overlap maximum without an
    * interval self-join: each order contributes +1 at its start day and
    * −1 the day AFTER its end day, deltas collapse to per-(region, day)
    * NET cells in one map-side-combined aggregate, and a running sum
    * over each region's day series reads off the concurrency curve.
    * Shape at 100 TB: the sweep window runs over (region × active-day)
    * CELLS — thousands of rows — never raw orders; the only fact-sized
    * work is one orderkey-keyed aggregate for last-ship and broadcast
    * dimension hops to region.
    */
  def qMaxConcurrent(s: SparkSession, dir: String): DataFrame = {
    val ends = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("end_date"))
    // `ends` is one row per ORDER — fact-cardinality, not a dimension:
    // shuffle_hash, never broadcast (r12 engine-wide PlanAuditSpec ban)
    val spans = Tables.orders(s, dir)
      .join(ends.hint("shuffle_hash"), col("o_orderkey") === col("l_orderkey"))
      // r13: the old hard broadcast(geo) would OOM at real scale (geo is
      // one row per CUSTOMER — ~10⁹ rows at 100 TB, and an explicit hint
      // overrides Catalyst's threshold). shuffle_hash pins the join off
      // the broadcast path on BOTH sides: left free, Catalyst would
      // build the (small at test scale) fact-side per-order aggregate
      // and ship it over the wire — the PlanAuditSpec-banned shape.
      .join(custRegion(s, dir).hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .select(col("r_name"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long").as("start_day"),
        (datediff(col("end_date"), lit("1992-01-01")) + 1).cast("long").as("stop_day"))
    val cells = spans.select(col("r_name"), col("start_day").as("day"), lit(1L).as("delta"))
      .unionAll(spans.select(col("r_name"), col("stop_day").as("day"), lit(-1L).as("delta")))
      .groupBy(col("r_name"), col("day"))
      .agg(sum(col("delta")).as("net"))
    val wRun = Window.partitionBy(col("r_name")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("r_name"))
    cells.withColumn("open", sum(col("net")).over(wRun))
      .withColumn("peak", max(col("open")).over(wAll))
      .filter(col("open") === col("peak"))
      .groupBy(col("r_name"))
      .agg(max(col("peak")).as("peak_open"), min(col("day")).as("peak_day"))
      .orderBy(col("r_name"))
  }

  val qMaxConcurrentOracle: String =
    s"""WITH ends AS (
      |  SELECT l_orderkey, max(l_shipdate::DATE) AS end_date
      |  FROM lineitem GROUP BY l_orderkey
      |), spans AS (
      |  SELECT r_name,
      |    CAST(o_orderdate::DATE - DATE '1992-01-01' AS BIGINT) AS start_day,
      |    CAST(end_date - DATE '1992-01-01' + 1 AS BIGINT) AS stop_day
      |  FROM orders
      |  JOIN ends ON o_orderkey = l_orderkey
      |  JOIN ($custRegionSql) ON o_custkey = c_custkey
      |), cells AS (
      |  SELECT r_name, day, CAST(sum(delta) AS BIGINT) AS net FROM (
      |    SELECT r_name, start_day AS day, 1 AS delta FROM spans
      |    UNION ALL
      |    SELECT r_name, stop_day AS day, -1 AS delta FROM spans
      |  ) GROUP BY r_name, day
      |), run0 AS (
      |  SELECT r_name, day,
      |    CAST(sum(net) OVER (PARTITION BY r_name ORDER BY day) AS BIGINT) AS open
      |  FROM cells
      |), run AS (
      |  SELECT r_name, day, open,
      |    CAST(max(open) OVER (PARTITION BY r_name) AS BIGINT) AS peak
      |  FROM run0
      |)
      |SELECT r_name, max(peak) AS peak_open, min(day) AS peak_day
      |FROM run WHERE open = peak
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Exact trailing-15-day rolling MEDIAN of daily revenue per region —
    * the robust companion to q_moving_avg (a mean-based rolling stat
    * follows one whale order; the median doesn't). Revenue quantizes to
    * cents (exact — prices carry 2 decimals) so the only non-integer
    * arithmetic is the even-count midpoint, which is exact in double
    * (long ± long/2 under 2^53), and both engines share the linear-
    * interpolation quantile definition. Shape at 100 TB: the median
    * window slides over per-(region, day) CELLS — one map-side-combined
    * aggregate collapses the fact table first, then each region's
    * ≤|days| cells sort once; the RANGE frame on the integer day handles
    * calendar gaps without zero-densification.
    */
  def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val wMed = Window.partitionBy(col("r_name")).orderBy(col("day"))
      .rangeBetween(-14, 0)
    regionDailyCents(s, dir)
      .withColumn("med_cents", percentile(col("rev_cents"), lit(0.5)).over(wMed))
      .select(col("r_name"), col("day"), col("rev_cents"),
        NumFns.roundPortable(col("med_cents") / 100.0, 4).as("med_rev"))
      .orderBy(col("r_name"), col("day"))
  }

  val qRollingMedianOracle: String =
    s"""WITH cells AS ($regionDailyCentsSql), m AS (
       |  SELECT r_name, day, rev_cents,
       |    quantile_cont(rev_cents, 0.5) OVER (PARTITION BY r_name
       |      ORDER BY day RANGE BETWEEN 14 PRECEDING AND CURRENT ROW)
       |      AS med_cents
       |  FROM cells
       |)
       |SELECT r_name, day, rev_cents,
       |  ${NumFns.roundPortableSql("med_cents / 100.0", 4)} AS med_rev
       |FROM m
       |ORDER BY r_name, day""".stripMargin

  /** Lagged cross-correlation (CCF) between the daily view-count and
    * daily purchase-count series — the lead/lag discovery companion to
    * q_autocorr's single-series form: the lag whose |r| peaks is the
    * empirical view→purchase delay, the number a attribution window or a
    * forecast feature offset should come from, measured instead of
    * guessed. For each lag ℓ ∈ [−7, 7], Pearson r between view(d) and
    * purchase(d+ℓ) over the days where both exist. Shape at 100 TB: the
    * event stream collapses to per-(type, day) COUNT cells first
    * (map-side combined, |days| rows), the 15-lag sweep is a hash
    * equi-join of that tiny frame against itself shifted (day+ℓ is a
    * join KEY, not a window), and every moment is an exact integer sum —
    * the only doubles are the 15 final divisions. Determinism: integer
    * moments are order-free; identical division/sqrt inputs give
    * identical doubles on both engines; r is emitted rounded.
    */
  def qCrossCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2020-01-01")).cast("long").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val views = daily.filter(col("event_type") === "view")
      .select(col("day"), col("cnt").as("a"))
    val buys = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("bday"), col("cnt").as("b"))
    val lags = s.range(-7, 8).select(col("id").as("lag"))
    val matched = views.crossJoin(broadcast(lags))
      .join(buys, col("bday") === col("day") + col("lag"))
    matched.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
      .select(col("lag"), col("n_days"),
        NumFns.roundPortable(
          (col("n_days") * col("sab") - col("sa") * col("sb")).cast("double")
            / (sqrt((col("n_days") * col("saa") - col("sa") * col("sa"))
                .cast("double"))
              * sqrt((col("n_days") * col("sbb") - col("sb") * col("sb"))
                .cast("double"))), 6).as("r"))
      .orderBy(col("lag"))
  }

  val qCrossCorrOracle: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(CAST(ts AS DATE) - DATE '2020-01-01' AS BIGINT) AS day,
       |    count(*) AS cnt
       |  FROM events WHERE event_type IN ('view', 'purchase')
       |  GROUP BY 1, 2
       |), v AS (SELECT day, cnt AS a FROM daily WHERE event_type = 'view'),
       |b AS (SELECT day AS bday, cnt AS b FROM daily
       |  WHERE event_type = 'purchase'),
       |lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(-7, 8)),
       |m AS (
       |  SELECT lag, a, b FROM v CROSS JOIN lags
       |  JOIN b ON bday = day + lag
       |), ag AS (
       |  SELECT lag, count(*) AS n_days,
       |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
       |    CAST(sum(a * b) AS BIGINT) AS sab,
       |    CAST(sum(a * a) AS BIGINT) AS saa,
       |    CAST(sum(b * b) AS BIGINT) AS sbb
       |  FROM m GROUP BY lag
       |)
       |SELECT lag, n_days,
       |  ${NumFns.roundPortableSql(
            "CAST(n_days * sab - sa * sb AS DOUBLE) / " +
            "(sqrt(CAST(n_days * saa - sa * sa AS DOUBLE)) * " +
            "sqrt(CAST(n_days * sbb - sb * sb AS DOUBLE)))", 6)} AS r
       |FROM ag
       |ORDER BY lag""".stripMargin

  /** Train/test calendar cutoff for [[qPinballLoss]] (fixed date, not a
    * computed split — a forecast backtest that derives its cutoff from
    * the data leaks the future into the training window).
    */
  val PinballCutoff = "1999-01-01"

  /** The quantile levels scored by [[qPinballLoss]]. */
  val PinballTaus: Seq[(String, Double)] =
    Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9))

  /** Pinball (quantile) loss backtest of a per-region quantile forecast
    * — the eval that q_forecast_eval's point metrics (MAE/MAPE) cannot
    * express: a daily-revenue P90 used for capacity planning is only
    * right if it loses under the ASYMMETRIC check L_τ(y,ŷ) =
    * max(τ(y−ŷ), (τ−1)(y−ŷ)), the strictly proper score for quantiles.
    * Train = days before [[PinballCutoff]], model = the region's exact
    * training q10/q50/q90 (the [[Analytics.exactPercentilesMulti]]
    * rank-from-cells machinery), test = the rest. Shape at 100 TB: the
    * fact table collapses once to (region, day) revenue cells; the
    * quantile frame is |regions|-rows and broadcasts back; the τ sweep
    * melts scan-side (3× the CELL frame, not the fact table);
    * per-(region, τ) means are DECIMAL-stable sums.
    */
  def qPinballLoss(s: SparkSession, dir: String): DataFrame = {
    val cells = regionDailyCents(s, dir)
    val cut = datediff(to_date(lit(PinballCutoff)), to_date(lit("1992-01-01")))
    val train = cells.filter(col("day") < cut)
    val test = cells.filter(col("day") >= cut)
    val qs = Analytics.exactPercentiles(train, "r_name", "rev_cents",
      PinballTaus.map { case (name, p) => p -> name })
    // EXACT integer loss: τ = k/10 and qhat has ≤4 decimals, so
    // 10·10⁴·L = max(k·d4, (k−10)·d4) with d4 = 10⁴·cents − round(10⁴·qhat)
    // is an exact int64 — the double form (t·diff summed through a
    // decimal cast) put the sf1 ASIA/p90 MEAN exactly on a 6th-decimal
    // half boundary, where the engines' per-row double→DECIMAL casts
    // disagreed by an ulp and flipped the emitted digit (r9)
    val melted = test.join(broadcast(qs), Seq("r_name"))
      .select(col("r_name"), col("rev_cents"),
        explode(array(PinballTaus.map { case (name, p) =>
          struct(lit(name).as("tau"),
            lit(math.round(p * 10).toInt).as("k"),
            NumFns.roundAwayLong(col(name) * 1e4).as("q4"))
        }: _*)).as("x"))
      .select(col("r_name"), col("rev_cents"), col("x.tau").as("tau"),
        col("x.k").as("k"), col("x.q4").as("q4"))
    val d4 = col("rev_cents") * 10000L - col("q4")
    melted
      .withColumn("loss_s", greatest(col("k") * d4, (col("k") - 10) * d4))
      .groupBy(col("r_name"), col("tau"))
      .agg(count(lit(1)).as("n_test"),
        NumFns.roundPortable(max(col("q4")).cast("double") / 1e6, 4)
          .as("q_forecast"),
        NumFns.roundPortable(
          sum(col("loss_s").cast(Dec0))
            .cast("double") / 1e7 / count(lit(1)), 6).as("pinball"))
      .orderBy(col("r_name"), col("tau"))
  }

  val qPinballLossOracle: String = {
    val melt = PinballTaus.map { case (name, p) =>
      s"""SELECT te.r_name, te.rev_cents, '$name' AS tau,
         |    ${math.round(p * 10).toInt} AS k,
         |    CAST(round(q.$name * 1e4) AS BIGINT) AS q4
         |  FROM te JOIN q USING (r_name)""".stripMargin
    }.mkString("\n|  UNION ALL\n|  ")
    val qCols = PinballTaus.map { case (name, p) =>
      s"round(quantile_cont(rev_cents, $p), 4) AS $name" }.mkString(", ")
    s"""WITH cells AS ($regionDailyCentsSql),
       |tr AS (SELECT * FROM cells
       |  WHERE day < DATE '$PinballCutoff' - DATE '1992-01-01'),
       |te AS (SELECT * FROM cells
       |  WHERE day >= DATE '$PinballCutoff' - DATE '1992-01-01'),
       |q AS (SELECT r_name, $qCols FROM tr GROUP BY r_name),
       |m AS (
       |  $melt
       |),
       |l AS (
       |  SELECT r_name, tau,
       |    greatest(k * (rev_cents * 10000 - q4),
       |      (k - 10) * (rev_cents * 10000 - q4)) AS loss_s, q4
       |  FROM m
       |)
       |SELECT r_name, tau, count(*) AS n_test,
       |  ${NumFns.roundPortableSql("CAST(max(q4) AS DOUBLE) / 1e6", 4)}
       |    AS q_forecast,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CAST(loss_s AS HUGEINT)) AS DOUBLE) / 1e7 / count(*)",
            6)} AS pinball
       |FROM l
       |GROUP BY r_name, tau
       |ORDER BY r_name, tau""".stripMargin
  }

  /** Window width (days) for [[qSlidingDistinct]]. */
  val SlideW = 7

  /** Trailing-7-day distinct active users per day (rolling WAU beside
    * the day's DAU) — the sliding-window COUNT DISTINCT no SQL window
    * frame can express (distinctness doesn't decompose over frame
    * slides; `count(distinct) OVER` is unsupported for exactly that
    * reason). The scalable shape: the event stream first collapses to
    * DISTINCT (user, day) CELLS (map-side combined — the row-scale
    * dedup), each cell then fans out to the ≤[[SlideW]] window
    * anchor-days it serves (a generated integer offset join, no
    * self-join of raw events), and the per-anchor distinct is exact
    * because a user appears at most once per (cell-day, anchor) pair —
    * so the final count-distinct state is bounded by window-local users.
    * The HLL-sketch path (q_sketch_merge) is the approximate sibling;
    * this is the exact one.
    */
  def qSlidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2020-01-01")).cast("long").as("day"))
      .distinct()
    val offsets = s.range(0, SlideW).select(col("id").as("off"))
    val anchors = cells.select(col("day")).distinct()
      .select(col("day").as("anchor"))
    // each (user, day) cell serves anchors day..day+6 that actually exist
    val fanned = cells.crossJoin(broadcast(offsets))
      .select(col("user_id"), col("day"), (col("day") + col("off")).as("anchor"))
      .join(broadcast(anchors), Seq("anchor"), "left_semi")
    fanned.groupBy(col("anchor"))
      .agg(countDistinct(col("user_id")).as("wau"),
        countDistinct(when(col("day") === col("anchor"), col("user_id")))
          .as("dau"))
      .select(col("anchor").as("day"), col("dau"), col("wau"),
        NumFns.roundPortable(col("dau").cast("double") / col("wau"), 6)
          .as("dau_wau_ratio"))
      .orderBy(col("day"))
  }

  val qSlidingDistinctOracle: String =
    s"""WITH cells AS (
       |  SELECT DISTINCT user_id,
       |    CAST(CAST(ts AS DATE) - DATE '2020-01-01' AS BIGINT) AS day
       |  FROM events
       |),
       |anchors AS (SELECT DISTINCT day AS anchor FROM cells),
       |f AS (
       |  SELECT c.user_id, c.day, c.day + o.off AS anchor
       |  FROM cells c
       |  CROSS JOIN (SELECT unnest(range(0, $SlideW)) AS off) o
       |  WHERE c.day + o.off IN (SELECT anchor FROM anchors)
       |)
       |SELECT anchor AS day,
       |  count(DISTINCT CASE WHEN f.day = anchor THEN user_id END) AS dau,
       |  count(DISTINCT user_id) AS wau,
       |  ${NumFns.roundPortableSql(
            "CAST(count(DISTINCT CASE WHEN f.day = anchor THEN user_id END) " +
            "AS DOUBLE) / count(DISTINCT user_id)", 6)} AS dau_wau_ratio
       |FROM f
       |GROUP BY anchor
       |ORDER BY day""".stripMargin

  /** Chunk sizes for the [[qHurst]] rescaled-range sweep. */
  val HurstNs = Seq(16, 32, 64)

  /** Hurst exponent of daily revenue via rescaled-range (R/S) analysis —
    * the long-memory diagnostic q_autocorr's single-lag view cannot
    * give: H ≈ 0.5 is a random walk, H > 0.5 persistent trends (shocks
    * compound — capacity forecasts must widen), H < 0.5 mean reversion.
    * For each chunk size n ∈ [[HurstNs]]: split the day-indexed series
    * into full chunks, per chunk R = range of cumulative deviations
    * from the chunk mean and S = population σ, average R/S per n, and H
    * = the log-log slope over the three sizes (closed-form least
    * squares on 3 points). Shape at 100 TB: the fact table collapses
    * once to daily cells; the 3-size sweep is a scan-side 3× fan-out of
    * that |days| frame; every window partitions by (n, chunk) — chunk-
    * bounded frames, no global sort (the contiguous day index rn comes
    * from one window over the day-cell aggregate, the allowed
    * window-over-Aggregate shape). Determinism: chunk moments are exact
    * integer sums; R/S and the slope are identical double chains; means
    * are DECIMAL-stable.
    */
  def qHurst(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir).select(col("di").cast("long").as("day"), col("yc").as("x"))
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))).cast("long"))
    val fanned = daily.select(col("rn"), col("x"),
        explode(array(HurstNs.map(n => lit(n.toLong)): _*)).as("n"))
      .withColumn("chunk", expr("(rn - 1) div n"))
    val wChunk = Window.partitionBy(col("n"), col("chunk"))
    val wCum = wChunk.orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // second moment as DECIMAL end to end: daily cents² exceeds int64
    // already at sf0.1 (x ≈ 1e9 → x² ≈ 1e18, a 64-term sum overflows)
    val stats = fanned
      .withColumn("cnt", count(lit(1)).over(wChunk))
      .filter(col("cnt") === col("n")) // full chunks only
      .withColumn("sx", sum(col("x")).over(wChunk))
      .withColumn("sxx", sum(col("x").cast(Dec0) * col("x")).over(wChunk))
      // cumulative deviation z_t = Σ x_i − t·μ, kept integer-exact as
      // n·z_t = n·Σx_i − t·sx (avoids accumulating a double)
      .withColumn("cums", sum(col("x")).over(wCum))
      .withColumn("t", row_number().over(wChunk.orderBy(col("rn"))).cast("long"))
      .withColumn("nz", col("n") * col("cums") - col("t") * col("sx"))
    val rs = stats.groupBy(col("n"), col("chunk"), col("sx"), col("sxx"))
      .agg(((max(col("nz")) - min(col("nz"))).cast("double") / col("n"))
        .as("r"))
      .withColumn("s2",
        (col("sxx").cast("double")
          - col("sx").cast("double") * col("sx") / col("n")) / col("n"))
      .filter(col("s2") > 0)
      .select(col("n"), (col("r") / sqrt(col("s2"))).as("rs"))
    val perN = rs.groupBy(col("n"))
      .agg(count(lit(1)).as("n_chunks"),
        (sum(col("rs").cast(Dec12)).cast("double") / count(lit(1))).as("mean_rs"))
      .withColumn("lx", log(col("n").cast("double")))
      .withColumn("ly", log(col("mean_rs")))
    val wAll = Window.partitionBy()
    perN
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("slx", sum(col("lx")).over(wAll))
      .withColumn("sly", sum(col("ly")).over(wAll))
      .withColumn("slxy", sum(col("lx") * col("ly")).over(wAll))
      .withColumn("slxx", sum(col("lx") * col("lx")).over(wAll))
      .select(col("n"), col("n_chunks"),
        NumFns.roundPortable(col("mean_rs"), 6).as("mean_rs"),
        NumFns.roundPortable(
          (col("k") * col("slxy") - col("slx") * col("sly"))
            / (col("k") * col("slxx") - col("slx") * col("slx")), 6)
          .as("hurst"))
      .orderBy(col("n"))
  }

  val qHurstOracle: String =
    s"""WITH daily AS (SELECT di AS day, yc AS x FROM (${dailyCentsSql()})),
       |idx AS (
       |  SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
       |  FROM daily
       |),
       |f AS (
       |  SELECT rn, x, CAST(n AS BIGINT) AS n, (rn - 1) // n AS chunk
       |  FROM idx CROSS JOIN (SELECT unnest([${HurstNs.mkString(", ")}]) AS n)
       |),
       |st AS (
       |  SELECT n, chunk, x, rn,
       |    count(*) OVER wc AS cnt,
       |    CAST(sum(x) OVER wc AS BIGINT) AS sx,
       |    sum(CAST(x AS HUGEINT) * x) OVER wc AS sxx,
       |    CAST(sum(x) OVER wcum AS BIGINT) AS cums,
       |    CAST(row_number() OVER (PARTITION BY n, chunk ORDER BY rn)
       |      AS BIGINT) AS t
       |  FROM f
       |  WINDOW wc AS (PARTITION BY n, chunk),
       |    wcum AS (PARTITION BY n, chunk ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |rs AS (
       |  SELECT n,
       |    (CAST(max(n * cums - t * sx) - min(n * cums - t * sx) AS DOUBLE)
       |      / n)
       |    / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n)
       |      AS rs
       |  FROM st WHERE cnt = n
       |  GROUP BY n, chunk, sx, sxx
       |  HAVING (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n > 0
       |),
       |pn AS (
       |  SELECT n, count(*) AS n_chunks,
       |    CAST(sum(CAST(rs AS DECIMAL(38,12))) AS DOUBLE) / count(*)
       |      AS mean_rs
       |  FROM rs GROUP BY n
       |),
       |lg AS (
       |  SELECT n, n_chunks, mean_rs,
       |    ln(CAST(n AS DOUBLE)) AS lx, ln(mean_rs) AS ly
       |  FROM pn
       |),
       |sl AS (
       |  SELECT n, n_chunks, mean_rs,
       |    count(*) OVER () AS k,
       |    sum(lx) OVER () AS slx, sum(ly) OVER () AS sly,
       |    sum(lx * ly) OVER () AS slxy, sum(lx * lx) OVER () AS slxx,
       |    lx, ly
       |  FROM lg
       |)
       |SELECT n, n_chunks,
       |  ${NumFns.roundPortableSql("mean_rs", 6)} AS mean_rs,
       |  ${NumFns.roundPortableSql(
            "(k * slxy - slx * sly) / (k * slxx - slx * slx)", 6)} AS hurst
       |FROM sl
       |ORDER BY n""".stripMargin
  /** Dickey–Fuller unit-root check (no-lag form) on the daily revenue
    * series: regress Δy_t on y_{t−1} with intercept and report ρ̂ = 1+β̂
    * and the DF t-statistic — the stationarity gate every forecasting
    * consumer (q_forecast_revenue, q_ewma) silently assumes and this
    * suite now measures (t far below ~−2.9 rejects a unit root; a
    * near-zero t says the series is a random walk and trend forecasts
    * are fiction). Shape: the fact table collapses to the
    * calendar-bounded day frame; the lag runs over that aggregate (the
    * sanctioned partitionless-window-over-Aggregate shape); the five
    * regression moments are DECIMAL-folded and cast to double once.
    * The series stays INTEGER CENTS end-to-end (beta, rho and the
    * t-stat are scale-invariant, so dollars vs cents is a free choice):
    * squares fold in DECIMAL(38,0), whose full 38 digits hold
    * sum(yp^2) ~ 2e23*SF^2 past any realistic SF — the dollars-double
    * DECIMAL(38,12) form overflowed its 26 integer digits near SF~2000.
    */
  def qDickeyFuller(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di"), col("yc").as("y"))
    val w = Window.orderBy(col("di"))
    val pairs = days
      .withColumn("yp", lag(col("y"), 1).over(w))
      .filter(col("yp").isNotNull)
      .select((col("y") - col("yp")).as("dy"), col("yp"))
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(col("yp").cast(Dec0)).as("sy"),
      sum(col("yp").cast(Dec0) * col("yp")).as("syy"),
      sum(col("dy").cast(Dec0)).as("sd"),
      sum(col("dy").cast(Dec0) * col("dy")).as("sdd"),
      sum(col("yp").cast(Dec0) * col("dy")).as("syd"))
      .select(col("n").cast("double").as("n"),
        col("sy").cast("double").as("sy"), col("syy").cast("double").as("syy"),
        col("sd").cast("double").as("sd"), col("sdd").cast("double").as("sdd"),
        col("syd").cast("double").as("syd"))
    val sxx = col("syy") - col("sy") * col("sy") / col("n")
    val sxy = col("syd") - col("sy") * col("sd") / col("n")
    val see = col("sdd") - col("sd") * col("sd") / col("n")
    val beta = sxy / sxx
    val sse = see - beta * sxy
    val seB = sqrt(sse / (col("n") - 2) / sxx)
    m.select(col("n").cast("long").as("n_obs"),
      NumFns.roundPortable(beta, 6).as("beta"),
      NumFns.roundPortable(lit(1.0) + beta, 6).as("rho"),
      NumFns.roundPortable(beta / seB, 4).as("df_tstat"))
  }

  val qDickeyFullerOracle: String =
    s"""WITH days AS (SELECT di, yc AS y FROM (${dailyCentsSql()})),
       |p AS (
       |  SELECT y - lag(y, 1) OVER (ORDER BY di) AS dy,
       |    lag(y, 1) OVER (ORDER BY di) AS yp
       |  FROM days
       |),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(yp AS HUGEINT)) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(yp AS HUGEINT) * yp) AS DOUBLE) AS syy,
       |    CAST(sum(CAST(dy AS HUGEINT)) AS DOUBLE) AS sd,
       |    CAST(sum(CAST(dy AS HUGEINT) * dy) AS DOUBLE) AS sdd,
       |    CAST(sum(CAST(yp AS HUGEINT) * dy) AS DOUBLE) AS syd
       |  FROM p WHERE yp IS NOT NULL
       |),
       |c AS (
       |  SELECT n,
       |    (syd - sy * sd / n) / (syy - sy * sy / n) AS beta,
       |    (sdd - sd * sd / n)
       |      - (syd - sy * sd / n) / (syy - sy * sy / n)
       |        * (syd - sy * sd / n) AS sse,
       |    syy - sy * sy / n AS sxx
       |  FROM m
       |)
       |SELECT CAST(n AS BIGINT) AS n_obs,
       |  ${NumFns.roundPortableSql("beta", 6)} AS beta,
       |  ${NumFns.roundPortableSql("1.0 + beta", 6)} AS rho,
       |  ${NumFns.roundPortableSql(
            "beta / sqrt(sse / (n - 2) / sxx)", 4)} AS df_tstat
       |FROM c""".stripMargin

  /** The calendar year [[qTheilSen]] fits. */
  val TheilSenYear = 1997

  /** Theil–Sen robust trend of one year's daily revenue: the MEDIAN of
    * all pairwise day-to-day slopes, beside the OLS slope — the
    * outlier-immune trend read (one promo-day spike drags OLS but moves
    * the slope median not at all; the gap between the two numbers IS
    * the outlier diagnostic). Shape: the year collapses to a ≤365-row
    * day frame, the pair self-join is calendar²-bounded (~66k rows at
    * ANY corpus scale — this is the rare all-pairs join that is
    * scale-safe by construction), and the median is the two-middle-rank
    * average over that bounded frame, matching quantile_cont(0.5).
    */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === TheilSenYear)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01")).as("di"))
      .agg((sum(NumFns.roundAwayLong(col("o_totalprice") * 100)) / 100.0)
        .as("y"))
    val slopes = days.select(col("di").as("d1"), col("y").as("y1"))
      .join(days.select(col("di").as("d2"), col("y").as("y2")),
        col("d1") < col("d2"))
      .select(((col("y2") - col("y1")) / (col("d2") - col("d1"))).as("slope"))
    val w = Window.orderBy(col("slope"))
    val ranked = slopes
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(slopes.agg(count(lit(1)).as("np"))))
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("(np + 2) div 2"))
      .agg((sum(col("slope")) / count(lit(1))).as("sen"), max(col("np")).as("np"))
    ranked.crossJoin(broadcast(dayTrend(days)))
      .select(col("n").as("n_days"), col("np").as("n_pairs"),
        NumFns.roundPortable(col("sen"), 4).as("sen_slope"),
        NumFns.roundPortable(col("b"), 4).as("ols_slope"))
  }

  val qTheilSenOracle: String =
    s"""WITH days AS (
       |  SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
       |      AS di,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      / 100.0 AS y
       |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = $TheilSenYear
       |  GROUP BY 1
       |),
       |sl AS (
       |  SELECT (b.y - a.y) / (b.di - a.di) AS slope
       |  FROM days a JOIN days b ON a.di < b.di
       |),
       |sen AS (
       |  SELECT count(*) AS np, quantile_cont(slope, 0.5) AS sen FROM sl
       |),
       |${dayTrendSql("days")}
       |SELECT n AS n_days, np AS n_pairs,
       |  ${NumFns.roundPortableSql("sen", 4)} AS sen_slope,
       |  ${NumFns.roundPortableSql("b", 4)} AS ols_slope
       |FROM sen, tr""".stripMargin

  /** Durbin–Watson autocorrelation test on the residuals of the daily
    * revenue trend — the regression-diagnostic companion to
    * [[qDickeyFuller]] (DF asks "is the LEVEL a random walk?"; DW asks
    * "after removing the trend, are the errors serially correlated?" —
    * the assumption every OLS standard error in this suite rests on).
    * DW ≈ 2 is clean, → 0 positive autocorrelation, → 4 negative; the
    * ρ̂ ≈ 1 − DW/2 hint is reported beside it. Shape: day-frame OLS by
    * closed-form moments (one scan → calendar-bounded cells), the 1-row
    * coefficient frame broadcast back onto the day frame for residuals,
    * one lag over the day aggregate (sanctioned shape), and both
    * quadratic forms DECIMAL-folded per term so the sums are
    * order-independent. Residuals are identical double expressions on
    * both engines — no libm anywhere.
    */
  def qDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di"), (col("yc") / 100.0).as("y"))
    val coef = days.crossJoin(broadcast(dayTrend(days).select(col("b"), col("a"))))
      .select(col("di"), (col("y") - col("a") - col("b") * col("di")).as("e"),
        col("b"))
    val w = Window.orderBy(col("di"))
    val dw = coef
      .withColumn("ep", lag(col("e"), 1).over(w))
      .agg(count(lit(1)).as("n"), max(col("b")).as("b"),
        NumFns.stableSum(col("e") * col("e"), 6).as("see"),
        NumFns.stableSum(
          when(col("ep").isNotNull,
            (col("e") - col("ep")) * (col("e") - col("ep")))
            .otherwise(lit(0.0)), 6).as("sdd"))
    dw.select(col("n").as("n_days"),
      NumFns.roundPortable(col("b"), 6).as("slope"),
      NumFns.roundPortable(col("sdd") / col("see"), 4).as("dw_stat"),
      NumFns.roundPortable(
        lit(1.0) - col("sdd") / col("see") / 2.0, 4).as("rho_hint"))
  }

  val qDurbinWatsonOracle: String =
    s"""WITH days AS (SELECT di, yc / 100.0 AS y FROM (${dailyCentsSql()})),
       |${dayTrendSql("days")},
       |e AS (
       |  SELECT di, y - a - b * di AS e, b FROM days, tr
       |),
       |st AS (
       |  SELECT count(*) AS n, max(b) AS b,
       |    ${NumFns.stableSumSql("e * e", 6)} AS see,
       |    ${NumFns.stableSumSql(
            """CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep)
              | ELSE 0.0 END""".stripMargin, 6)} AS sdd
       |  FROM (SELECT e, b, lag(e, 1) OVER (ORDER BY di) AS ep FROM e)
       |)
       |SELECT n AS n_days,
       |  ${NumFns.roundPortableSql("b", 6)} AS slope,
       |  ${NumFns.roundPortableSql("sdd / see", 4)} AS dw_stat,
       |  ${NumFns.roundPortableSql("1.0 - sdd / see / 2.0", 4)} AS rho_hint
       |FROM st""".stripMargin

  /** Known break point tested by [[qChowTest]]: day index of 1995-07-01
    * from the 1992-01-01 epoch. TPC-H orders span 1992-01 → 1998-08
    * (~2405 days), so mid-1995 splits the calendar ~1277/~1128 — both
    * regimes are well populated at every scale factor (the earlier
    * 1998-04-01 break left only ~124 post-break days).
    */
  val ChowBreakDi = 1277

  /** Chow structural-break F-test of the daily revenue trend at a KNOWN
    * date: fit y = a + b·di separately before/after the break and
    * pooled, and ask whether the split fit explains significantly more
    * (F on the SSR reduction) — the "did the regime change on the day
    * we shipped X?" answer that q_pettitt/q_cusum (which SEARCH for an
    * unknown changepoint) cannot give with a calibrated size. Shape:
    * one day-frame scan → per-regime moment cells (2 rows: the moments
    * are ADDITIVE, so the pooled fit needs no second scan — pooled
    * moments are the column sums of the regime rows). Float
    * discipline: day revenue stays INTEGER CENTS, so all five raw
    * moments are exact DECIMAL(38,0) integers (y² exceeds 2⁵³ — a
    * double product here is inexact and its decimal cast engine-
    * divergent; integers have no such tie). The denominators are
    * cleared BEFORE any double: A = n·Syy−Sy², B = n·Sxy−Sx·Sy,
    * C = n·Sxx−Sx² are exact, and SSR = (A·C−B²)/(n·C)/10⁴ only then
    * runs in IEEE — the catastrophic centering subtraction never
    * happens in floating point (qHurst/qAssortativity discipline).
    * F > 3.0 (≈ F(2,∞) at 5 %) flags the break on the rounded stat.
    */
  def qChowTest(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val m = days.groupBy((col("di") >= ChowBreakDi).as("late"))
      .agg(count(lit(1)).cast(Dec0).as("n"),
        sum(col("di").cast(Dec0)).as("sx"), sum(col("yc").cast(Dec0)).as("sy"),
        sum(col("di").cast(Dec0) * col("di")).as("sxx"),
        sum(col("di").cast(Dec0) * col("yc")).as("sxy"),
        sum(col("yc").cast(Dec0) * col("yc")).as("syy"))
    def abc(n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column,
        syy: Column): (Column, Column, Column) =
      ((n * syy - sy * sy).cast("double"),
        (n * sxy - sx * sy).cast("double"),
        (n * sxx - sx * sx).cast("double"))
    def sides(l: Boolean): (Column, Column, Column) = {
      def side(c: String) = max(when(col("late") === l, col(c)))
      abc(side("n"), side("sx"), side("sy"), side("sxx"), side("sxy"),
        side("syy"))
    }
    def pool(c: String) = sum(col(c))
    val (ap, bp, cp) =
      abc(pool("n"), pool("sx"), pool("sy"), pool("sxx"), pool("sxy"),
        pool("syy"))
    val (a1, b1, c1) = sides(false)
    val (a2, b2, c2) = sides(true)
    def n(l: Boolean) =
      max(when(col("late") === l, col("n"))).cast("double")
    // SSR in dollars²: (A·C − B²)/(n·C) is cents²; /1e4 converts
    def ssr(a: Column, b: Column, c: Column, nn: Column): Column =
      (a * c - b * b) / (nn * c) / 1e4
    val wide = m.agg(
      n(false).as("n1"), n(true).as("n2"),
      ssr(ap, bp, cp, pool("n").cast("double")).as("sp"),
      ssr(a1, b1, c1, n(false)).as("s1"),
      ssr(a2, b2, c2, n(true)).as("s2"))
    val f = ((col("sp") - col("s1") - col("s2")) / 2.0) /
      ((col("s1") + col("s2")) / (col("n1") + col("n2") - 4))
    // emit INTENSIVE error scales, not raw SSRs: the SSR is dollars²
    // summed over the fact (grows with sf², 1.2e19 at sf1 — past the
    // 2^52 bound roundPortable needs), while the per-day RMSE grows
    // only linearly with data density and survives any realistic scale
    wide.select(col("n1").cast("long").as("n_pre"),
        col("n2").cast("long").as("n_post"),
        NumFns.roundPortable(
          sqrt(col("sp") / (col("n1") + col("n2"))), 4).as("rmse_pooled"),
        NumFns.roundPortable(
          sqrt((col("s1") + col("s2")) / (col("n1") + col("n2"))), 4)
          .as("rmse_split"),
        NumFns.roundPortable(f, 4).as("f_stat"))
      .withColumn("structural_break", col("f_stat") > 3.0)
  }

  val qChowTestOracle: String = {
    def abcSql(p: String): (String, String, String) =
      (s"CAST(n$p * syy$p - sy$p * sy$p AS DOUBLE)",
        s"CAST(n$p * sxy$p - sx$p * sy$p AS DOUBLE)",
        s"CAST(n$p * sxx$p - sx$p * sx$p AS DOUBLE)")
    def ssrSql(p: String): String = {
      val (a, b, c) = abcSql(p)
      s"(($a) * ($c) - ($b) * ($b)) / (CAST(n$p AS DOUBLE) * ($c)) / 1e4"
    }
    s"""WITH days AS (${dailyCentsSql()}),
       |m AS (
       |  SELECT di >= $ChowBreakDi AS late, CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(di AS HUGEINT)) AS sx, sum(CAST(yc AS HUGEINT)) AS sy,
       |    sum(CAST(di AS HUGEINT) * di) AS sxx,
       |    sum(CAST(di AS HUGEINT) * yc) AS sxy,
       |    sum(CAST(yc AS HUGEINT) * yc) AS syy
       |  FROM days GROUP BY 1
       |),
       |w AS (
       |  SELECT
       |    sum(n) AS np, sum(sx) AS sxp, sum(sy) AS syp, sum(sxx) AS sxxp,
       |    sum(sxy) AS sxyp, sum(syy) AS syyp,
       |    max(CASE WHEN NOT late THEN n END) AS n1,
       |    max(CASE WHEN NOT late THEN sx END) AS sx1,
       |    max(CASE WHEN NOT late THEN sy END) AS sy1,
       |    max(CASE WHEN NOT late THEN sxx END) AS sxx1,
       |    max(CASE WHEN NOT late THEN sxy END) AS sxy1,
       |    max(CASE WHEN NOT late THEN syy END) AS syy1,
       |    max(CASE WHEN late THEN n END) AS n2,
       |    max(CASE WHEN late THEN sx END) AS sx2,
       |    max(CASE WHEN late THEN sy END) AS sy2,
       |    max(CASE WHEN late THEN sxx END) AS sxx2,
       |    max(CASE WHEN late THEN sxy END) AS sxy2,
       |    max(CASE WHEN late THEN syy END) AS syy2
       |  FROM m
       |),
       |sr AS (
       |  SELECT CAST(n1 AS BIGINT) AS n_pre, CAST(n2 AS BIGINT) AS n_post,
       |    ${ssrSql("p")} AS sp, ${ssrSql("1")} AS s1, ${ssrSql("2")} AS s2
       |  FROM w
       |),
       |r AS (
       |  SELECT n_pre, n_post,
       |    ${NumFns.roundPortableSql(
              "sqrt(sp / (CAST(n_pre AS DOUBLE) + n_post))", 4)}
       |      AS rmse_pooled,
       |    ${NumFns.roundPortableSql(
              "sqrt((s1 + s2) / (CAST(n_pre AS DOUBLE) + n_post))", 4)}
       |      AS rmse_split,
       |    ${NumFns.roundPortableSql(
              "((sp - s1 - s2) / 2.0)" +
                " / ((s1 + s2) / (CAST(n_pre AS DOUBLE) + n_post - 4))",
              4)} AS f_stat
       |  FROM sr
       |)
       |SELECT n_pre, n_post, rmse_pooled, rmse_split, f_stat,
       |  f_stat > 3.0 AS structural_break
       |FROM r""".stripMargin
  }

  /** Alarm threshold for [[qPageHinkley]], in dollars of cumulative
    * drift mass (λ in the PH formulation).
    */
  val PageHinkleyLambda = 100000.0

  /** Page–Hinkley sequential drift detector on daily revenue — the
    * ONLINE changepoint lens beside the retrospective q_cusum (batch
    * argmax vs global mean) and q_pettitt (rank-based): PH tracks
    * m_t = Σ_{s≤t}(x_s − x̄_s) against its running minimum, and alarms
    * the first time m_t − min m climbs past λ — the statistic a
    * streaming monitor would maintain, evaluated here over history.
    * Exactness: x̄_s = prefix_cents/s is a ratio of exact integers;
    * each deviation is one deterministic double; the cumulative sums
    * run in FRAME ORDER (sequential on both engines — the NumFns
    * window rule), so every m_t is bit-identical cross-engine. Shape:
    * everything lives on the calendar-bounded day aggregate; the
    * argmax is a max_by over that frame, no row-scale work anywhere.
    */
  def qPageHinkley(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val wSeq = Window.orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = days
      .withColumn("t", count(lit(1)).over(wSeq))
      .withColumn("pref", sum(col("yc")).over(wSeq))
      // deviation from the running mean, in dollars
      .select(col("di"),
        ((col("yc") - col("pref").cast("double") / col("t")) / 100.0)
          .as("d"))
    val ph = dev
      .withColumn("m", sum(col("d")).over(wSeq))
      .withColumn("mmin", min(col("m")).over(wSeq))
      .select(col("di"), (col("m") - col("mmin")).as("ph"))
    val tot = ph.agg(count(lit(1)).as("n_days"))
    ph.crossJoin(broadcast(tot))
      .orderBy(col("ph").desc, col("di"))
      .limit(1)
      .select(col("n_days"), col("di").cast("long").as("peak_di"),
        NumFns.roundPortable(col("ph"), 2).as("ph_stat"))
      .withColumn("drift", col("ph_stat") > PageHinkleyLambda)
  }

  val qPageHinkleyOracle: String =
    s"""WITH days AS (${dailyCentsSql()}),
       |dev AS (
       |  SELECT di,
       |    (yc - CAST(sum(yc) OVER w AS DOUBLE)
       |      / (row_number() OVER (ORDER BY di))) / 100.0 AS d
       |  FROM days
       |  WINDOW w AS (ORDER BY di ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW)
       |),
       |m AS (
       |  SELECT di, sum(d) OVER w AS m
       |  FROM dev
       |  WINDOW w AS (ORDER BY di ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW)
       |),
       |ph AS (
       |  SELECT di, m - min(m) OVER w AS ph
       |  FROM m
       |  WINDOW w AS (ORDER BY di ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW)
       |),
       |tot AS (SELECT count(*) AS n_days FROM ph)
       |SELECT n_days, di AS peak_di,
       |  ${NumFns.roundPortableSql("ph", 2)} AS ph_stat,
       |  ${NumFns.roundPortableSql("ph", 2)} > $PageHinkleyLambda AS drift
       |FROM ph, tot
       |ORDER BY ph DESC, di
       |LIMIT 1""".stripMargin

  /** Granger F-gate ≈ F(1,∞) at 5 %. */
  val GrangerFCrit = 3.84

  /** Granger-causality test: does yesterday's ORDER COUNT improve the
    * prediction of today's revenue beyond yesterday's revenue alone?
    * Restricted y_t ~ y_{t−1} vs unrestricted y_t ~ y_{t−1} + x_{t−1},
    * F on the SSR drop — the lead-lag DIRECTIONALITY test that
    * q_cross_corr (symmetric correlation at lags) cannot give. Both
    * series come from ONE day-frame scan; the lag is the sanctioned
    * frame-ordered shift over the calendar-bounded aggregate. Float
    * discipline (qChowTest): revenue stays integer cents and counts
    * integers, all 9 raw moments fold DECIMAL(38,0)-exact, the normal-
    * equation determinants clear denominators in decimal (A_ij =
    * n·S_ij − S_i·S_j), and only the final SSR ratios run in IEEE —
    * the centering subtraction never happens in floating point.
    */
  def qGranger(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir, count(lit(1)).as("xc"))
    val w = Window.orderBy(col("di"))
    val lagged = days
      .withColumn("z1", lag(col("yc"), 1).over(w))
      .withColumn("z2", lag(col("xc"), 1).over(w))
      .filter(col("z1").isNotNull)
    val m = lagged.agg(
      count(lit(1)).cast(Dec0).as("n"),
      sum(col("z1").cast(Dec0)).as("s1"), sum(col("z2").cast(Dec0)).as("s2"),
      sum(col("yc").cast(Dec0)).as("sy"),
      sum(col("z1").cast(Dec0) * col("z1")).as("s11"),
      sum(col("z1").cast(Dec0) * col("z2")).as("s12"),
      sum(col("z2").cast(Dec0) * col("z2")).as("s22"),
      sum(col("z1").cast(Dec0) * col("yc")).as("s1y"),
      sum(col("z2").cast(Dec0) * col("yc")).as("s2y"),
      sum(col("yc").cast(Dec0) * col("yc")).as("syy"))
    val cleared = m.select(col("n"),
      (col("n") * col("s11") - col("s1") * col("s1")).cast("double").as("a11"),
      (col("n") * col("s12") - col("s1") * col("s2")).cast("double").as("a12"),
      (col("n") * col("s22") - col("s2") * col("s2")).cast("double").as("a22"),
      (col("n") * col("s1y") - col("s1") * col("sy")).cast("double").as("a1y"),
      (col("n") * col("s2y") - col("s2") * col("sy")).cast("double").as("a2y"),
      (col("n") * col("syy") - col("sy") * col("sy")).cast("double").as("ayy"))
    // SSR·n² in cents²; the common scale cancels inside F
    val det = col("a11") * col("a22") - col("a12") * col("a12")
    val ssrU = col("ayy") -
      (col("a22") * col("a1y") * col("a1y")
        - lit(2.0) * col("a12") * col("a1y") * col("a2y")
        + col("a11") * col("a2y") * col("a2y")) / det
    val ssrR = col("ayy") - col("a1y") * col("a1y") / col("a11")
    val nD = col("n").cast("double")
    val f = (col("sr") - col("su")) / (col("su") / (nD - 3.0))
    cleared
      .withColumn("su", ssrU).withColumn("sr", ssrR)
      .select(col("n").cast("long").as("n_days"),
        NumFns.roundPortable((col("sr") - col("su")) / col("sr"), 6)
          .as("ssr_drop_share"),
        NumFns.roundPortable(f, 4).as("f_stat"))
      .withColumn("granger_causal", col("f_stat") > GrangerFCrit)
  }

  val qGrangerOracle: String =
    s"""WITH days AS (${dailyCentsSql("count(*) AS xc")}),
       |lg AS (
       |  SELECT yc, lag(yc, 1) OVER (ORDER BY di) AS z1,
       |    lag(xc, 1) OVER (ORDER BY di) AS z2
       |  FROM days
       |),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(z1 AS HUGEINT)) AS s1, sum(CAST(z2 AS HUGEINT)) AS s2,
       |    sum(CAST(yc AS HUGEINT)) AS sy,
       |    sum(CAST(z1 AS HUGEINT) * z1) AS s11,
       |    sum(CAST(z1 AS HUGEINT) * z2) AS s12,
       |    sum(CAST(z2 AS HUGEINT) * z2) AS s22,
       |    sum(CAST(z1 AS HUGEINT) * yc) AS s1y,
       |    sum(CAST(z2 AS HUGEINT) * yc) AS s2y,
       |    sum(CAST(yc AS HUGEINT) * yc) AS syy
       |  FROM lg WHERE z1 IS NOT NULL
       |),
       |cl AS (
       |  SELECT n,
       |    CAST(n * s11 - s1 * s1 AS DOUBLE) AS a11,
       |    CAST(n * s12 - s1 * s2 AS DOUBLE) AS a12,
       |    CAST(n * s22 - s2 * s2 AS DOUBLE) AS a22,
       |    CAST(n * s1y - s1 * sy AS DOUBLE) AS a1y,
       |    CAST(n * s2y - s2 * sy AS DOUBLE) AS a2y,
       |    CAST(n * syy - sy * sy AS DOUBLE) AS ayy
       |  FROM m
       |),
       |sr AS (
       |  SELECT CAST(n AS BIGINT) AS n_days,
       |    ayy - (a22 * a1y * a1y - 2.0 * a12 * a1y * a2y
       |      + a11 * a2y * a2y) / (a11 * a22 - a12 * a12) AS su,
       |    ayy - a1y * a1y / a11 AS sr
       |  FROM cl
       |)
       |SELECT n_days,
       |  ${NumFns.roundPortableSql("(sr - su) / sr", 6)} AS ssr_drop_share,
       |  ${NumFns.roundPortableSql(
            "(sr - su) / (su / (CAST(n_days AS DOUBLE) - 3.0))", 4)}
       |    AS f_stat,
       |  ${NumFns.roundPortableSql(
            "(sr - su) / (su / (CAST(n_days AS DOUBLE) - 3.0))", 4)}
       |    > $GrangerFCrit AS granger_causal
       |FROM sr""".stripMargin

  /** Coalesce overlapping in-transit intervals per supplier and roll
    * the islands up by nation — the interval-UNION operator (how many
    * distinct days was each supplier mid-shipment?) that
    * q_max_concurrent (point-in-time overlap count) and q_interval_join
    * (pairing) don't cover. The reduced schema carries no receiptdate,
    * so transit time derives deterministically from the line: hi =
    * ship + 3 + (quantity mod 11) days. Classic prefix-max island
    * detection: within a supplier, ordered by (lo, hi), a new island
    * starts when lo > max(previous hi); covered days = Σ island
    * extents — overlap-proof by construction, no pairwise interval
    * join. Shape: the windows are PARTITIONED BY suppkey
    * (entity-parallel, never a global sort); per-island and
    * per-supplier frames aggregate immediately; the nation rollup
    * joins the supplier DIM (broadcast) and outputs ≤25 rows. All
    * integer day arithmetic until two final portable-rounded averages.
    */
  def qIntervalCoalesce(s: SparkSession, dir: String): DataFrame = {
    val lo = datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
    val iv = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("suppkey"), lo.as("lo"),
        (lo + 3 + col("l_quantity").cast("long") % 11).as("hi"))
    val wPrev = Window.partitionBy(col("suppkey"))
      .orderBy(col("lo"), col("hi"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSeq = Window.partitionBy(col("suppkey"))
      .orderBy(col("lo"), col("hi"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = iv
      .withColumn("pmax", max(col("hi")).over(wPrev))
      .withColumn("brk",
        when(col("pmax").isNull || col("lo") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wSeq))
      .groupBy(col("suppkey"), col("island"))
      .agg(min(col("lo")).as("ilo"), max(col("hi")).as("ihi"))
    val perSupp = islands.groupBy(col("suppkey"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("ihi") - col("ilo") + 1).as("covered"))
    val nations = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      .join(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("nation")),
        Seq("s_nationkey"))
    perSupp.join(broadcast(nations), Seq("suppkey"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("n_islands")).as("tot_islands"),
        max(col("covered")).as("max_covered"),
        NumFns.roundPortable(
          sum(col("n_islands")).cast("double") / count(lit(1)), 4)
          .as("avg_islands"),
        NumFns.roundPortable(
          sum(col("covered")).cast("double") / count(lit(1)), 4)
          .as("avg_covered_days"))
      .orderBy(col("nation"))
  }

  val qIntervalCoalesceOracle: String =
    s"""WITH iv AS (
       |  SELECT l_suppkey AS suppkey,
       |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
       |      AS lo,
       |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
       |      + 3 + (CAST(l_quantity AS BIGINT) % 11) AS hi
       |  FROM lineitem
       |),
       |mk AS (
       |  SELECT suppkey, lo, hi,
       |    max(hi) OVER (PARTITION BY suppkey ORDER BY lo, hi
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM iv
       |),
       |br AS (
       |  SELECT suppkey, lo, hi,
       |    CASE WHEN pmax IS NULL OR lo > pmax THEN 1 ELSE 0 END AS brk
       |  FROM mk
       |),
       |isl AS (
       |  SELECT suppkey, lo, hi,
       |    sum(brk) OVER (PARTITION BY suppkey ORDER BY lo, hi
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM br
       |),
       |ia AS (
       |  SELECT suppkey, island, min(lo) AS ilo, max(hi) AS ihi
       |  FROM isl GROUP BY 1, 2
       |),
       |ps AS (
       |  SELECT suppkey, count(*) AS n_islands,
       |    CAST(sum(ihi - ilo + 1) AS BIGINT) AS covered
       |  FROM ia GROUP BY 1
       |),
       |nt AS (
       |  SELECT s_suppkey AS suppkey, n_name AS nation
       |  FROM supplier JOIN nation ON n_nationkey = s_nationkey
       |)
       |SELECT nation, count(*) AS n_suppliers,
       |  CAST(sum(n_islands) AS BIGINT) AS tot_islands,
       |  max(covered) AS max_covered,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(n_islands) AS DOUBLE) / count(*)", 4)} AS avg_islands,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(covered) AS DOUBLE) / count(*)", 4)}
       |    AS avg_covered_days
       |FROM ps JOIN nt USING (suppkey)
       |GROUP BY nation
       |ORDER BY nation""".stripMargin

  /** Nelson–Aalen cumulative-hazard estimator over the [[lifetimes]]
    * frame — the hazard-side twin of [[qSurvival]]'s Kaplan–Meier
    * (H(t) = Σ_{s≤t} d_s/n_s vs KM's product form; exp(−H) ≥ KM
    * pointwise, and the gap is the discreteness diagnostic): same
    * cells, different estimator, the way q_seasonal_strength shares
    * q_seasonal_decompose's frame. The cumulative sum is a
    * frame-ordered window over that aggregate (sequential on both
    * engines), exact ratios of integers per term.
    */
  def qNelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    lifetimes(s, dir)
      .withColumn("h_term", col("d_t") / col("n_risk").cast("double"))
      .withColumn("cum_hazard", sum(col("h_term")).over(wCum))
      .select(col("t"), col("n_risk"), col("d_t"),
        NumFns.roundPortable(col("cum_hazard"), 6).as("cum_hazard"),
        NumFns.roundPortable(exp(-col("cum_hazard")), 6).as("surv_na"))
      .orderBy(col("t"))
  }

  val qNelsonAalenOracle: String =
    s"""WITH $lifetimesSql,
       |h AS (
       |  SELECT t, n_risk, d_t,
       |    sum(d_t / CAST(n_risk AS DOUBLE)) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
       |  FROM r
       |)
       |SELECT t, n_risk, d_t,
       |  ${NumFns.roundPortableSql("ch", 6)} AS cum_hazard,
       |  ${NumFns.roundPortableSql("exp(-ch)", 6)} AS surv_na
       |FROM h
       |ORDER BY t""".stripMargin

  /** Variance of the Mann–Kendall S over `n` values whose tie groups
    * give `tieTerm` = Σ c(c−1)(2c+5): (n(n−1)(2n+5) − tieTerm)/18.
    */
  def mkVar(n: Column, tieTerm: Column): Column =
    (n * (n - 1) * (n * 2 + 5) - tieTerm).cast("double") / 18.0

  /** SQL twin of [[mkVar]]. */
  def mkVarSql(n: String, tieTerm: String): String =
    s"CAST($n * ($n - 1) * (2 * $n + 5) - $tieTerm AS DOUBLE) / 18.0"

  /** The continuity-corrected Mann–Kendall z of S with variance `v`:
    * (S ∓ 1)/√v toward zero, and 0 at S = 0.
    */
  def mkZ(s: Column, v: Column): Column =
    when(s > 0, (s - 1).cast("double") / sqrt(v))
      .when(s < 0, (s + 1).cast("double") / sqrt(v))
      .otherwise(lit(0.0))

  /** SQL twin of [[mkZ]]. */
  def mkZSql(s: String, v: String): String =
    s"""CASE WHEN $s > 0 THEN CAST($s - 1 AS DOUBLE) / sqrt($v)
       |      WHEN $s < 0 THEN CAST($s + 1 AS DOUBLE) / sqrt($v)
       |      ELSE 0.0 END""".stripMargin

  /** The `(z, p_value, trend)` verdict of a two-sided trend z at the 5 %
    * level, shared by the Mann–Kendall tests and
    * [[Profiling.qCochranArmitage]].
    */
  def trendVerdict(z: Column): Seq[Column] = Seq(
    NumFns.roundPortable(z, 4).as("z"),
    NumFns.roundPortable(NumFns.normTwoSidedP(z), 6).as("p_value"),
    when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
      .otherwise("none").as("trend"))

  /** SQL twin of [[trendVerdict]]. */
  def trendVerdictSql(z: String): String =
    s"""${NumFns.roundPortableSql(z, 4)} AS z,
       |  ${NumFns.roundPortableSql(NumFns.normTwoSidedPSql(z), 6)}
       |    AS p_value,
       |  CASE WHEN $z > 1.96 THEN 'increasing'
       |    WHEN $z < -1.96 THEN 'decreasing' ELSE 'none' END AS trend""".stripMargin

  /** Mann–Kendall trend test on daily revenue: S = Σ_{i<j} sign(y_j −
    * y_i) with the tie-corrected normal variance ([[mkVar]], [[mkZ]]) —
    * the NONPARAMETRIC
    * monotone-trend gate beside the parametric q_dickey_fuller /
    * q_theil_sen pair (no linearity or distribution assumption; a
    * monotone-but-curved drift that OLS under-weights still scores).
    * Shape: the fact table collapses to the calendar-bounded day frame
    * first, so the i<j pair join is calendar²-bounded (~2.9M pairs at
    * ANY corpus scale — all-pairs is scale-safe by construction here,
    * the q_theil_sen argument), and the tie term reads per-value cells.
    * Integer cents end-to-end: S, n and the tie sum are exact; only
    * the final z/p run in IEEE.
    */
  def qMannKendall(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val a = days.select(col("di").as("d1"), col("yc").as("y1"))
    val b = days.select(col("di").as("d2"), col("yc").as("y2"))
    val sStat = a.join(broadcast(b), col("d1") < col("d2"))
      .agg(sum(when(col("y2") > col("y1"), 1L)
        .when(col("y2") < col("y1"), -1L).otherwise(0L)).as("s"))
    val ties = days.groupBy(col("yc")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1) * (col("c") * 2 + 5)),
        lit(0L)).as("tie_term"))
    val n = days.agg(count(lit(1)).as("n"))
    val z0 = sStat.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .withColumn("var_s", mkVar(col("n"), col("tie_term")))
      .withColumn("z", mkZ(col("s"), col("var_s")))
    z0.select(col("n").as("n_days") +: col("s").as("s_stat") +: trendVerdict(col("z")): _*)
  }

  val qMannKendallOracle: String =
    s"""WITH days AS (${dailyCentsSql()}),
       |sp AS (
       |  SELECT CAST(sum(CASE WHEN b.yc > a.yc THEN 1
       |    WHEN b.yc < a.yc THEN -1 ELSE 0 END) AS BIGINT) AS s
       |  FROM days a JOIN days b ON a.di < b.di
       |),
       |tt AS (
       |  SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT)
       |      AS tie_term
       |  FROM (SELECT count(*) AS c FROM days GROUP BY yc)
       |),
       |nn AS (SELECT count(*) AS n FROM days),
       |zz AS (
       |  SELECT n, s, ${mkZSql("s", mkVarSql("n", "tie_term"))} AS z
       |  FROM sp, tt, nn
       |)
       |SELECT n AS n_days, s AS s_stat,
       |  ${trendVerdictSql("z")}
       |FROM zz""".stripMargin

  /** Lags pooled by [[qLjungBox]]'s portmanteau statistic. */
  val LjungBoxLags = 10

  /** Ljung–Box portmanteau test on daily revenue: Q = n(n+2)
    * Σ_{k≤10} ρ̂_k²/(n−k) — "is there ANY autocorrelation in the first
    * 10 lags?" in one calibrated number, where q_autocorr reads one
    * lag at a time (χ²₁₀ 5 % critical value 18.307 gates the verdict).
    * Shape: everything happens on the calendar-bounded day aggregate —
    * one frame-ordered window pass materializes all 10 lags, and each
    * ρ̂_k is a DECIMAL-folded product sum over that frame (order-
    * independent); no row-scale work anywhere. The mean is a ratio of
    * exact integers (cents / count), so every deviation is one
    * deterministic double on both engines.
    */
  def qLjungBox(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val m = days.agg(count(lit(1)).as("n"), sum(col("yc")).as("sy"))
    val dev = days.crossJoin(broadcast(m))
      .select(col("di"), col("n"),
        (col("yc") - col("sy").cast("double") / col("n")).as("d"))
    val w = Window.orderBy(col("di"))
    val lagged = (1 to LjungBoxLags).foldLeft(dev) { (df, k) =>
      df.withColumn(s"l$k", lag(col("d"), k).over(w))
    }
    val sums = lagged.agg(
      max(col("n")).as("n"),
      sum((col("d") * col("d")).cast(Dec12)).as("den") +:
        (1 to LjungBoxLags).map(k =>
          sum((col("d") * col(s"l$k")).cast(Dec12)).as(s"num$k")): _*)
    val nD = col("n").cast("double")
    val q = (1 to LjungBoxLags).map { k =>
      val rho = col(s"num$k").cast("double") / col("den").cast("double")
      rho * rho / (nD - k)
    }.reduce(_ + _) * nD * (nD + 2.0)
    sums.select(col("n").as("n_days"),
      NumFns.roundPortable(
        col("num1").cast("double") / col("den").cast("double"), 6).as("rho1"),
      NumFns.roundPortable(q, 4).as("q_stat"))
      .withColumn("autocorrelated", col("q_stat") > 18.307)
  }

  val qLjungBoxOracle: String = {
    val lagCols = (1 to LjungBoxLags).map(k =>
      s"lag(d, $k) OVER w AS l$k").mkString(",\n       |    ")
    val nums = (1 to LjungBoxLags).map(k =>
      s"sum(CAST(d * l$k AS DECIMAL(38,12))) AS num$k")
      .mkString(",\n       |    ")
    val qTerms = (1 to LjungBoxLags).map(k =>
      s"(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE))" +
        s" * (CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE))" +
        s" / (CAST(n AS DOUBLE) - $k)").mkString(" + ")
    s"""WITH days AS (${dailyCentsSql()}),
       |m AS (SELECT count(*) AS n, CAST(sum(yc) AS BIGINT) AS sy FROM days),
       |dev AS (
       |  SELECT di, n, yc - CAST(sy AS DOUBLE) / n AS d
       |  FROM days CROSS JOIN m
       |),
       |ls AS (
       |  SELECT n, d,
       |    $lagCols
       |  FROM dev WINDOW w AS (ORDER BY di)
       |),
       |ss AS (
       |  SELECT max(n) AS n,
       |    sum(CAST(d * d AS DECIMAL(38,12))) AS den,
       |    $nums
       |  FROM ls
       |),
       |qq AS (
       |  SELECT n,
       |    CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE) AS rho1,
       |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ($qTerms) AS q
       |  FROM ss
       |)
       |SELECT n AS n_days,
       |  ${NumFns.roundPortableSql("rho1", 6)} AS rho1,
       |  ${NumFns.roundPortableSql("q", 4)} AS q_stat,
       |  ${NumFns.roundPortableSql("q", 4)} > 18.307 AS autocorrelated
       |FROM qq""".stripMargin
  }

  /** Turning-points randomness test on daily revenue: count strict
    * local extrema (y_{t−1} < y_t > y_{t+1} or the reverse); under an
    * i.i.d. null the count is ≈ N(2(n−2)/3, (16n−29)/90) — the
    * oscillation-based randomness lens beside q_runs_test (sign-based)
    * and q_ljung_box (correlation-based): too FEW turning points means
    * trend/persistence, too MANY means alternation. One day-frame
    * window pass (lag+lead over the calendar-bounded aggregate);
    * integer comparisons on exact cents, so the count is exact.
    */
  def qTurningPoints(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val w = Window.orderBy(col("di"))
    val marked = days
      .withColumn("yp", lag(col("yc"), 1).over(w))
      .withColumn("yn", lead(col("yc"), 1).over(w))
      .select(when(col("yp").isNull || col("yn").isNull, 0L)
        .when((col("yc") > col("yp") && col("yc") > col("yn"))
          || (col("yc") < col("yp") && col("yc") < col("yn")), 1L)
        .otherwise(0L).as("tp"))
    marked.agg(count(lit(1)).as("n"), sum(col("tp")).as("t"))
      .withColumn("e", lit(2.0) * (col("n") - 2) / 3.0)
      .withColumn("z",
        (col("t") - col("e")) / sqrt((col("n") * 16.0 - 29.0) / 90.0))
      .select(col("n").as("n_days"), col("t").as("n_turning"),
        NumFns.roundPortable(col("e"), 4).as("expected"),
        NumFns.roundPortable(col("z"), 4).as("z"),
        NumFns.roundPortable(NumFns.normTwoSidedP(col("z")), 6).as("p_value"),
        (abs(col("z")) <= 1.96).as("consistent_with_random"))
  }

  val qTurningPointsOracle: String =
    s"""WITH days AS (${dailyCentsSql()}),
       |mk AS (
       |  SELECT CASE WHEN yp IS NULL OR yn IS NULL THEN 0
       |    WHEN (yc > yp AND yc > yn) OR (yc < yp AND yc < yn) THEN 1
       |    ELSE 0 END AS tp
       |  FROM (
       |    SELECT yc, lag(yc, 1) OVER (ORDER BY di) AS yp,
       |      lead(yc, 1) OVER (ORDER BY di) AS yn
       |    FROM days
       |  )
       |),
       |st AS (
       |  SELECT count(*) AS n, CAST(sum(tp) AS BIGINT) AS t FROM mk
       |),
       |zz AS (
       |  SELECT n, t, 2.0 * (n - 2) / 3.0 AS e,
       |    (t - 2.0 * (n - 2) / 3.0) / sqrt((16.0 * n - 29.0) / 90.0) AS z
       |  FROM st
       |)
       |SELECT n AS n_days, t AS n_turning,
       |  ${NumFns.roundPortableSql("e", 4)} AS expected,
       |  ${NumFns.roundPortableSql("z", 4)} AS z,
       |  ${NumFns.roundPortableSql(NumFns.normTwoSidedPSql("z"), 6)}
       |    AS p_value,
       |  abs(z) <= 1.96 AS consistent_with_random
       |FROM zz""".stripMargin

  /** Shewhart individuals/moving-range control chart over daily
    * revenue: center = mean, σ̂ = mean moving range / d₂ (d₂ = 1.128
    * for n=2 subgroups), 3σ limits, and the out-of-control readout
    * (count + first violation day) — the SPC operator an operations
    * review runs nightly; distinct from q_anomaly_zscore (whose σ is
    * the sample SD that the anomalies themselves inflate — the MR
    * estimator is robust to level shifts, which is the whole point of
    * the chart). Shape: two passes over the calendar-bounded day
    * frame (one frame-ordered lag, one broadcast of the 1-row limits);
    * mean and MR̄ are ratios of exact integer cents, so the limits are
    * identical doubles on both engines.
    */
  def qSpcChart(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val w = Window.orderBy(col("di"))
    val mr = days
      .withColumn("yp", lag(col("yc"), 1).over(w))
      .select(col("di"), col("yc"), abs(col("yc") - col("yp")).as("mr"))
    val lim = mr.agg(count(lit(1)).as("n"),
      sum(col("yc")).as("sy"), sum(col("mr")).as("smr"))
      .select(col("n"),
        (col("sy").cast("double") / col("n") / 100.0).as("center"),
        (col("smr").cast("double") / (col("n") - 1) / 1.128 / 100.0)
          .as("sigma"))
    mr.crossJoin(broadcast(lim))
      .select(col("di"), col("n"), col("center"), col("sigma"),
        when(abs(col("yc") / 100.0 - col("center")) > col("sigma") * 3.0, 1L)
          .otherwise(0L).as("viol"))
      .groupBy(col("n"), col("center"), col("sigma"))
      .agg(sum(col("viol")).as("n_violations"),
        min(when(col("viol") === 1L, col("di"))).as("first_violation_di"))
      .select(col("n").as("n_days"),
        NumFns.roundPortable(col("center"), 2).as("center"),
        NumFns.roundPortable(col("sigma"), 2).as("sigma_hat"),
        NumFns.roundPortable(col("center") + col("sigma") * 3.0, 2).as("ucl"),
        NumFns.roundPortable(col("center") - col("sigma") * 3.0, 2).as("lcl"),
        col("n_violations"),
        col("first_violation_di").cast("long").as("first_violation_di"))
  }

  val qSpcChartOracle: String =
    s"""WITH days AS (${dailyCentsSql()}),
       |mr AS (
       |  SELECT di, yc, abs(yc - lag(yc, 1) OVER (ORDER BY di)) AS mr
       |  FROM days
       |),
       |lim AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(yc) AS DOUBLE) / count(*) / 100.0 AS center,
       |    CAST(sum(mr) AS DOUBLE) / (count(*) - 1) / 1.128 / 100.0 AS sigma
       |  FROM mr
       |),
       |vi AS (
       |  SELECT n, center, sigma,
       |    CASE WHEN abs(yc / 100.0 - center) > 3.0 * sigma THEN 1 ELSE 0 END
       |      AS viol,
       |    di
       |  FROM mr CROSS JOIN lim
       |)
       |SELECT n AS n_days,
       |  ${NumFns.roundPortableSql("center", 2)} AS center,
       |  ${NumFns.roundPortableSql("sigma", 2)} AS sigma_hat,
       |  ${NumFns.roundPortableSql("center + 3.0 * sigma", 2)} AS ucl,
       |  ${NumFns.roundPortableSql("center - 3.0 * sigma", 2)} AS lcl,
       |  CAST(sum(viol) AS BIGINT) AS n_violations,
       |  CAST(min(CASE WHEN viol = 1 THEN di END) AS BIGINT)
       |    AS first_violation_di
       |FROM vi
       |GROUP BY n, center, sigma""".stripMargin

  /** Frequencies probed by [[qPeriodogram]]. */
  val PeriodogramKs = 12

  /** Discrete periodogram of mean-centered daily revenue at the first
    * 12 Fourier frequencies: I(k) = (a_k² + b_k²)·2/n with a_k =
    * Σ d_t·cos(2πkt/n), b_k likewise — WHERE the seasonal energy
    * lives (q_seasonal_strength assumes the weekly period; the
    * periodogram measures all low harmonics so an unexpected monthly
    * or quarterly cycle shows up unasked). Shape: the day frame gets a
    * frame-ordered index once, fans ×12 against a generated frequency
    * dimension (bounded 12n rows of bare scalars), and each
    * coefficient is a per-term DECIMAL-folded sum. Float discipline:
    * libm cos/sin may differ by an ulp per engine, and SQUARING the
    * coefficient amplifies that to ~1e-4 absolute in raw power — so
    * the outputs are the RELATIVE spectrum (power share of total
    * variance, Parseval-normalized) and the fitted harmonic amplitude,
    * whose error stays RELATIVE (~1e-14) and 8 orders under their
    * rounding steps. Output ordered BY k, never by power, so no
    * cross-engine ordering rests on a float.
    */
  def qPeriodogram(s: SparkSession, dir: String): DataFrame = {
    val TwoPi = 6.283185307179586
    val days = dailyCents(s, dir)
    val m = days.agg(count(lit(1)).as("n"), sum(col("yc")).as("sy"))
    val w = Window.orderBy(col("di"))
    val dev = days
      .withColumn("t", row_number().over(w).cast("long") - 1)
      .crossJoin(broadcast(m))
      .select(col("t"), col("n"),
        ((col("yc") - col("sy").cast("double") / col("n")) / 100.0).as("d"))
    val vtot = dev.agg(sum((col("d") * col("d")).cast(Dec12)).as("ss"))
    val terms = dev
      .select(col("t"), col("n"), col("d"),
        explode(sequence(lit(1), lit(PeriodogramKs))).as("k"))
      .select(col("k"), col("n"),
        (col("d") * cos(lit(TwoPi) * col("k") * col("t") / col("n")))
          .cast(Dec12).as("ca"),
        (col("d") * sin(lit(TwoPi) * col("k") * col("t") / col("n")))
          .cast(Dec12).as("cb"))
    val p2 = col("a").cast("double") * col("a").cast("double") +
      col("b").cast("double") * col("b").cast("double")
    terms.groupBy(col("k"))
      .agg(max(col("n")).as("n"),
        sum(col("ca")).as("a"), sum(col("cb")).as("b"))
      .crossJoin(broadcast(vtot))
      .select(col("k").cast("long").as("k"),
        NumFns.roundPortable(col("n").cast("double") / col("k"), 2)
          .as("period_days"),
        NumFns.roundPortable(
          sqrt(p2) * 2.0 / col("n"), 4).as("amplitude"),
        NumFns.roundPortable(
          p2 * 2.0 / col("n") / col("ss").cast("double"), 6)
          .as("power_share"))
      .orderBy(col("k"))
  }

  val qPeriodogramOracle: String =
    s"""WITH days AS (${dailyCentsSql()}),
       |m AS (SELECT count(*) AS n, CAST(sum(yc) AS BIGINT) AS sy FROM days),
       |dev AS (
       |  SELECT CAST(row_number() OVER (ORDER BY di) AS BIGINT) - 1 AS t,
       |    n, (yc - CAST(sy AS DOUBLE) / n) / 100.0 AS d
       |  FROM days CROSS JOIN m
       |),
       |vt AS (
       |  SELECT CAST(sum(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE) AS ss
       |  FROM dev
       |),
       |terms AS (
       |  SELECT k, n,
       |    CAST(d * cos(6.283185307179586 * k * t / n) AS DECIMAL(38,12))
       |      AS ca,
       |    CAST(d * sin(6.283185307179586 * k * t / n) AS DECIMAL(38,12))
       |      AS cb
       |  FROM dev CROSS JOIN (SELECT unnest(range(1, $PeriodogramKs + 1))
       |    AS k)
       |),
       |ag AS (
       |  SELECT k, max(n) AS n,
       |    CAST(sum(ca) AS DOUBLE) AS a, CAST(sum(cb) AS DOUBLE) AS b
       |  FROM terms GROUP BY k
       |)
       |SELECT k,
       |  ${NumFns.roundPortableSql("CAST(n AS DOUBLE) / k", 2)}
       |    AS period_days,
       |  ${NumFns.roundPortableSql(
            "sqrt(a * a + b * b) * 2.0 / n", 4)} AS amplitude,
       |  ${NumFns.roundPortableSql(
            "(a * a + b * b) * 2.0 / n / ss", 6)} AS power_share
       |FROM ag CROSS JOIN vt
       |ORDER BY k""".stripMargin

  /** Two-sample log-rank test on TIME TO FIRST PURCHASE: do users who
    * onboard organically (a signup event on their first active day)
    * convert on the same clock as users who land mid-funnel? — the
    * hypothesis test on top of q_survival/q_nelson_aalen's estimators
    * (an eyeballed KM gap has no size; log-rank calibrates it): at
    * every conversion time, observed group-1 conversions vs the
    * hypergeometric expectation from the shared risk set, summed and
    * normalized. Never-purchasers censor at their last observed day.
    * Shape: one event scan → per-user (time, event, cohort) → the
    * bounded (t, group) cell frame; risk sets are frame-ordered
    * cumsums over it, E and V per-term DECIMAL folds. O, n's are
    * exact integers; E/V are deterministic ratios.
    */
  def qLogrank(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / (86400L * 1000000L)).as("day"),
        col("event_type"))
    val users = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("fd"), max(col("day")).as("ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("pd"),
        min(when(col("event_type") === "signup", col("day"))).as("sgd"))
    val lifetimes = users
      .select((coalesce(col("pd"), col("ld")) - col("fd")).as("t"),
        when(col("sgd") === col("fd"), 1L).otherwise(0L).as("grp"),
        when(col("pd").isNotNull, 1L).otherwise(0L).as("ch"))
    val cells = lifetimes.groupBy(col("t"))
      .agg(sum(when(col("grp") === 1, 1L).otherwise(0L)).as("m1"),
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("m0"),
        sum(when(col("grp") === 1, col("ch")).otherwise(0L)).as("d1"),
        sum(when(col("grp") === 0, col("ch")).otherwise(0L)).as("d0"))
    val tot = cells.agg(sum(col("m1")).as("nn1"), sum(col("m0")).as("nn0"))
    val wBefore = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = cells.crossJoin(broadcast(tot))
      .withColumn("r1",
        col("nn1") - coalesce(sum(col("m1")).over(wBefore), lit(0L)))
      .withColumn("r0",
        col("nn0") - coalesce(sum(col("m0")).over(wBefore), lit(0L)))
      .withColumn("rr", col("r1") + col("r0"))
      .withColumn("dd", col("d1") + col("d0"))
      .filter(col("dd") > 0 && col("rr") > 1)
    val terms = risk.select(col("nn1"), col("nn0"), col("d1"),
      (col("dd") * (col("r1").cast("double") / col("rr"))).cast(Dec12).as("e1"),
      (col("dd") * (col("r1").cast("double") / col("rr"))
        * (col("r0").cast("double") / col("rr"))
        * ((col("rr") - col("dd")).cast("double") / (col("rr") - 1)))
        .cast(Dec12).as("v"))
    terms.groupBy(col("nn1"), col("nn0"))
      .agg(sum(col("d1")).as("o1"), sum(col("e1")).as("e1"),
        sum(col("v")).as("v"))
      .withColumn("z",
        (col("o1") - col("e1").cast("double")) / sqrt(col("v").cast("double")))
      .select(col("nn1").as("n_signup_first"), col("nn0").as("n_midfunnel"),
        col("o1").as("observed_1"),
        NumFns.roundPortable(col("e1").cast("double"), 4).as("expected_1"),
        NumFns.roundPortable(col("z"), 4).as("z"),
        NumFns.roundPortable(NumFns.normTwoSidedP(col("z")), 6).as("p_value"))
  }

  val qLogrankOracle: String =
    s"""WITH days AS (
       |  SELECT user_id,
       |    CAST(floor(epoch_us(ts) / 86400000000::BIGINT) AS BIGINT) AS day,
       |    event_type
       |  FROM events
       |),
       |u AS (
       |  SELECT user_id, min(day) AS fd, max(day) AS ld,
       |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd,
       |    min(CASE WHEN event_type = 'signup' THEN day END) AS sgd
       |  FROM days GROUP BY user_id
       |),
       |lt AS (
       |  SELECT coalesce(pd, ld) - fd AS t,
       |    CASE WHEN sgd = fd THEN 1 ELSE 0 END AS grp,
       |    CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS ch
       |  FROM u
       |),
       |c AS (
       |  SELECT t,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0,
       |    CAST(sum(CASE WHEN grp = 1 THEN ch ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(sum(CASE WHEN grp = 0 THEN ch ELSE 0 END) AS BIGINT) AS d0
       |  FROM lt GROUP BY t
       |),
       |tt AS (
       |  SELECT CAST(sum(m1) AS BIGINT) AS nn1, CAST(sum(m0) AS BIGINT)
       |    AS nn0
       |  FROM c
       |),
       |rk AS (
       |  SELECT nn1, nn0, d1, d0,
       |    nn1 - CAST(COALESCE(sum(m1) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS r1,
       |    nn0 - CAST(COALESCE(sum(m0) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS r0
       |  FROM c CROSS JOIN tt
       |),
       |f AS (
       |  SELECT nn1, nn0, d1,
       |    CAST((d1 + d0) * (CAST(r1 AS DOUBLE) / (r1 + r0))
       |      AS DECIMAL(38,12)) AS e1,
       |    CAST((d1 + d0) * (CAST(r1 AS DOUBLE) / (r1 + r0))
       |      * (CAST(r0 AS DOUBLE) / (r1 + r0))
       |      * (CAST(r1 + r0 - d1 - d0 AS DOUBLE) / (r1 + r0 - 1))
       |      AS DECIMAL(38,12)) AS v
       |  FROM rk WHERE d1 + d0 > 0 AND r1 + r0 > 1
       |),
       |ag AS (
       |  SELECT nn1, nn0, CAST(sum(d1) AS BIGINT) AS o1,
       |    CAST(sum(e1) AS DOUBLE) AS e1, CAST(sum(v) AS DOUBLE) AS v
       |  FROM f GROUP BY nn1, nn0
       |),
       |zz AS (SELECT *, (o1 - e1) / sqrt(v) AS z FROM ag)
       |SELECT nn1 AS n_signup_first, nn0 AS n_midfunnel, o1 AS observed_1,
       |  ${NumFns.roundPortableSql("e1", 4)} AS expected_1,
       |  ${NumFns.roundPortableSql("z", 4)} AS z,
       |  ${NumFns.roundPortableSql(NumFns.normTwoSidedPSql("z"), 6)}
       |    AS p_value
       |FROM zz""".stripMargin

  /** Cook's distance of the daily-revenue trend fit: the top-5 most
    * INFLUENTIAL days (not merely largest residuals — D_t folds in the
    * leverage h_t, so an extreme day at the calendar edge scores far
    * above the same residual mid-sample) — the "which days, if
    * dropped, would move the trend?" diagnostic completing the OLS
    * ring (q_ols_fit coefficients, q_durbin_watson error correlation,
    * q_chow_test breaks). Shape: closed-form (a,b) from DECIMAL-folded
    * day-frame moments broadcast back; e, h and D are per-day scalar
    * arithmetic on the calendar-bounded aggregate; top-5 via
    * TakeOrdered with a deterministic di tie-break. The ordering key
    * is pure +−×÷ of identical doubles — no libm in the sort.
    */
  def qCooksDistance(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir).select(col("di"), (col("yc") / 100.0).as("y"))
    val m = dayTrend(days).select(col("n").as("nL"), col("sx"), col("sxx"), col("b"), col("a"))
    val res = days.crossJoin(broadcast(m))
      .select(col("di"), col("y"), col("nL"),
        (col("y") - col("a") - col("b") * col("di")).as("e"),
        (lit(1.0) / col("nL")
          + (col("di") - col("sx") / col("nL"))
          * (col("di") - col("sx") / col("nL"))
          / (col("sxx") - col("sx") * col("sx") / col("nL"))).as("h"))
    val s2 = res.agg(
      (NumFns.stableSum(col("e") * col("e"), 6)
        / (max(col("nL")) - 2)).as("s2"))
    res.crossJoin(broadcast(s2))
      .select(col("di"), col("y"), col("e"), col("h"),
        ((col("e") * col("e") / (lit(2.0) * col("s2")))
          * (col("h") / ((lit(1.0) - col("h")) * (lit(1.0) - col("h")))))
          .as("d"))
      .orderBy(col("d").desc, col("di"))
      .limit(5)
      .select(col("di").cast("long").as("di"),
        NumFns.roundPortable(col("y"), 2).as("revenue"),
        NumFns.roundPortable(col("e"), 2).as("residual"),
        NumFns.roundPortable(col("h"), 6).as("leverage"),
        NumFns.roundPortable(col("d"), 6).as("cooks_d"))
  }

  val qCooksDistanceOracle: String =
    s"""WITH days AS (SELECT di, yc / 100.0 AS y FROM (${dailyCentsSql()})),
       |${dayTrendSql("days")},
       |cf AS (SELECT n AS nL, sx, sxx, b, a FROM tr),
       |res AS (
       |  SELECT di, y, nL,
       |    y - a - b * di AS e,
       |    1.0 / nL + (di - sx / nL) * (di - sx / nL)
       |      / (sxx - sx * sx / nL) AS h
       |  FROM days CROSS JOIN cf
       |),
       |sv AS (
       |  SELECT ${NumFns.stableSumSql("e * e", 6)} / (max(nL) - 2) AS s2
       |  FROM res
       |),
       |dd AS (
       |  SELECT di, y, e, h,
       |    (e * e / (2.0 * s2)) * (h / ((1.0 - h) * (1.0 - h))) AS d
       |  FROM res CROSS JOIN sv
       |)
       |SELECT CAST(di AS BIGINT) AS di,
       |  ${NumFns.roundPortableSql("y", 2)} AS revenue,
       |  ${NumFns.roundPortableSql("e", 2)} AS residual,
       |  ${NumFns.roundPortableSql("h", 6)} AS leverage,
       |  ${NumFns.roundPortableSql("d", 6)} AS cooks_d
       |FROM dd
       |ORDER BY d DESC, di
       |LIMIT 5""".stripMargin

  /** Exceedance quantile for [[qPotGpd]] (share of days below u). */
  val PotThresholdQ = 0.9

  /** Peaks-over-threshold GPD tail fit of daily revenue: exceedances
    * over the exact P90 day, method-of-moments ξ̂ = ½(1−m̄²/s²) and
    * β̂ = ½m̄(m̄²/s²+1), plus the implied 1-in-1000-day return level —
    * the EVT tail model beside q_tail_index's Hill exponent (Hill
    * assumes a pure Pareto tail; the GPD's ξ SIGN distinguishes
    * bounded (ξ<0), exponential (ξ≈0) and heavy (ξ>0) tails, which is
    * the capacity-planning question). Shape: the threshold is an exact
    * rank pick from per-value cells + an exclusive prefix over the
    * day-value frame (rank-from-counts, never a row sort); exceedance
    * moments fold in DECIMAL(38,0) integer cents; the return level's
    * one libm pow lands 9 orders under its rounding step.
    */
  def qPotGpd(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val cells = days.groupBy(col("yc")).agg(count(lit(1)).as("c"))
    val tot = cells.agg(sum(col("c")).as("n"))
    val wCum = Window.orderBy(col("yc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = cells
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= ceil(lit(PotThresholdQ) * col("n")))
      .agg(min(col("yc")).as("u"), max(col("n")).as("n"))
    val exc = days.crossJoin(broadcast(u))
      .filter(col("yc") > col("u"))
      .select(col("n"), col("u"), (col("yc") - col("u")).as("z"))
    val m = exc.groupBy(col("n"), col("u"))
      .agg(count(lit(1)).as("k"),
        sum(col("z").cast(Dec0)).as("s1"),
        sum(col("z").cast(Dec0) * col("z")).as("s2"))
    val kD = col("k").cast("double")
    val mean = col("s1").cast("double") / kD
    val vr = (col("k") * col("s2") - col("s1") * col("s1")).cast("double") /
      (kD * (kD - 1.0))
    val ratio = mean * mean / vr
    val xi = (lit(1.0) - ratio) * 0.5
    val beta = mean * (ratio + 1.0) * 0.5
    // 1-in-1000-day return level: u + β/ξ·((k/(n·(1−p)))^ξ − 1)
    val rl = (col("u") / 100.0) + (beta / xi) *
      (pow(kD / (col("n") * lit(0.001)), xi) - lit(1.0)) / 100.0
    m.select(col("n").as("n_days"), col("k").as("n_exceed"),
      NumFns.roundPortable(col("u") / 100.0, 2).as("threshold"),
      NumFns.roundPortable(mean / 100.0, 2).as("mean_excess"),
      NumFns.roundPortable(xi, 4).as("xi"),
      NumFns.roundPortable(beta / 100.0, 2).as("beta"),
      NumFns.roundPortable(rl, 2).as("return_level_1000d"))
  }

  val qPotGpdOracle: String =
    s"""WITH days AS (${dailyCentsSql()}),
       |cells AS (SELECT yc, count(*) AS c FROM days GROUP BY yc),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
       |uu AS (
       |  SELECT CAST(min(yc) AS BIGINT) AS u, CAST(max(n) AS BIGINT) AS n
       |  FROM (
       |    SELECT yc, n,
       |      sum(c) OVER (ORDER BY yc
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM cells CROSS JOIN tot
       |  )
       |  WHERE cum >= ceil($PotThresholdQ * n)
       |),
       |exc AS (
       |  SELECT n, u, yc - u AS z FROM days CROSS JOIN uu WHERE yc > u
       |),
       |m AS (
       |  SELECT n, u, count(*) AS k,
       |    sum(CAST(z AS HUGEINT)) AS s1,
       |    sum(CAST(z AS HUGEINT) * z) AS s2
       |  FROM exc GROUP BY n, u
       |),
       |st AS (
       |  SELECT n, u, k,
       |    CAST(s1 AS DOUBLE) / k AS mean,
       |    CAST(k * s2 - s1 * s1 AS DOUBLE)
       |      / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0)) AS vr
       |  FROM m
       |),
       |gp AS (
       |  SELECT n, u, k, mean,
       |    (1.0 - mean * mean / vr) * 0.5 AS xi,
       |    mean * (mean * mean / vr + 1.0) * 0.5 AS beta
       |  FROM st
       |)
       |SELECT n AS n_days, k AS n_exceed,
       |  ${NumFns.roundPortableSql("u / 100.0", 2)} AS threshold,
       |  ${NumFns.roundPortableSql("mean / 100.0", 2)} AS mean_excess,
       |  ${NumFns.roundPortableSql("xi", 4)} AS xi,
       |  ${NumFns.roundPortableSql("beta / 100.0", 2)} AS beta,
       |  ${NumFns.roundPortableSql(
            "(u / 100.0) + (beta / xi)" +
              " * (pow(CAST(k AS DOUBLE) / (n * 0.001), xi) - 1.0) / 100.0",
            2)} AS return_level_1000d
       |FROM gp""".stripMargin

  /** Entropy rate of the user event-type Markov chain: H = −Σᵢⱼ
    * (nᵢⱼ/N)·ln(nᵢⱼ/nᵢ.) over the transition cells, beside the
    * zeroth-order marginal entropy and the predictability gain
    * 1 − H_rate/H_marg — how much knowing the PREVIOUS action tells
    * you about the next (q_markov_chain prints the matrix; this is
    * its one-number information content, and q_event_entropy's
    * per-user marginal can't see sequence structure at all). Shape:
    * one lag pass (user-partitioned window) → the ≤|types|² cell
    * frame; every sum is a per-term DECIMAL fold over it. Counts
    * exact; ln on identical ratio-of-integer doubles.
    */
  def qEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val cells = transitions(s, dir)
    val marg = cells.groupBy(col("from_type")).agg(sum(col("n")).as("ni"))
    val tot = cells.agg(sum(col("n")).as("nn"),
      countDistinct(col("from_type")).as("k"))
    val joined = cells.join(broadcast(marg), Seq("from_type"))
      .crossJoin(broadcast(tot))
    val hRate = joined
      .select((-(col("n").cast("double") / col("nn"))
        * log(col("n").cast("double") / col("ni"))).cast(Dec12).as("t"))
      .agg(sum(col("t")).as("hr"))
    val hMarg = marg.crossJoin(broadcast(tot))
      .select((-(col("ni").cast("double") / col("nn"))
        * log(col("ni").cast("double") / col("nn"))).cast(Dec12).as("t"))
      .agg(sum(col("t")).as("hm"))
    tot.crossJoin(broadcast(hRate)).crossJoin(broadcast(hMarg))
      .select(col("nn").as("n_transitions"), col("k").as("n_states"),
        NumFns.roundPortable(col("hr").cast("double"), 6).as("entropy_rate"),
        NumFns.roundPortable(col("hm").cast("double"), 6)
          .as("marginal_entropy"),
        NumFns.roundPortable(
          lit(1.0) - col("hr").cast("double") / col("hm").cast("double"), 6)
          .as("predictability"))
  }

  val qEntropyRateOracle: String =
    s"""WITH c AS ($transitionsSql),
       |mg AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS ni FROM c
       |  GROUP BY 1),
       |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
       |  count(DISTINCT from_type) AS k FROM c),
       |hr AS (
       |  SELECT CAST(sum(CAST(-(CAST(n AS DOUBLE) / nn)
       |    * ln(CAST(n AS DOUBLE) / ni) AS DECIMAL(38,12))) AS DOUBLE) AS hr
       |  FROM c JOIN mg USING (from_type) CROSS JOIN tt
       |),
       |hm AS (
       |  SELECT CAST(sum(CAST(-(CAST(ni AS DOUBLE) / nn)
       |    * ln(CAST(ni AS DOUBLE) / nn) AS DECIMAL(38,12))) AS DOUBLE) AS hm
       |  FROM mg CROSS JOIN tt
       |)
       |SELECT nn AS n_transitions, k AS n_states,
       |  ${NumFns.roundPortableSql("hr", 6)} AS entropy_rate,
       |  ${NumFns.roundPortableSql("hm", 6)} AS marginal_entropy,
       |  ${NumFns.roundPortableSql("1.0 - hr / hm", 6)} AS predictability
       |FROM tt, hr, hm""".stripMargin

  /** Bowker symmetry test of the event-type transition matrix: χ² =
    * Σ_{i<j} (nᵢⱼ−nⱼᵢ)²/(nᵢⱼ+nⱼᵢ) — "is traffic between every pair of
    * states balanced, or does the product have one-way currents?" (the
    * k-state generalization of q_mcnemar's 2×2; a funnel SHOULD fail
    * it — signup→purchase must outnumber purchase→signup — so the
    * per-pair table is the actual product: which flows are skewed).
    * Shape: the transition cell frame self-joins on the flipped key —
    * a ≤|types|²-row dimension join — then one DECIMAL-folded sum;
    * Wilson–Hilferty normalizes χ² against its dof for the verdict.
    */
  def qBowkerTest(s: SparkSession, dir: String): DataFrame = {
    val cells = transitions(s, dir)
    val pairs = cells.filter(col("from_type") < col("to_type"))
      .select(col("from_type").as("a"), col("to_type").as("b"),
        col("n").as("nab"))
      .join(cells.select(col("to_type").as("a"), col("from_type").as("b"),
        col("n").as("nba")), Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        coalesce(col("nab"), lit(0L)).as("nab"),
        coalesce(col("nba"), lit(0L)).as("nba"))
      .filter(col("a") < col("b") && (col("nab") + col("nba")) > 0)
    val agg = pairs
      .select((((col("nab") - col("nba")) * (col("nab") - col("nba")))
        .cast("double") / (col("nab") + col("nba"))).cast(Dec12).as("t"))
      .agg(count(lit(1)).as("dof"), sum(col("t")).as("chi2"))
    val k = col("dof").cast("double")
    val c2 = col("chi2").cast("double")
    val z = NumFns.wilsonHilfertyZ(c2 / k, k)
    agg.select(col("dof"),
      NumFns.roundPortable(c2, 4).as("bowker_chi2"),
      NumFns.roundPortable(z, 4).as("z"))
      .withColumn("asymmetric", col("z") > 1.645)
  }

  val qBowkerTestOracle: String =
    s"""WITH c AS ($transitionsSql),
       |pr AS (
       |  SELECT coalesce(x.a, y.a) AS a, coalesce(x.b, y.b) AS b,
       |    coalesce(x.nab, 0) AS nab, coalesce(y.nba, 0) AS nba
       |  FROM (SELECT from_type AS a, to_type AS b, n AS nab FROM c
       |        WHERE from_type < to_type) x
       |  FULL OUTER JOIN (SELECT to_type AS a, from_type AS b, n AS nba
       |        FROM c WHERE to_type < from_type) y
       |    ON x.a = y.a AND x.b = y.b
       |),
       |f AS (
       |  SELECT CAST((nab - nba) * (nab - nba) AS DOUBLE) / (nab + nba)
       |    AS t
       |  FROM pr WHERE a < b AND nab + nba > 0
       |),
       |ag AS (
       |  SELECT count(*) AS dof,
       |    CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) AS chi2
       |  FROM f
       |),
       |zz AS (
       |  SELECT dof, chi2,
       |    ${NumFns.wilsonHilfertyZSql("chi2 / dof", "dof")} AS z
       |  FROM ag
       |)
       |SELECT dof,
       |  ${NumFns.roundPortableSql("chi2", 4)} AS bowker_chi2,
       |  ${NumFns.roundPortableSql("z", 4)} AS z,
       |  ${NumFns.roundPortableSql("z", 4)} > 1.645 AS asymmetric
       |FROM zz""".stripMargin

  /** Page's L trend test for ORDERED alternatives across the weekday
    * profile: within each complete Mon→Sun week (the block), rank the
    * seven daily revenues, then L = Σ_j j·R_j asks whether revenue
    * rises MONOTONICALLY through the week — the ordered-hypothesis
    * power that q_friedman (any difference) throws away. Shape: the
    * day frame is keyed by the week's MONDAY (`date_trunc('week')`,
    * identical in both engines) — NOT by (year(d), weekofyear(d)),
    * whose keys disagree at year boundaries (an ISO week's days carry
    * mismatched calendar years, so two half-weeks from opposite ends
    * of one year could merge into a statistically malformed 7-day
    * pseudo-block); in-block ranks are 7-row partitioned windows
    * (entity-parallel, never global); complete blocks filter exactly;
    * L, E[L] = bk(k+1)²/4 and Var[L] = bk²(k+1)(k²−1)/144 are exact
    * integers until z.
    */
  def qPageTrend(s: SparkSession, dir: String): DataFrame = {
    val k = 7
    val days = orderDates(s, dir, dayCents.as("yc"))
      .select(col("d"), col("yc"),
        date_trunc("week", col("d")).cast("date").as("wk0"),
        dayofweek(col("d")).as("dw"))
    val wBlock = Window.partitionBy(col("wk0"))
    val complete = days
      .withColumn("nb", count(lit(1)).over(wBlock))
      .filter(col("nb") === k)
    val wRank = Window.partitionBy(col("wk0"))
      .orderBy(col("yc"), col("d"))
    val ranked = complete
      .withColumn("r", row_number().over(wRank).cast("long"))
      // treatment index: Monday=1 … Sunday=7 (dayofweek is Sun=1)
      .withColumn("j", ((col("dw") + 5) % 7 + 1).cast("long"))
    val m = ranked.agg(
      (countDistinct(col("wk0"))).as("b"),
      sum(col("j") * col("r")).as("l"))
    val bD = col("b").cast("double")
    val e = bD * k * (k + 1.0) * (k + 1.0) / 4.0
    val v = bD * k * k * (k + 1.0) * (k * k - 1.0) / 144.0
    val z = (col("l") - e) / sqrt(v)
    m.select(col("b").as("n_weeks"), col("l").as("page_l"),
      NumFns.roundPortable(e, 2).as("expected_l"),
      NumFns.roundPortable(z, 4).as("z"),
      NumFns.roundPortable(NumFns.normTwoSidedP(z), 6).as("p_value"),
      (z > 1.645).as("increasing_trend"))
  }

  val qPageTrendOracle: String =
    s"""WITH days AS (${orderDatesSql(s"$dayCentsSql AS yc")}),
       |keyed AS (
       |  SELECT d, yc, CAST(date_trunc('week', d) AS DATE) AS wk0,
       |    dayofweek(d) AS dw0
       |  FROM days
       |),
       |cb AS (
       |  SELECT *, count(*) OVER (PARTITION BY wk0) AS nb FROM keyed
       |),
       |ranked AS (
       |  SELECT wk0,
       |    CAST(row_number() OVER (PARTITION BY wk0 ORDER BY yc, d)
       |      AS BIGINT) AS r,
       |    CAST((dw0 + 6) % 7 + 1 AS BIGINT) AS j
       |  FROM cb WHERE nb = 7
       |),
       |m AS (
       |  SELECT CAST(count(DISTINCT wk0) AS BIGINT) AS b,
       |    CAST(sum(j * r) AS BIGINT) AS l
       |  FROM ranked
       |),
       |zz AS (
       |  SELECT b, l,
       |    b * 7.0 * 8.0 * 8.0 / 4.0 AS e,
       |    (l - b * 7.0 * 8.0 * 8.0 / 4.0)
       |      / sqrt(b * 49.0 * 8.0 * 48.0 / 144.0) AS z
       |  FROM m
       |)
       |SELECT b AS n_weeks, l AS page_l,
       |  ${NumFns.roundPortableSql("e", 2)} AS expected_l,
       |  ${NumFns.roundPortableSql("z", 4)} AS z,
       |  ${NumFns.roundPortableSql(NumFns.normTwoSidedPSql("z"), 6)}
       |    AS p_value,
       |  z > 1.645 AS increasing_trend
       |FROM zz""".stripMargin

  /** The 3-lag design of daily revenue shared by [[qPacf]] and
    * [[qArOrderAic]]: deviations d = (y − ȳ)/`unit` (ȳ a ratio of exact
    * integers), one frame-ordered window pass materializing three lags
    * over the calendar-bounded [[dailyCents]] frame, DECIMAL-folded
    * product sums, and the closed-form Durbin–Levinson recursion to
    * lag 3. Returns one row `(n, den, r1, r2, r3, p22, p33)`: den = Σd²,
    * r_k the autocorrelations, p22/p33 the partial ones.
    */
  def lagDesign(s: SparkSession, dir: String, unit: Double): DataFrame = {
    val days = dailyCents(s, dir)
    val m = days.agg(count(lit(1)).as("n"), sum(col("yc")).as("sy"))
    val w = Window.orderBy(col("di"))
    val dev = days.crossJoin(broadcast(m))
      .select(col("di"), col("n"),
        ((col("yc") - col("sy").cast("double") / col("n")) / unit).as("d"))
      .withColumn("l1", lag(col("d"), 1).over(w))
      .withColumn("l2", lag(col("d"), 2).over(w))
      .withColumn("l3", lag(col("d"), 3).over(w))
    val sums = dev.agg(max(col("n")).as("n"),
      sum((col("d") * col("d")).cast(Dec12)).as("den"),
      sum((col("d") * col("l1")).cast(Dec12)).as("n1"),
      sum((col("d") * col("l2")).cast(Dec12)).as("n2"),
      sum((col("d") * col("l3")).cast(Dec12)).as("n3"))
    val r1 = col("n1").cast("double") / col("den").cast("double")
    val r2 = col("n2").cast("double") / col("den").cast("double")
    val r3 = col("n3").cast("double") / col("den").cast("double")
    val p22 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val p21 = r1 * (lit(1.0) - r2) / (lit(1.0) - r1 * r1)
    val p33 = (r3 - p21 * r2 - p22 * r1) /
      (lit(1.0) - p21 * r1 - p22 * r2)
    sums.select(col("n"), col("den"), r1.as("r1"), r2.as("r2"), r3.as("r3"),
      p22.as("p22"), p33.as("p33"))
  }

  /** SQL twin of [[lagDesign]]: CTEs ending in `dl(n, den, r1, r2, r3,
    * p22, p33)`.
    */
  def lagDesignSql(unit: Double): String =
    s"""days AS (${dailyCentsSql()}),
       |m AS (SELECT count(*) AS n, CAST(sum(yc) AS BIGINT) AS sy FROM days),
       |dev AS (
       |  SELECT di, n, (yc - CAST(sy AS DOUBLE) / n) / $unit AS d
       |  FROM days CROSS JOIN m
       |),
       |lg AS (
       |  SELECT n, d,
       |    lag(d, 1) OVER w AS l1, lag(d, 2) OVER w AS l2,
       |    lag(d, 3) OVER w AS l3
       |  FROM dev WINDOW w AS (ORDER BY di)
       |),
       |ss AS (
       |  SELECT max(n) AS n,
       |    sum(CAST(d * d AS DECIMAL(38,12))) AS den,
       |    sum(CAST(d * l1 AS DECIMAL(38,12))) AS n1,
       |    sum(CAST(d * l2 AS DECIMAL(38,12))) AS n2,
       |    sum(CAST(d * l3 AS DECIMAL(38,12))) AS n3
       |  FROM lg
       |),
       |r AS (
       |  SELECT n, den,
       |    CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
       |    CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
       |    CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3
       |  FROM ss
       |),
       |pr AS (
       |  SELECT n, den, r1, r2, r3,
       |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22,
       |    r1 * (1.0 - r2) / (1.0 - r1 * r1) AS p21
       |  FROM r
       |),
       |dl AS (
       |  SELECT n, den, r1, r2, r3, p22,
       |    (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2) AS p33
       |  FROM pr
       |)""".stripMargin

  /** Partial autocorrelation of daily revenue at lags 1..3 via the
    * closed-form Durbin–Levinson recursion, with the AR-order hint the
    * raw ACF can't give (an AR(1) series has geometric ACF at ALL lags
    * but PACF zero past lag 1 — the PACF cutoff IS the model order):
    * the identification step between q_autocorr (raw ρ) and
    * q_dickey_fuller (unit root). Shape: the [[lagDesign]] of revenue
    * in cents; no row-scale work anywhere.
    */
  def qPacf(s: SparkSession, dir: String): DataFrame = {
    val thr = lit(1.96) / sqrt(col("n").cast("double"))
    val (r1, p22, p33) = (col("r1"), col("p22"), col("p33"))
    lagDesign(s, dir, 1.0).select(col("n").as("n_days"),
      NumFns.roundPortable(r1, 6).as("rho1"),
      NumFns.roundPortable(col("r2"), 6).as("rho2"),
      NumFns.roundPortable(col("r3"), 6).as("rho3"),
      NumFns.roundPortable(r1, 6).as("pacf1"),
      NumFns.roundPortable(p22, 6).as("pacf2"),
      NumFns.roundPortable(p33, 6).as("pacf3"),
      when(abs(p22) < thr && abs(p33) < thr && abs(r1) >= thr, "AR(1)")
        .when(abs(p33) < thr && abs(p22) >= thr, "AR(2)")
        .when(abs(p33) >= thr, "AR(3)+")
        .otherwise("white").as("ar_hint"))
  }

  val qPacfOracle: String =
    s"""WITH ${lagDesignSql(1.0)},
       |f AS (SELECT *, 1.96 / sqrt(CAST(n AS DOUBLE)) AS thr FROM dl)
       |SELECT n AS n_days,
       |  ${NumFns.roundPortableSql("r1", 6)} AS rho1,
       |  ${NumFns.roundPortableSql("r2", 6)} AS rho2,
       |  ${NumFns.roundPortableSql("r3", 6)} AS rho3,
       |  ${NumFns.roundPortableSql("r1", 6)} AS pacf1,
       |  ${NumFns.roundPortableSql("p22", 6)} AS pacf2,
       |  ${NumFns.roundPortableSql("p33", 6)} AS pacf3,
       |  CASE WHEN abs(p22) < thr AND abs(p33) < thr AND abs(r1) >= thr
       |      THEN 'AR(1)'
       |    WHEN abs(p33) < thr AND abs(p22) >= thr THEN 'AR(2)'
       |    WHEN abs(p33) >= thr THEN 'AR(3)+'
       |    ELSE 'white' END AS ar_hint
       |FROM f""".stripMargin

  /** CUSUM-of-squares variance-changepoint detector on daily revenue:
    * C_t = (Σ_{s≤t} y_s²)/(Σ y²) − t/n, alarm at max|C_t| — the
    * VOLATILITY-shift lens none of the level detectors (q_cusum,
    * q_pettitt, q_page_hinkley) see: a promo era that doubles daily
    * variance but not the mean moves C_t and nothing else. Shape: the
    * squares fold exactly in DECIMAL(38,0) integer cents² on the
    * calendar-bounded day frame; the cumulative sum is frame-ordered
    * (sequential on both engines); argmax via TakeOrdered(1) with a
    * di tie-break. The Brown–Durbin–Evans normalization √(n/2)·max|C|
    * is reported for a scale-free read.
    */
  def qCusumSquares(s: SparkSession, dir: String): DataFrame = {
    val days = dailyCents(s, dir)
    val sq = days.select(col("di"), (col("yc").cast(Dec0) * col("yc")).as("y2"))
    val tot = sq.agg(sum(col("y2")).as("ss"), count(lit(1)).as("n"))
    val wSeq = Window.orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = sq
      .withColumn("cum", sum(col("y2")).over(wSeq))
      .withColumn("t", count(lit(1)).over(wSeq))
      .crossJoin(broadcast(tot))
      .select(col("di"), col("n"),
        abs(col("cum").cast("double") / col("ss").cast("double")
          - col("t").cast("double") / col("n")).as("c"))
    c.orderBy(col("c").desc, col("di"))
      .limit(1)
      .select(col("n").as("n_days"), col("di").cast("long").as("peak_di"),
        NumFns.roundPortable(col("c"), 6).as("max_abs_c"),
        NumFns.roundPortable(
          col("c") * sqrt(col("n").cast("double") / 2.0), 4)
          .as("bde_stat"))
      .withColumn("variance_shift", col("bde_stat") > 1.36)
  }

  val qCusumSquaresOracle: String =
    s"""WITH days AS (${dailyCentsSql()}),
       |sq AS (SELECT di, CAST(yc AS HUGEINT) * yc AS y2 FROM days),
       |tot AS (SELECT sum(y2) AS ss, count(*) AS n FROM sq),
       |c AS (
       |  SELECT di, n,
       |    abs(CAST(sum(y2) OVER w AS DOUBLE) / CAST(ss AS DOUBLE)
       |      - CAST(count(*) OVER w AS DOUBLE) / n) AS c
       |  FROM sq CROSS JOIN tot
       |  WINDOW w AS (ORDER BY di
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT n AS n_days, di AS peak_di,
       |  ${NumFns.roundPortableSql("c", 6)} AS max_abs_c,
       |  ${NumFns.roundPortableSql(
            "c * sqrt(CAST(n AS DOUBLE) / 2.0)", 4)} AS bde_stat,
       |  ${NumFns.roundPortableSql(
            "c * sqrt(CAST(n AS DOUBLE) / 2.0)", 4)} > 1.36
       |    AS variance_shift
       |FROM c
       |ORDER BY c DESC, di
       |LIMIT 1""".stripMargin

  /** AR-order selection by AIC over p ∈ {0..3}: Durbin–Levinson
    * innovation variances σ²_p = σ²_{p−1}(1−φ_pp²) from the SAME
    * [[lagDesign]] as [[qPacf]] (revenue in currency units), scored as
    * AIC_p = n·ln(σ²_p) + 2(p+1) — the automated version of q_pacf's
    * eyeballed cutoff (the order a forecasting consumer would actually
    * plug in). The per-order table makes the selection auditable, not
    * just the winner.
    */
  def qArOrderAic(s: SparkSession, dir: String): DataFrame = {
    val sums = lagDesign(s, dir, 100.0)
    val nD = col("n").cast("double")
    val (p11, p22, p33) = (col("r1"), col("p22"), col("p33"))
    val s0 = col("den").cast("double") / nD
    val s1v = s0 * (lit(1.0) - p11 * p11)
    val s2v = s1v * (lit(1.0) - p22 * p22)
    val s3v = s2v * (lit(1.0) - p33 * p33)
    val scored = sums.select(col("n"), explode(array(
      struct(lit(0L).as("p"), (nD * log(s0) + 2.0).as("aic")),
      struct(lit(1L).as("p"), (nD * log(s1v) + 4.0).as("aic")),
      struct(lit(2L).as("p"), (nD * log(s2v) + 6.0).as("aic")),
      struct(lit(3L).as("p"), (nD * log(s3v) + 8.0).as("aic")))).as("t"))
      .select(col("n"), col("t.p").as("p"), col("t.aic").as("aic"))
    val best = scored.agg(min(col("aic")).as("best"))
    scored.crossJoin(broadcast(best))
      .select(col("n").as("n_days"), col("p").as("ar_order"),
        NumFns.roundPortable(col("aic"), 2).as("aic"),
        (col("aic") === col("best")).as("selected"))
      .orderBy(col("ar_order"))
  }

  val qArOrderAicOracle: String =
    s"""WITH ${lagDesignSql(100.0)},
       |f AS (SELECT *, CAST(den AS DOUBLE) / CAST(n AS DOUBLE) AS s0 FROM dl),
       |sg AS (
       |  SELECT n, s0,
       |    s0 * (1.0 - r1 * r1) AS s1v,
       |    s0 * (1.0 - r1 * r1) * (1.0 - p22 * p22) AS s2v,
       |    s0 * (1.0 - r1 * r1) * (1.0 - p22 * p22) * (1.0 - p33 * p33)
       |      AS s3v
       |  FROM f
       |),
       |scored AS (
       |  SELECT n, CAST(0 AS BIGINT) AS p,
       |    CAST(n AS DOUBLE) * ln(s0) + 2.0 AS aic FROM sg
       |  UNION ALL SELECT n, 1, CAST(n AS DOUBLE) * ln(s1v) + 4.0 FROM sg
       |  UNION ALL SELECT n, 2, CAST(n AS DOUBLE) * ln(s2v) + 6.0 FROM sg
       |  UNION ALL SELECT n, 3, CAST(n AS DOUBLE) * ln(s3v) + 8.0 FROM sg
       |),
       |b AS (SELECT min(aic) AS best FROM scored)
       |SELECT n AS n_days, p AS ar_order,
       |  ${NumFns.roundPortableSql("aic", 2)} AS aic,
       |  aic = best AS selected
       |FROM scored CROSS JOIN b
       |ORDER BY ar_order""".stripMargin

  /** Seasonal Mann–Kendall trend test: the MK statistic computed
    * WITHIN each weekday series and pooled (S = ΣS_w, Var = ΣVar_w) —
    * the trend test that q_mann_kendall gets wrong on seasonal data
    * (comparing a Sunday to a Wednesday reads the weekly cycle as
    * "trend"; restricting pairs to same-weekday kills that bias by
    * construction). Shape: the pair join is weekday-PARTITIONED
    * (seven ~(n/7)²-bounded tasks instead of one n² — calendar-
    * bounded at any corpus scale), tie terms read per-(weekday,value)
    * cells, and the pooled z ([[mkVar]], [[mkZ]]) and verdict are
    * scalar.
    */
  def qSeasonalMk(s: SparkSession, dir: String): DataFrame = {
    val days = orderDates(s, dir, dayCents.as("yc"))
      .select(col("d"), col("yc"), dayofweek(col("d")).as("dw"))
      .localCheckpoint() // feeds pairs, ties and counts
    val a = days.select(col("dw"), col("d").as("d1"), col("yc").as("y1"))
    val b = days.select(col("dw"), col("d").as("d2"), col("yc").as("y2"))
    val sByW = a.join(b.hint("shuffle_hash"), Seq("dw"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("dw"))
      .agg(sum(when(col("y2") > col("y1"), 1L)
        .when(col("y2") < col("y1"), -1L).otherwise(0L)).as("sw"))
    val tiesW = days.groupBy(col("dw"), col("yc"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("dw"))
      .agg(coalesce(sum(col("c") * (col("c") - 1) * (col("c") * 2 + 5)),
        lit(0L)).as("tw"))
    val nW = days.groupBy(col("dw")).agg(count(lit(1)).as("nw"))
    val pooled = sByW.join(tiesW, Seq("dw")).join(nW, Seq("dw"))
      .select(col("sw"), mkVar(col("nw"), col("tw")).as("vw"), col("nw"))
      .agg(sum(col("sw")).as("s"), sum(col("vw")).as("v"),
        sum(col("nw")).as("n"), count(lit(1)).as("n_seasons"))
    pooled.select(Seq(col("n").as("n_days"), col("n_seasons"), col("s").as("s_stat"))
      ++ trendVerdict(mkZ(col("s"), col("v"))): _*)
  }

  val qSeasonalMkOracle: String =
    s"""WITH days AS (${orderDatesSql(s"$dayCentsSql AS yc")}),
       |k AS (SELECT d, yc, dayofweek(d) AS dw FROM days),
       |sw AS (
       |  SELECT a.dw,
       |    CAST(sum(CASE WHEN b.yc > a.yc THEN 1
       |      WHEN b.yc < a.yc THEN -1 ELSE 0 END) AS BIGINT) AS sw
       |  FROM k a JOIN k b ON a.dw = b.dw AND a.d < b.d
       |  GROUP BY a.dw
       |),
       |tw AS (
       |  SELECT dw,
       |    CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT) AS tw
       |  FROM (SELECT dw, yc, count(*) AS c FROM k GROUP BY dw, yc)
       |  GROUP BY dw
       |),
       |nw AS (SELECT dw, count(*) AS nw FROM k GROUP BY dw),
       |pl AS (
       |  SELECT CAST(sum(sw) AS BIGINT) AS s,
       |    sum(${mkVarSql("nw", "tw")}) AS v,
       |    CAST(sum(nw) AS BIGINT) AS n, count(*) AS n_seasons
       |  FROM sw JOIN tw USING (dw) JOIN nw USING (dw)
       |),
       |zz AS (SELECT n, n_seasons, s, ${mkZSql("s", "v")} AS z FROM pl)
       |SELECT n AS n_days, n_seasons, s AS s_stat,
       |  ${trendVerdictSql("z")}
       |FROM zz""".stripMargin
}
