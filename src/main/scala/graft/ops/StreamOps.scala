package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch formulations of the streaming operator inventory (SURVEY.md §2.I).
  *
  * Dual-formulation rule: every streaming operator ships (a) as a Structured
  * Streaming pipeline proven with MemoryStream in ScalaTest
  * ([[graft.streaming.Streams]]) and (b) as the batch DataFrame below over the
  * `events` table so the DuckDB oracle can check the arithmetic. Both share
  * the same logical-plan algebra — the Structured Streaming design premise.
  *
  * Window starts are emitted as epoch-microsecond BIGINTs (`unix_micros`),
  * not TimestampType: the driver hash-compares parquet values against DuckDB
  * output, and int64 epochs are representation-proof across engines.
  *
  * Scale notes (100 TB): all aggregations here are keyed on
  * (time-bucket, low-cardinality key) or (user_id, ...) — partial aggregation
  * (map-side combine) collapses each partition to ~|keys| rows before the
  * single shuffle; no O(data) shuffle. The analytic-window forms
  * (count-window, dedup, first/last) shuffle once on user_id; at 100 TB the
  * streaming twins bound state by watermark instead of sorting history.
  */
object StreamOps {

  /** I2 — tumbling 1h window count per event_type. THE flagship slice. */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("event_type"), col("n"))
      .orderBy("ws_us", "event_type")

  /** I2b — non-keyed global window (Flink `windowAll` analogue): daily
    * stream-wide stats with no grouping key. At scale the single global
    * key is the textbook hot partition — partial aggregation collapses
    * each input partition to one row before the 1-row-per-window shuffle,
    * so the "hot key" carries |partitions| rows, not O(data). */
  def dailyGlobalStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("n"),
        col("sum_value"), col("n_users"))
      .orderBy("ws_us")

  /** I3 — sliding window (1h size, 15min slide) avg value per window. */
  def slidingAvg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("n"), col("avg_value"))
      .orderBy("ws_us")

  /** I3b — CUMULATE window (the third Flink window TVF alongside
    * TUMBLE/HOP: windows share a span-aligned start and GROW by `step`
    * until the span closes — "today so far, every 15 minutes"). Spark
    * has no cumulate primitive; the Spark-first shape assigns each event
    * to its ≤ span/step covering ends via a row-local `sequence` explode
    * (the first covering end is ceil-aligned, so fan-out is only the
    * REMAINING ends, averaging (span/step+1)/2 ≈ 2.5 rows here), then
    * partial-aggregates per (window_start, window_end) — the same
    * map-side-combine collapse as any keyed window. Early ends report
    * fewer events than later ends of the same span by construction. */
  def cumulateCounts(spark: SparkSession, dir: String): DataFrame = {
    val span = 3600L * 1000000L // 1h, aligned
    val step = 900L * 1000000L  // growing in 15min increments
    events(spark, dir)
      .select(unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("ws_us",
        graft.functions.TimeBuckets.bucketOf("ts_us", span) * span)
      .withColumn("we_us", explode(
        graft.functions.TimeBuckets.cumulateEnds("ts_us", "ws_us", span, step)))
      .groupBy("ws_us", "we_us")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("ws_us", "we_us")
  }

  /** I4 — session windows (30min gap) per user: session stats.
    * Uses the built-in `session_window`; the oracle reproduces the same
    * sessionization with gaps-and-islands SQL. */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val perSession = events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           min(unix_micros(col("ts"))).as("first_us"),
           max(unix_micros(col("ts"))).as("last_us"))
    perSession
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
           sum(col("n_events")).as("n_events"),
           (sum(col("last_us") - col("first_us")).cast("double") /
             count(lit(1)).cast("double")).as("avg_span_us"))
      .orderBy("user_id")
  }

  /** I5 — per-user tumbling count-window of 10 events: sum of value.
    * No Structured Streaming built-in; batch shape = row_number bucketing.
    * Streaming twin uses flatMapGroupsWithState ([[graft.streaming.Streams]]). */
  def countWindowSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("bucket", ((row_number().over(w) - 1) / 10).cast("long"))
      .groupBy(col("user_id"), col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "bucket")
  }

  /** I5b — COUNT-TRIGGER + COUNT-EVICTOR window (the canonical Flink
    * windowing knob with no Structured Streaming equivalent:
    * `GlobalWindows` + `CountTrigger.of(3)` + `CountEvictor.of(5)` —
    * fire every 3rd element per key, aggregating the LAST 5 elements,
    * the evictor trimming the pane before each emission). Batch twin:
    * fire points are `row_number % 3 == 0` over the (ts, event_id)
    * order; the evicted pane is the bounded frame
    * `ROWS BETWEEN 4 PRECEDING AND CURRENT ROW` — both over ONE shared
    * user_id partitioning, so the whole query is a single shuffle. The
    * decimal-quantized window sum keeps the emitted double identical
    * across engines and row orders. Streaming twin:
    * [[graft.streaming.Streams.countTriggerWindowTws]] (bounded
    * ListState buffer = the evictor, element counter = the trigger);
    * the twin table checks fire-point and pane equality at every batching. */
  def countTriggerEvict(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pane = ord.rowsBetween(-4, 0)
    events(spark, dir)
      .withColumn("rn", row_number().over(ord))
      .withColumn("win_sum",
        sum(col("value").cast("decimal(18,6)")).over(pane).cast("double"))
      .where(col("rn") % 3 === 0)
      .select(col("user_id"), (col("rn") / 3).cast("long").as("fire_seq"),
        least(col("rn"), lit(5)).cast("long").as("n_in_window"), col("win_sum"))
      .orderBy("user_id", "fire_seq")
  }

  /** L199 — per-key RATE LIMITING / quota enforcement (the throttling
    * stage of an event-ingest pipeline — API quotas, abuse limiting,
    * per-tenant fairness; in Flink a `KeyedProcessFunction` holding a
    * window counter): per user and per 1-day tumbling window, ADMIT the
    * first Q=5 events in (ts, event_id) order, drop the rest. Batch
    * twin: one `row_number` over the (user, day) partition — admitted ⟺
    * rn ≤ Q — then the per-(user, day) admission report; the ordered
    * window and the groupBy share ONE (user_id, day)-compatible hash
    * partitioning, so the whole query is a single shuffle (the
    * `sessionize_events` argument). Admitted value mass goes through
    * the decimal contract. Streaming twin:
    * [[graft.streaming.Streams.rateLimitTws]] (per-(user, day) counter
    * in keyed state — O(1) per key·window, the quota itself);
    * the twin table checks the admitted event SET is identical at
    * every batching. */
  def rateLimit(spark: SparkSession, dir: String): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val w = Window.partitionBy(col("user_id"), day)
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"), unix_micros(day).as("day_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rn") <= 5, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("rn") > 5, 1L).otherwise(0L)).as("n_dropped"),
        round(dsum(when(col("rn") <= 5, col("value"))), 6)
          .as("admitted_value"))
      .orderBy("user_id", "day_us")
  }

  /** I6 — per-user stateful accumulator shape: first/last ts + counts. */
  def userFirstLast(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
           max(unix_micros(col("ts"))).as("last_us"),
           count(lit(1)).as("n_events"),
           countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id")

  /** I7 — exact dedup: deterministic first event per (user_id, event_type). */
  def dedupFirstEvent(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"))
      .orderBy("user_id", "event_type")
  }

  val entries: Map[String, Op] = Map(
    "stream_tumbling_counts" -> Op(tumblingCounts,
      s"""SELECT epoch_us(time_bucket(INTERVAL '1 hour', $evTs)) AS ws_us,
          event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    "stream_daily_global_stats" -> Op(dailyGlobalStats,
      s"""SELECT epoch_us(time_bucket(INTERVAL '1 day', $evTs)) AS ws_us,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events GROUP BY 1 ORDER BY 1"""),
    "stream_sliding_avg" -> Op(slidingAvg,
      s"""SELECT epoch_us(time_bucket(INTERVAL '15 minutes', $evTs)
                 - k * INTERVAL '15 minutes') AS ws_us,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(COUNT(value) AS DOUBLE) AS avg_value
          FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS k) shifts
          GROUP BY 1 ORDER BY 1"""),
    "stream_cumulate_counts" -> Op(cumulateCounts,
      s"""WITH e AS (SELECT epoch_us($evTs) AS ts_us, value FROM events),
            b AS (SELECT ts_us, value,
                (ts_us // 3600000000) * 3600000000 AS ws_us FROM e),
            x AS (SELECT ws_us, value, unnest(range(
                ws_us + ((ts_us - ws_us) // 900000000 + 1) * 900000000,
                ws_us + 3600000001, 900000000)) AS we_us FROM b)
          SELECT ws_us, we_us, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          FROM x GROUP BY 1, 2 ORDER BY 1, 2"""),
    "stream_session_stats" -> Op(sessionStats,
      s"""WITH flagged AS (
            SELECT user_id, $evTs AS ts,
              CASE WHEN epoch_us($evTs)
                     - lag(epoch_us($evTs)) OVER (PARTITION BY user_id ORDER BY $evTs, event_id)
                   >= 30*60*1000000 THEN 1 ELSE 0 END AS new_session
            FROM events),
          sessions AS (
            SELECT user_id, ts,
              SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged),
          per_session AS (
            SELECT user_id, session_id, COUNT(*) AS n_events,
              epoch_us(MIN(ts)) AS first_us, epoch_us(MAX(ts)) AS last_us
            FROM sessions GROUP BY 1, 2)
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
            CAST(SUM(n_events) AS BIGINT) AS n_events,
            CAST(SUM(last_us - first_us) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS avg_span_us
          FROM per_session GROUP BY 1 ORDER BY 1"""),
    "stream_count_window_sum" -> Op(countWindowSum,
      s"""WITH numbered AS (
            SELECT user_id, value,
              (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY $evTs, event_id)
               - 1) // 10 AS bucket
            FROM events)
          SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          FROM numbered GROUP BY 1, 2 ORDER BY 1, 2"""),
    "stream_count_trigger_evict" -> Op(countTriggerEvict,
      s"""WITH numbered AS (
            SELECT user_id, value,
              ROW_NUMBER() OVER w AS rn,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (w
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
                AS win_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY $evTs, event_id))
          SELECT user_id, CAST(rn // 3 AS BIGINT) AS fire_seq,
            CAST(LEAST(rn, 5) AS BIGINT) AS n_in_window, win_sum
          FROM numbered WHERE rn % 3 = 0 ORDER BY user_id, fire_seq"""),
    "stream_rate_limit" -> Op(rateLimit,
      s"""WITH numbered AS (
            SELECT user_id, value,
              epoch_us(date_trunc('day', $evTs)) AS day_us,
              ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', $evTs)
                ORDER BY $evTs, event_id) AS rn
            FROM events)
          SELECT user_id, day_us, CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(SUM(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_admitted,
            CAST(SUM(CASE WHEN rn > 5 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dropped,
            round(CAST(SUM(CASE WHEN rn <= 5
              THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6)
              AS admitted_value
          FROM numbered GROUP BY 1, 2 ORDER BY 1, 2"""),
    "stream_user_first_last" -> Op(userFirstLast,
      s"""SELECT user_id, MIN(epoch_us($evTs)) AS first_us,
            MAX(epoch_us($evTs)) AS last_us,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
          FROM events GROUP BY 1 ORDER BY 1"""),
    "stream_dedup_first_event" -> Op(dedupFirstEvent,
      s"""WITH numbered AS (
            SELECT user_id, event_type, event_id, epoch_us($evTs) AS ts_us,
              ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                ORDER BY $evTs, event_id) AS rn
            FROM events)
          SELECT user_id, event_type, event_id, ts_us
          FROM numbered WHERE rn = 1 ORDER BY user_id, event_type"""),
  )
}
