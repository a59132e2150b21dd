package graft.streaming

import graft.functions.ArrayMath.round6
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.jdk.CollectionConverters._

/** Structured Streaming formulations of the SURVEY.md §2.I inventory — the
  * (a) side of the dual-formulation rule. Each takes an unbounded events
  * DataFrame/Dataset (from `readStream` / `MemoryStream`) and returns a
  * streaming DataFrame; the batch twins live in [[graft.ops.StreamOps]] and
  * share the same logical algebra (the Structured Streaming design premise:
  * one declarative plan, incrementalized by the engine).
  *
  * Proven in `graft.StreamingSpec` with `MemoryStream`: watermark
  * advancement, late-data drop, session merge, dedup-within-watermark,
  * custom keyed state; its twin table checks batch≡streaming equality.
  *
  * Scale notes (100 TB/day stream): every stateful op is keyed on
  * (window-bucket ×) user/key → state is hash-partitioned across executors;
  * watermarks bound state size (old windows/sessions are evicted, dedup keys
  * expire); no operator keeps unbounded history.
  */
object Streams {

  /** Event record for typed streaming ops (mirrors the events table after
    * the ns→µs read normalization). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** I1+I2 — event-time tumbling window counts with a 10-minute
    * out-of-orderness bound. Append mode emits a window only once the
    * watermark passes its end; later-than-watermark rows are dropped (I8). */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))

  /** I3 — sliding window (1h / 15min) average value. */
  def slidingAvg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("w.start").as("ws"), col("n"), col("avg_value"))

  /** I4 — session windows with a 30-minute gap; windows merge as events
    * arrive, finalized when the watermark passes session end. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
                   watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** I7 — streaming exact dedup on (user_id, event_type); state for a key
    * expires once the watermark passes, bounding memory at scale. */
  def dedupFirst(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** I6 — KeyedProcessFunction analogue: per-user running first/last/count
    * via mapGroupsWithState (Update mode), at its batch twin's µs grain. */
  def userFirstLast(events: Dataset[Event]): Dataset[UserAccum] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserAccum, UserAccum](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[UserAccum]) =>
          val prev = state.getOption.getOrElse(UserAccum(uid, Long.MaxValue, Long.MinValue, 0L))
          val next = it.foldLeft(prev) { (acc, e) =>
            UserAccum(uid, math.min(acc.first_us, microsOf(e.ts)),
              math.max(acc.last_us, microsOf(e.ts)), acc.n + 1)
          }
          state.update(next)
          next
      }
  }

  /** I6b — event-time TIMER (the Flink `KeyedProcessFunction.onTimer` /
    * `registerEventTimeTimer` analogue): per-user gap sessions closed by an
    * `EventTimeTimeout` that fires when the watermark passes
    * last-event + gap. The data branch itself splits on in-batch gaps
    * (two events more than `gapMs` apart in one batch emit the earlier
    * session immediately — the timer only closes the LAST open session);
    * out-of-order events within the gap fold into the open session. State
    * stays bounded by the number of OPEN sessions, never total history. */
  def timerSessions(events: Dataset[Event], gapMs: Long = 2L * 3600 * 1000,
                    watermark: String = "10 minutes"): Dataset[TimerSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TimerSession, TimerSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[TimerSession]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator(closed)
          } else {
            val (open, closed) = foldTimerSession(state.getOption, it, uid, gapMs)
            open.foreach { s =>
              state.update(s)
              // the engine requires timeout > current watermark; a late
              // burst can leave last+gap behind it
              state.setTimeoutTimestamp(
                math.max(s.last_us / 1000L + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** The per-key step both timer-session twins ([[timerSessions]],
    * [[timerSessionsTws]]) run on a batch: fold `events`, sorted here by
    * (ts, event_id), into the open session. An event more than `gapMs`
    * after the open session's last event closes it (in-batch gap) and
    * opens a new one; out-of-order events within the gap fold in.
    * Returns (the still-open session, the sessions closed by this batch). */
  private[streaming] def foldTimerSession(open: Option[TimerSession],
      events: Iterator[Event], uid: Long,
      gapMs: Long): (Option[TimerSession], Seq[TimerSession]) = {
    val closed = Seq.newBuilder[TimerSession]
    val last = events.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
      .foldLeft(open) { (cur, e) =>
        val t = microsOf(e.ts)
        cur match {
          case Some(s) if t - s.last_us > gapMs * 1000L =>
            closed += s
            Some(TimerSession(uid, 1L, e.value, t))
          case Some(s) =>
            Some(TimerSession(uid, s.n_events + 1, s.sum_value + e.value,
              math.max(s.last_us, t)))
          case None => Some(TimerSession(uid, 1L, e.value, t))
        }
      }
    (last, closed.result())
  }

  /** Streaming twin of the batch `cep_kleene_timeout` query (Flink CEP
    * `begin("views").oneOrMore().consecutive().next("purchase")
    * .within(span)` with a timeout side-output): keyed state holds the
    * open run of consecutive views; a non-view event closes it (matched
    * iff it is a purchase within `spanUs` of the run's FIRST view), and an
    * event-time timer fires the timed-out partial match when the watermark
    * passes first_view + span — exactly Flink's `PatternStream` timeout
    * channel. Per-key state is one small case class regardless of run
    * length.
    *
    * Known twin divergence (deliberate): if a view run's INTERNAL span
    * exceeds `spanUs`, the event-time timer can fire mid-run (watermark
    * advanced by other keys), emitting the run as timed-out and clearing
    * state — a later view then starts a NEW run, where the batch query
    * treats all consecutive views as ONE maximal run. This matches Flink's
    * `within()` contract (a pattern instance cannot outlive its span), so
    * the streaming side is the more faithful CEP semantics; the batch
    * surrogate is the relational approximation. The twin table runs
    * the twin on data whose runs fit inside the span, where the two
    * semantics coincide. */
  def kleeneViewsThenPurchase(events: Dataset[Event],
      spanUs: Long = 2L * 24 * 3600 * 1000000L,
      watermark: String = "10 minutes"): Dataset[KleeneMatch] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ViewRun, KleeneMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[ViewRun]) =>
          if (state.hasTimedOut) {
            val r = state.get
            state.remove()
            Iterator(KleeneMatch(uid, r.first_view_id, r.n_views,
              matched = false, None, None))
          } else {
            val evs = it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
            val out = Seq.newBuilder[KleeneMatch]
            var open = state.getOption
            for (e <- evs) {
              val t = microsOf(e.ts)
              if (e.event_type == "view") open = open match {
                case Some(r) => Some(r.copy(n_views = r.n_views + 1))
                case None => Some(ViewRun(e.event_id, t, 1L))
              } else {
                open.foreach { r =>
                  val hit = e.event_type == "purchase" && t - r.first_ts_us <= spanUs
                  out += KleeneMatch(uid, r.first_view_id, r.n_views, hit,
                    if (hit) Some(e.event_id) else None,
                    if (hit) Some(t - r.first_ts_us) else None)
                }
                open = None
              }
            }
            open match {
              case Some(r) =>
                state.update(r)
                // fire the timeout when event time passes first_view+span
                // (engine requires a timestamp beyond the current watermark)
                state.setTimeoutTimestamp(math.max(
                  (r.first_ts_us + spanUs) / 1000L,
                  state.getCurrentWatermarkMs() + 1))
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
      }
  }

  /** Streaming twin of the batch `cdc_scd2_intervals` query: keyed state
    * holds the OPEN version (current event_type, its valid_from, version
    * number); an event with a DIFFERENT type closes the open interval
    * (emits it with valid_to = the new event's time) and opens the next
    * version. Open versions live only in state — the batch query's
    * null-valid_to rows, emitted on close instead (append mode cannot
    * retract). Per-key state is one small case class regardless of
    * history length, so state is bounded by key cardinality. */
  def scd2Intervals(events: Dataset[Event]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Open, Scd2Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[Scd2Open]) =>
          val out = Seq.newBuilder[Scd2Row]
          var open = state.getOption
          for (e <- it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))) {
            val t = microsOf(e.ts)
            val (next, closed) = scd2Step(open, e.event_type, t)
            closed.foreach(o => out += Scd2Row(uid, o.version, o.event_type, o.valid_from_us, Some(t)))
            open = Some(next)
          }
          open.foreach(state.update)
          out.result().iterator
      }
  }

  /** The per-user SCD2 step of [[scd2Intervals]] and [[TemporalJoinProcessor]]
    * (batch: `Warehouse.scd2Dim`): a type change at `t` closes version v and
    * opens v+1. Returns (the open version after the event, the one it closed). */
  private[streaming] def scd2Step(open: Option[Scd2Open], eventType: String,
      t: Long): (Scd2Open, Option[Scd2Open]) = open match {
    case Some(o) if o.event_type == eventType => (o, None)
    case Some(o) => (Scd2Open(eventType, t, o.version + 1), Some(o))
    case None => (Scd2Open(eventType, t, 1L), None)
  }

  /** I5 — per-user tumbling count window of `n`: buffers values in keyed
    * state, emits (user, window-index, sum) every time the buffer fills.
    * The Flink `countWindow(n)` analogue. */
  def countWindowSum(events: Dataset[Event], n: Int): Dataset[CountWindow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CwState, CountWindow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[CwState]) =>
          val sorted = it.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
          var s = state.getOption.getOrElse(CwState(0L, 0L, 0.0))
          val out = Seq.newBuilder[CountWindow]
          for (e <- sorted) {
            s = CwState(s.emitted, s.inWindow + 1, s.sum + e.value)
            if (s.inWindow == n) {
              out += CountWindow(uid, s.emitted, s.sum)
              s = CwState(s.emitted + 1, 0L, 0.0)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** C5/C6 streaming side — watermarked stream-stream interval join:
    * purchases within 15 minutes after a click by the same user. State on
    * both sides is pruned by the watermark + time-range condition. */
  def intervalJoin(events: DataFrame, watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 15 MINUTES"),
      joinType)
  }

  /** I3b streaming twin — CUMULATE windows (Flink's third window TVF:
    * span-aligned shared start, end GROWING by step — "this hour so far,
    * every 15 minutes"). The row-local covering-ends explode
    * ([[graft.ops.StreamOps.cumulateCounts]]) turns cumulate into a plain
    * keyed streaming aggregation on (window_start, window_end); update
    * mode emits refined counts as events arrive, and state retires with
    * the span like any windowed agg. */
  def cumulateCounts(events: DataFrame): DataFrame = {
    val span = 3600L * 1000000L
    val step = 900L * 1000000L
    events.select(unix_micros(col("ts")).as("ts_us"))
      .withColumn("ws_us",
        graft.functions.TimeBuckets.bucketOf("ts_us", span) * span)
      .withColumn("we_us", explode(
        graft.functions.TimeBuckets.cumulateEnds("ts_us", "ws_us", span, step)))
      .groupBy("ws_us", "we_us")
      .agg(count(lit(1)).as("n"))
  }

  /** C6c streaming twin — the bucketed RANGE join with NO natural equi
    * key ([[graft.ops.Joins.joinRangeBucketed]]), stream-stream. Spark
    * refuses an inner stream-stream join without an equality conjunct
    * (state could never be partitioned or pruned); the time-axis
    * quantization that makes the batch shape scale ALSO supplies the
    * missing equi key: the interval side explodes to its ≤2 covering
    * 1h buckets, the point side maps to exactly one, and the watermark +
    * event-time range residual bound both state stores. Same
    * exactly-once-per-pair property as the batch twin. */
  def rangeJoinBucketed(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val w = 3600L * 1000000L
    val errors = events
      .where(col("event_type") === "error" && col("value") >= 150)
      .select(col("event_id").as("err_id"), col("ts").as("e_ts"),
        unix_micros(col("ts")).as("err_us"))
      .withWatermark("e_ts", watermark)
      .withColumn("e_bucket",
        explode(graft.functions.TimeBuckets.coveringBuckets("err_us", w)))
    val clicks = events
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
        unix_micros(col("ts")).as("click_us"))
      .withWatermark("c_ts", watermark)
      .withColumn("c_bucket", graft.functions.TimeBuckets.bucketOf("click_us", w))
    clicks.join(errors,
        col("c_bucket") === col("e_bucket") &&
          col("c_ts") >= col("e_ts") &&
          col("c_ts") < col("e_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("err_id"),
        (col("click_us") - col("err_us")).as("lag_us"))
  }

  /** C6 variant — LEFT OUTER stream-stream interval join (Flink's outer
    * interval join): a click with no purchase inside its 15-minute window
    * emits a null-match row, but only once the watermark passes the end of
    * that window (the engine must prove no future purchase can match
    * before releasing the unmatched row from state). */
  def intervalJoinLeftOuter(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    intervalJoin(events, watermark, "left_outer")

  /** C6 variant — FULL OUTER stream-stream interval join (round 16,
    * VERDICT r15 #5 — the remaining outer streaming mode beside the
    * LEFT form above): BOTH sides null-emit on watermark eviction. A
    * click with no purchase in its 15-minute window emits
    * (click, null); a purchase with no click in the 15 minutes BEFORE
    * it emits (null, purchase) — each only once the watermark proves
    * no future partner can arrive, the eviction bound the engine
    * derives per side from the same time-range conjunct (clicks wait
    * out [c_ts, c_ts+15m], purchases wait out [p_ts−15m, p_ts]).
    * StreamingSpec pins all three emission classes across micro-batch
    * boundaries. */
  def intervalJoinFullOuter(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    intervalJoin(events, watermark, "full_outer")

  /** C7 streaming side — stream-static broadcast join (Flink
    * BroadcastProcessFunction analogue): enrich the unbounded stream
    * against a bounded dimension. The static side is broadcast per
    * micro-batch — no streaming state, no watermark requirement, and the
    * dim table can be swapped between batches (slowly-changing control
    * stream). */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** C7 completion — UPDATING broadcast state (Flink's broadcast stream can
    * mutate the dimension mid-stream): re-resolve the dimension from
    * storage at EVERY micro-batch inside `foreachBatch`, so batch N joins
    * the dimension as of batch N, not as of query start. This is the
    * closest Structured Streaming analogue to a broadcast-state update;
    * the per-batch re-read is a small broadcast dim by contract (the same
    * size class Flink holds in per-task broadcast state). */
  def foreachBatchDimRefresh(events: DataFrame, dimPath: String)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val dim = batch.sparkSession.read.parquet(dimPath)
        sink(batch.toDF().join(broadcast(dim), Seq("user_id"), "left"), id)
      }

  /** I8 — late-data side-output (Flink `OutputTag`/`sideOutputLateData`
    * analogue, the documented SS semantics gap §2.I8): Structured Streaming
    * drops late rows only at *stateful* operators, so a watermarked
    * `foreachBatch` pass-through still sees every row; splitting each batch
    * against the query's current watermark routes late rows to their own
    * sink instead of silently losing them. `currentWatermark` is read per
    * batch (from `query.lastProgress.eventTime`, or any external clock). */
  def foreachBatchLateSplit(events: DataFrame, watermark: String,
      currentWatermark: () => java.sql.Timestamp)(
      onTime: DataFrame => Unit, late: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.withWatermark("ts", watermark).writeStream
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val wm = currentWatermark()
        // strict `<`, matching the engine's own stateful-operator semantics:
        // a row with ts exactly at the watermark is still on time
        late(df.toDF().where(col("ts") < lit(wm)))
        onTime(df.toDF().where(col("ts") >= lit(wm)))
      }

  /** Self-contained late-row tap (round-9, VERDICT r8 #9 — closes §2.I8
    * with code instead of prose): like [[foreachBatchLateSplit]] but the
    * helper tracks the watermark ITSELF, replicating the engine's update
    * rule — the watermark a batch is judged against is the max event time
    * of all PRECEDING batches minus the delay — so callers need no
    * `lastProgress` polling. The first batch has no watermark yet and is
    * entirely on time, exactly like the engine. Late rows are routed to
    * `late` instead of being silently dropped (Flink side-output
    * semantics); the running max is one AtomicLong on the driver —
    * nothing extra shuffles, the split is two row-local filters of the
    * persisted batch at any scale. */
  def lateRowsTap(events: DataFrame, delay: java.time.Duration)(
      onTime: DataFrame => Unit, late: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val maxSeenUs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    events.withWatermark("ts", s"${delay.toMillis} milliseconds").writeStream
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val batch = df.toDF().persist()
        try {
          val wmUs = maxSeenUs.get() match {
            case Long.MinValue => Long.MinValue
            case m => m - delay.toMillis * 1000
          }
          if (wmUs == Long.MinValue) {
            late(batch.limit(0))
            onTime(batch)
          } else {
            // strict `<`: a row exactly at the watermark is still on time,
            // matching the engine's stateful-operator semantics
            late(batch.where(unix_micros(col("ts")) < wmUs))
            onTime(batch.where(unix_micros(col("ts")) >= wmUs))
          }
          val mx = batch.agg(max(unix_micros(col("ts")))).head()
          if (!mx.isNullAt(0))
            maxSeenUs.getAndUpdate(m => math.max(m, mx.getLong(0))): Unit
        } finally batch.unpersist(): Unit
      }
  }

  /** `DataStream.iterate` analogue at micro-batch granularity (SURVEY
    * §2.I iterate-gap construct (b), made concrete): a feedback edge
    * closed through the SOURCE directory. Each micro-batch is mapped
    * through `step`; nonempty results are appended back into `dir`, which
    * the file source discovers as a new micro-batch — so records loop
    * until a round emits nothing and the query drains (a fixpoint, which
    * `processAllAvailable` can therefore wait for). Honest scope vs
    * Flink: per-micro-batch (one trigger of latency per round) and
    * at-least-once, not per-record in-flight; the empty-round guard is
    * the termination rule Flink leaves to timeouts. The batch analogue
    * (driver-side loop, L67 Pregel) remains the right shape for
    * iterate-to-convergence workloads.
    */
  def iterateFeedback(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      step: DataFrame => DataFrame)(
      observe: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.schema(schema).parquet(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        observe(batch.toDF())
        // persist before the emptiness probe: `step` must run once per
        // round, not once for isEmpty and again for the write — an
        // expensive step would double per-round cost, and a
        // non-deterministic one could pass the probe yet write a
        // different (even empty) batch, adding spurious rounds
        val next = step(batch.toDF())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // an empty write would still create a part file, which the source
          // would read as one more (empty) round, forever — the guard IS the
          // loop's termination condition
          if (!next.isEmpty) next.write.mode("append").parquet(dir)
        } finally { next.unpersist(); () }
      }

  private def rmRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmRec)
    f.delete(); ()
  }

  /** Leftover `.old-<id>` / `.staging-<id>` siblings of `tablePath`. */
  private def upsertLeftovers(cur: java.io.File, tag: String): Array[java.io.File] = {
    val parent = Option(cur.getParentFile).getOrElse(new java.io.File("."))
    Option(parent.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(cur.getName + s".$tag-"))
  }

  private lazy val upsertLog = org.slf4j.LoggerFactory.getLogger("graft.streaming.Streams")

  /** Crash recovery for the [[foreachBatchUpsert]] publish protocol. If the
    * live dir is absent but an `.old-<id>` copy exists (crash landed between
    * rename-aside and rename-in), the newest `.old` IS the table — restore
    * it, with one WARN line naming the restored dir. If the live dir exists,
    * any `.old` leftovers are from a crash after a completed publish —
    * delete them. Stale `.staging` dirs are always safe to drop: a staging
    * dir only becomes the table by rename, and the replayed batch rebuilds
    * its own staging from scratch. Returns whether a table was restored
    * from an `.old` copy. */
  private[graft] def recoverUpsertTable(tablePath: String): Boolean = {
    val cur = new java.io.File(tablePath)
    val olds = upsertLeftovers(cur, "old")
    val restore = !cur.isDirectory && olds.nonEmpty
    if (restore) {
      val newest = olds.maxBy(_.getName.stripPrefix(cur.getName + ".old-").toLong)
      require(newest.renameTo(cur), s"upsert recovery rename failed: $newest")
      upsertLog.warn(s"upsert table $tablePath was missing after an interrupted publish; " +
        s"restored it from $newest")
      olds.filterNot(_ == newest).foreach(rmRec)
    } else olds.foreach(rmRec)
    upsertLeftovers(cur, "staging").foreach(rmRec)
    restore
  }

  /** Publish `staging` as the new content of `cur`: rename the live copy
    * aside, rename staging in, then delete the old copy. At every instant
    * at least one complete copy of the table exists on disk. */
  private[graft] def publishUpsertTable(cur: java.io.File, staging: java.io.File,
      id: Long): Unit = {
    val old = new java.io.File(cur.getPath + s".old-$id")
    if (cur.exists) require(cur.renameTo(old), s"rename-aside failed for batch $id")
    require(staging.renameTo(cur), s"staging swap failed for batch $id")
    if (old.exists) rmRec(old)
  }

  /** File name of hash bucket `i` of an `n`-bucket upsert table. */
  private def upsertBucketName(i: Int, n: Int): String =
    f"part-$i%05d-of-$n%05d.parquet"

  /** A10 — CDC UPSERT sink (Flink upsert-kafka / JDBC-upsert sink
    * analogue): each micro-batch is merged into a keyed parquet table,
    * keeping the latest row per key by (`orderCol`, event_id) — the
    * materialized "current state" table a changelog stream maintains.
    * Nulls in either ordering column rank lowest; an exact tie keeps the
    * batch row.
    *
    * Bucket-stable layout: the table is `n = defaultParallelism` files,
    * `part-<i>-of-<n>.parquet` ([[upsertBucketName]]), and file `i` holds
    * exactly the keys whose hash falls in bucket `i` — the partition the
    * keyed merge ([[upsertMerge]]) routes them to. A steady-state
    * micro-batch is ONE Spark job of two stages: the batch is deduplicated
    * per key and shuffled into the `n` buckets (the only exchange), then
    * merge task `i` reads bucket file `i` in place, merges it with batch
    * bucket `i` by hash lookup and writes the result as bucket file `i` of
    * the staging dir. Per-batch cost: one sequential read and one rewrite
    * of the table, a batch-proportional shuffle, no sort, no per-batch
    * DataFrame planning and no Hadoop commit protocol — each task writes
    * its bucket with parquet-java straight to a local file (attempt-named,
    * then renamed to the bucket name, so a retried task never leaves a
    * torn file) and records its bytes and rows in the task's output
    * metrics. Every bucket file is written, even an empty one.
    *
    * Any other layout — a table from a DataFrame writer, from
    * [[graft.ops.Maintenance.compactParquet]], or from a run with another
    * core count — is read once through the DataFrame reader and shuffled
    * into the buckets by the same merge job (one WARN line says so); from
    * the next batch on the table is read in place.
    *
    * Schema drift: because the table is read with the batch schema, a
    * table whose columns differ would silently be read null-filled or
    * pruned. The footer schema is therefore checked against the batch
    * schema, by name and type, once per sink instance — on its first
    * batch and again after a recovery restores the table — and a mismatch
    * fails the batch.
    *
    * Publish protocol: merge into a staging directory, then swap it into
    * place WITHOUT a window where no copy of the table exists — the live
    * dir is renamed aside (`.old-<id>`), staging is renamed in, and only
    * then is the old copy deleted. A crash between the two renames leaves
    * the table recoverable from the `.old` dir; [[recoverUpsertTable]]
    * runs at every batch entry and performs that restore (and sweeps
    * fully-published leftovers). The table therefore lives on a local
    * (posix) filesystem, where each rename is atomic and every task sees
    * the same directory; on an object store the production form is a
    * manifest/table-format commit (the same place Flink's exactly-once
    * JDBC sink reaches for transactions). The merge is idempotent
    * (re-merging a batch leaves the table unchanged), which is what makes
    * the checkpointed foreachBatch at-least-once replay safe end-to-end. */
  def foreachBatchUpsert(events: DataFrame, tablePath: String,
      keys: Seq[String], orderCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val schemaChecked = new java.util.concurrent.atomic.AtomicBoolean(false)
    events.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (recoverUpsertTable(tablePath)) schemaChecked.set(false)
        val spark = batch.sparkSession
        val schema = batch.schema
        val n = spark.sparkContext.defaultParallelism
        val cur = new java.io.File(tablePath)
        val table = if (cur.isDirectory) {
          if (!schemaChecked.get)
            requireUpsertSchema(spark.read.parquet(tablePath).schema, schema, tablePath)
          val buckets = (0 until n).map(i => new java.io.File(cur, upsertBucketName(i, n)))
          if (cur.list().toSet == buckets.map(_.getName).toSet)
            Some(Right(readBuckets(spark, schema, buckets)))
          else {
            upsertLog.warn(s"upsert table $tablePath is not in $n hash buckets; " +
              s"batch $id re-buckets it through one table shuffle")
            Some(Left(spark.read.schema(schema).parquet(tablePath).queryExecution.toRdd))
          }
        } else None
        schemaChecked.set(true)
        val merged = upsertMerge(table, batch.queryExecution.toRdd, schema, keys, orderCol, n)
        val staging = new java.io.File(tablePath + s".staging-$id")
        require(staging.mkdirs(), s"cannot create $staging")
        writeBuckets(spark, merged, schema, staging)
        publishUpsertTable(cur, staging, id)
      }
  }

  /** Fails unless the table's stored columns equal the batch's by name
    * and type, column order and nullability aside. */
  private def requireUpsertSchema(table: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType, tablePath: String): Unit = {
    import org.apache.spark.sql.types.DataType
    val stored = table.fields.map(f => f.name -> f.dataType).toMap
    // leaf types (nullability aside), then nested field names
    def same(a: DataType, b: DataType) = DataType.equalsStructurally(a, b, true) &&
      DataType.equalsStructurallyByName(a, b, _ == _)
    require(table.length == batch.length &&
        batch.fields.forall(f => stored.get(f.name).exists(same(_, f.dataType))),
      s"upsert table $tablePath has schema ${table.simpleString}, " +
        s"the stream has ${batch.simpleString}")
  }

  /** The bucket files of an upsert table as an RDD whose partition `i`
    * reads `files(i)` in place, through Spark's parquet row reader. */
  private def readBuckets(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[java.io.File]): RDD[InternalRow] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val read = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, schema,
        org.apache.spark.sql.types.StructType(Nil), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration))
    val parts = files.map(f => (f.toURI.toString, f.length))
    spark.sparkContext.parallelize(parts, parts.length).mapPartitions(_.flatMap {
      case (uri, len) =>
        val rows = read(PartitionedFile(InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromUrlString(uri), 0L, len, Array.empty, 0L, len))
        // closed on exhaustion too; this covers a task that stops early
        rows match {
          case c: java.io.Closeable =>
            org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => c.close())
          case _ =>
        }
        rows
    })
  }

  /** Runs the job that writes partition `i` of `rows` as bucket file `i`
    * of `dir`. The parquet writer settings are Spark's own (the parquet
    * data source's `prepareWrite`), resolved here once and shipped to the
    * tasks as a plain map. */
  private def writeBuckets(spark: org.apache.spark.sql.SparkSession, rows: RDD[InternalRow],
      schema: org.apache.spark.sql.types.StructType, dir: java.io.File): Unit = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      new org.apache.hadoop.conf.Configuration(false))
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val conf = job.getConfiguration.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val (path, n) = (dir.getPath, rows.getNumPartitions)
    rows.sparkContext.runJob(rows, (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) =>
      writeBucket(it, path, ctx.partitionId, n, conf))
  }

  /** Writes `rows` as bucket `i` of `n` in `dir`: to a hidden file named
    * for the task attempt, then renamed to the bucket's name, so a failed
    * or retried attempt leaves no torn bucket file. */
  private def writeBucket(rows: Iterator[InternalRow], dir: String, i: Int, n: Int,
      conf: Map[String, String]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val hadoopConf = new org.apache.hadoop.conf.Configuration(false)
    conf.foreach { case (k, v) => hadoopConf.set(k, v) }
    val file = Paths.get(dir, upsertBucketName(i, n))
    val tmp = file.resolveSibling(
      s".${file.getFileName}.${org.apache.spark.TaskContext.get().taskAttemptId()}")
    try {
      val writer = new BucketWriter(new org.apache.parquet.io.LocalOutputFile(tmp))
        .withConf(hadoopConf)
        .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName
          .fromConf(hadoopConf.get(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION)))
        .build()
      var written = 0L
      try rows.foreach { r => writer.write(r); written += 1 } finally writer.close()
      Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
      org.apache.spark.graftbridge.OutputMetricsBridge.record(Files.size(file), written)
    } finally Files.deleteIfExists(tmp)
  }

  /** parquet-java writer of `InternalRow`s through Spark's own write support. */
  private final class BucketWriter(file: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, BucketWriter](file) {
    override protected def self(): BucketWriter = this
    override protected def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
  }

  /** Sends a record to the partition id it carries as its key. */
  private final class PartitionIdRoute(override val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** The keyed merge behind [[foreachBatchUpsert]]: `table` (unique per key,
    * absent before the first batch) and `batch` rows in `schema`'s layout
    * in, the merged table's rows out, as `parts` hash buckets of the key
    * columns — output partition `i` is bucket `i`. A table already in
    * those buckets (`Right`, partition `i` = bucket `i`) is merged in
    * place; any other (`Left`) is shuffled into them first. Per key the
    * row with the larger (`orderCol`, event_id) survives, nulls lowest; an
    * exact tie keeps the batch row, so re-merging a batch is a no-op.
    * Builds the RDD lineage only; the job runs when the result is consumed.
    *
    * Shuffled rows cross the exchange as bare UnsafeRows in Spark SQL's
    * own format ([[org.apache.spark.sql.execution.UnsafeRowSerializer]]),
    * routed by the bucket of their key; the key itself is not shipped but
    * recomputed by the reducer. The batch is deduplicated per key on the
    * map side, so each batch key crosses the shuffle at most once per map
    * task. */
  private def upsertMerge(table: Option[Either[RDD[InternalRow], RDD[InternalRow]]],
      batch: RDD[InternalRow], schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String], orderCol: String, parts: Int): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions._
    def ref(c: String) = {
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    // -0.0 and 0.0, and every NaN bit pattern, are one key each, as in SQL
    // grouping
    val keyExprs = keys.map(ref).map {
      case r if r.dataType == org.apache.spark.sql.types.DoubleType ||
          r.dataType == org.apache.spark.sql.types.FloatType =>
        org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(r)
      case r => r
    }
    // ascending with nulls first: a null ranks lowest
    val order = new InterpretedOrdering(
      Seq(orderCol, "event_id").map(c => SortOrder(ref(c), Ascending)))
    val types = schema.fields.map(_.dataType)

    def exchange(rows: RDD[InternalRow]): RDD[InternalRow] =
      new org.apache.spark.rdd.ShuffledRDD[Int, InternalRow, InternalRow](
          rows.mapPartitions { it =>
            val key = UnsafeProjection.create(keyExprs)
            val full = UnsafeProjection.create(types)
            it.map { r =>
              // a shuffle writer may hold records before serializing them
              val row = full(r).copy()
              (Math.floorMod(key(row).hashCode, parts), row)
            }
          }, new PartitionIdRoute(parts))
        .setSerializer(new org.apache.spark.sql.execution.UnsafeRowSerializer(types.length))
        .values
    // the newest row per key, copied out of the reader's reused buffers
    def newest(rows: Iterator[InternalRow]) = {
      val key = UnsafeProjection.create(keyExprs)
      val m = new java.util.HashMap[UnsafeRow, InternalRow]()
      rows.foreach { r =>
        val k = key(r)
        val prev = m.get(k)
        if (prev == null || order.gteq(r, prev)) m.put(k.copy(), r.copy())
      }
      m
    }
    def values(m: java.util.HashMap[UnsafeRow, InternalRow]) =
      m.values.iterator.asScala

    val fresh = exchange(batch.mapPartitions(it => values(newest(it))))
    table match {
      case None => fresh.mapPartitions(it => values(newest(it)))
      case Some(t) =>
        // each stored row is consumed (written) before the next is read,
        // so the in-place reader's reused row needs no copy
        t.fold(exchange, identity).zipPartitions(fresh) { (stored, updates) =>
          val pending = newest(updates)
          val key = UnsafeProjection.create(keyExprs)
          stored.map { old =>
            val upd = pending.remove(key(old))
            if (upd == null || order.gt(old, upd)) old else upd
          } ++ values(pending)
        }
    }
  }

  /** A2/A8 — Kafka source/sink wiring (the canonical Flink
    * KafkaSource/KafkaSink analogue). Returns the fully-configured
    * reader/writer WITHOUT load()/start(): this container is zero-egress and
    * ships no kafka connector jar, so the wiring is compile-checked and
    * documented rather than executed. On a real cluster:
    * `kafkaSource(spark, servers, topic).load()` yields the standard
    * key/value/topic/partition/offset/timestamp schema. */

  case class CusumStat(event_type: String, n: Long, n_alarms: Long,
    max_s: Double, first_alarm_us: Long)

  /** I6f — STREAMING CUSUM control chart (the keyed-state form of the
    * batch window identity in
    * [[graft.ops.Warehouse4.cusumAnomaly]] — this is the shape Page's
    * recursion is naturally written in: S ← max(0, S + x − k) held in
    * per-type ValueState, alarms emitted as they fire). Arithmetic runs
    * in the SAME ×10⁶ scaled-long space as the batch twin's
    * DECIMAL(18,6) terms, so after any batch slicing the final per-type
    * (n, n_alarms, max_s, first_alarm) EQUALS the batch query exactly —
    * the twin table feeds the whole fixture at three batchings and
    * asserts bit-equality. Rows inside a micro-batch are folded in
    * (ts, event_id) order; state per key is five longs, O(1) forever. */
  def cusumTws(events: Dataset[Event], kMicro: Long = 55000000L,
      hMicro: Long = 200000000L): Dataset[CusumStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new CusumProcessor(kMicro, hMicro),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  class CusumProcessor(kMicro: Long, hMicro: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, CusumStat] {
    import org.apache.spark.sql.{Encoders, streaming}
    // (s, n, n_alarms, max_s, first_alarm_us) — all in ×10⁶ longs but
    // ts, which is already µs; −1 = no alarm yet
    @transient private var st: streaming.ValueState[(Long, Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long, Long)]("cusum",
        Encoders.product[(Long, Long, Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[CusumStat] = {
      var (s, n, alarms, maxS, firstUs) =
        Option(st.get()).getOrElse((0L, 0L, 0L, 0L, -1L))
      // micro-batch rows arrive shuffle-ordered; the chart is sequential
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val term = math.rint((e.value - kMicro / 1e6) * 1e6).toLong
        s = math.max(0L, s + term)
        n += 1
        if (s > hMicro) {
          alarms += 1
          if (firstUs < 0) firstUs = microsOf(e.ts)
        }
        if (s > maxS) maxS = s
      }
      st.update((s, n, alarms, maxS, firstUs))
      Iterator.single(CusumStat(key, n, alarms, maxS / 1e6, firstUs))
    }
  }

  /** A2 — Kafka source option wiring as a PURE builder so the config is
    * unit-testable without a broker or the connector jar (neither exists
    * in this zero-egress container — SourcesSpec asserts the map and pins
    * the format-lookup failure mode instead). */
  def kafkaSourceOptions(bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest",
      failOnDataLoss: Boolean = true): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "failOnDataLoss" -> failOnDataLoss.toString)

  def kafkaSource(spark: org.apache.spark.sql.SparkSession, bootstrapServers: String,
                  topic: String): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(bootstrapServers, topic))

  /** A8 — exactly-once Kafka sink wiring (checkpointed); pure option
    * builder for the same reason as [[kafkaSourceOptions]]. */
  def kafkaSinkOptions(bootstrapServers: String, topic: String,
      checkpoint: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "topic" -> topic,
    "checkpointLocation" -> checkpoint)

  def kafkaSink(df: DataFrame, bootstrapServers: String, topic: String,
                checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("kafka")
      .options(kafkaSinkOptions(bootstrapServers, topic, checkpoint))

  /** A2 deserialization — parse a Kafka-style binary JSON `value` payload
    * into typed event columns (the step after `kafkaSource(...).load()`;
    * works identically on any binary/string JSON column, so it is fully
    * testable without a broker — see StreamingSpec round-trip test). */
  /** JSON timestamp format carrying full microseconds — Spark's default
    * truncates to millis, which would corrupt event time on the wire. */
  val WireTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  def parseEventJson(df: DataFrame): DataFrame =
    df.select(from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"),
        Map("timestampFormat" -> WireTsFormat))
      .as("e"))
      .select("e.*")

  /** A5 — socket text source wiring (the classic WordCount input). */
  def socketSource(spark: org.apache.spark.sql.SparkSession, host: String,
                   port: Int): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format("socket")
      .option("host", host).option("port", port.toString)

  /** I6 via the Spark 4 `transformWithState` API — the nearest 1:1 analogue
    * of Flink's `KeyedProcessFunction` + `ValueState` (SURVEY.md §1.1).
    * Needs the RocksDB state store provider, which [[graft.Session]] sets
    * for every session. */
  def userTotalsTws(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Per-user running (count, sum) in a RocksDB-backed ValueState. One
    * class serves the unbounded (TTLConfig.NONE), the TTL'd and the
    * bootstrapped variant — a single accumulation body, so the three
    * cannot drift. The initial-state hook runs only when the query is
    * built with the initial-state overload of `transformWithState`
    * ([[userTotalsBootstrapped]]); the other two never call it. */
  class UserTotalsProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Event, UserTotals, (Long, Double)] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var totals: streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        Encoders.product[(Long, Double)], ttl)

    /** Installs pre-computed totals for a key the stream has not yet seen. */
    override def handleInitialState(key: Long, initialState: (Long, Double),
        timerValues: streaming.TimerValues): Unit =
      totals.update(initialState)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[UserTotals] = {
      // an expired value reads as null — the key restarts from zero
      val prev = Option(totals.get()).getOrElse((0L, 0.0))
      val next = rows.foldLeft(prev) { case ((n, s), e) => (n + 1, s + e.value) }
      totals.update(next)
      Iterator.single(UserTotals(key, next._1, next._2))
    }
  }

  /** I6c — keyed-state TTL (Flink `StateTtlConfig` analogue): the same
    * running totals, but the ValueState EXPIRES after `ttlMs` of
    * processing time — the idiomatic bound for keyed state that must not
    * grow forever under key churn (Spark 4 `TTLConfig`; requires
    * `TimeMode.ProcessingTime`). A key seen again after its state
    * expired restarts from zero rather than resuming. */
  def userTotalsTwsTtl(events: Dataset[Event], ttlMs: Long): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new UserTotalsProcessor(org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofMillis(ttlMs))),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  /** I6e — the remaining two Flink keyed-state primitives (`ListState`,
    * `MapState`) on the Spark 4 `transformWithState` surface, completing
    * the ValueState/ListState/MapState triple a DataStream migration
    * reaches for: a bounded recent-event buffer (ListState, Flink's
    * buffer-last-N pattern) and per-event-type counts (MapState, Flink's
    * keyed sub-map pattern). Both live in the RocksDB store and persist
    * across micro-batches; rows are folded in event_id order so output
    * is batch-partitioning independent. */
  def userProfileTws(events: Dataset[Event], keepN: Int = 3): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserProfileProcessor(keepN),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  case class UserProfile(user_id: Long, recent: Seq[Long],
    type_counts: Seq[(String, Long)])

  class UserProfileProcessor(keepN: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserProfile] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var recent: streaming.ListState[Long] = _
    @transient private var byType: streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit = {
      recent = getHandle.getListState[Long]("recent",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
      byType = getHandle.getMapState[String, Long]("by_type",
        Encoders.STRING, Encoders.scalaLong, streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[UserProfile] = {
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        recent.appendValue(e.event_id)
        val prev = if (byType.containsKey(e.event_type))
          byType.getValue(e.event_type) else 0L
        byType.updateValue(e.event_type, prev + 1L)
      }
      // ListState has no head-drop; rebuild the bounded buffer when it
      // overflows (keepN is small — the rebuild is O(keepN), not O(history))
      val all = recent.get().toSeq
      val trimmed = all.takeRight(keepN)
      if (trimmed.size != all.size) recent.put(trimmed.toArray)
      Iterator.single(UserProfile(key, trimmed,
        byType.iterator().toSeq.sortBy(_._1)))
    }
  }

  /** I6f — event-time TIMERS on the Spark 4 `transformWithState` surface
    * (Flink `ctx.timerService().registerEventTimeTimer` analogue,
    * completing the new-API feature set after state/TTL/List/Map):
    * gap-based sessions closed by a timer that fires when the watermark
    * passes session-end + gap. Stale timers (a session extended after an
    * earlier registration — Spark never auto-deletes them) are detected
    * and ignored by re-checking the expiry against current state, the
    * same guard Flink programs write. */
  def timerSessionsTws(events: Dataset[Event],
      gapMs: Long = 2L * 3600 * 1000): Dataset[TimerSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  class TimerSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TimerSession] {
    import org.apache.spark.sql.{Encoders, streaming}
    // (n_events, sum_value, last_us)
    @transient private var sess: streaming.ValueState[(Long, Double, Long)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Double, Long)]("sess",
        Encoders.product[(Long, Double, Long)], streaming.TTLConfig.NONE)

    /** The GroupState twin's step, [[foldTimerSession]], over the
      * `(n_events, sum_value, last_us)` state encoding. */
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[TimerSession] = {
      val (open, closed) = foldTimerSession(Option(sess.get())
        .map { case (n, v, last) => TimerSession(key, n, v, last) }, rows, key, gapMs)
      open.foreach { s =>
        sess.update((s.n_events, s.sum_value, s.last_us))
        getHandle.registerTimer(s.last_us / 1000 + gapMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: streaming.TimerValues,
        expiredTimerInfo: streaming.ExpiredTimerInfo): Iterator[TimerSession] = {
      val st = sess.get()
      // a stale timer fires before last_event + gap: session still open
      if (st == null || expiredTimerInfo.getExpiryTimeInMs < st._3 / 1000 + gapMs)
        Iterator.empty
      else {
        sess.clear()
        Iterator.single(TimerSession(key, st._1, st._2, st._3))
      }
    }
  }

  case class SnmPair(d1: Long, d2: Long, inter: Long, uni: Long)
  case class KeyedDoc(prefix: String, doc_id: Long, text: String)

  /** ONLINE Sorted-Neighborhood (the SNM sibling of
    * [[streamingNearDup]]'s banding — VERDICT r9 next-round #8, closing
    * the dedup family's third blocking strategy for streams). Key = the
    * text's first character: the coarse prefix that owns a contiguous
    * slice of the global sort order, so per-key buffers distribute the
    * same way the batch rank is range-partitioned. State per key = a
    * bounded buffer of the last `bufferCap` docs (evicted in ARRIVAL
    * order), held logically SORTED by the blocking key (text, doc_id);
    * each arrival compares against its `w` sorted neighbors on each
    * side and emits exact integer word-set Jaccard ≥ 9/10 pairs —
    * precision 1 by construction, ≤ 2w candidates per arrival, ≤
    * bufferCap texts per key, both hard bounds.
    *
    * The honest trade vs the two other online blockers: BANDING
    * ([[streamingNearDup]]) misses nothing but must key ALL history
    * (state ∝ corpus); online SNM caps memory at bufferCap per key and
    * pays for it with a recall horizon — a partner evicted before its
    * match arrives is missed, exactly the window-local recall the batch
    * multi-pass remedy addresses (`ops/Er.scala`). Use banding when
    * state is cheap, SNM when memory is the binding constraint. */
  def streamingSnm(docs: Dataset[StreamDoc], w: Int = 5,
      bufferCap: Int = 32): Dataset[SnmPair] = {
    import docs.sparkSession.implicits._
    docs
      .map(d => KeyedDoc(d.text.take(1), d.doc_id, d.text))
      .groupByKey(_.prefix)
      .transformWithState(new SnmProcessor(w, bufferCap),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class SnmProcessor(w: Int, bufferCap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, KeyedDoc, SnmPair] {
    import org.apache.spark.sql.{Encoders, streaming}
    // (arrival_seq, doc_id, text)
    @transient private var buf: streaming.ListState[(Long, Long, String)] = _
    @transient private var nArrived: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit = {
      buf = getHandle.getListState[(Long, Long, String)]("snm_buf",
        Encoders.product[(Long, Long, String)], streaming.TTLConfig.NONE)
      nArrived = getHandle.getValueState[Long]("snm_n",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
    }

    private def words(t: String): Set[String] = t.split(" ", -1).distinct.toSet

    override def handleInputRows(key: String, rows: Iterator[KeyedDoc],
        timerValues: streaming.TimerValues): Iterator[SnmPair] = {
      var entries = buf.get().toVector
      var seq = Option(nArrived.get()).getOrElse(0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[SnmPair]
      rows.toSeq.sortBy(_.doc_id).foreach { d =>
        val mine = words(d.text)
        // w sorted-order neighbors on each side of the arrival's rank
        val sorted = entries.sortBy(e => (e._3, e._2))
        val pos = sorted.indexWhere(e =>
          e._3 > d.text || (e._3 == d.text && e._2 >= d.doc_id)) match {
          case -1 => sorted.length
          case p => p
        }
        (math.max(0, pos - w) until math.min(sorted.length, pos + w))
          .map(sorted).foreach { case (_, oid, otext) =>
            if (oid != d.doc_id) {
              val theirs = words(otext)
              val inter = (mine & theirs).size.toLong
              val uni = mine.size + theirs.size - inter
              if (10 * inter >= 9 * uni)
                out += SnmPair(math.min(d.doc_id, oid), math.max(d.doc_id, oid),
                  inter, uni)
            }
          }
        seq += 1
        entries = (entries :+ ((seq, d.doc_id, d.text)))
        if (entries.length > bufferCap) // evict the OLDEST arrival
          entries = entries.sortBy(_._1).takeRight(bufferCap)
      }
      nArrived.update(seq)
      buf.put(entries.toArray)
      out.iterator
    }
  }

  case class DynSession(user_id: Long, n_events: Long, sum_value: Double,
    start_us: Long, end_us: Long)

  /** Per-event inactivity gap in ms: purchases hold a session open 4h,
    * clicks/views 1h, everything else 30min — the same rule as the
    * batch twin [[graft.ops.Warehouse.sessionizeDynamicGap]]. */
  def defaultGapMs(eventType: String): Long = eventType match {
    case "purchase" => 4L * 3600 * 1000
    case "click" | "view" => 3600L * 1000
    case _ => 30L * 60 * 1000
  }

  /** I4d — DYNAMIC-GAP sessions ON A STREAM (Flink
    * `SessionWindowTimeGapExtractor`, VERDICT r9 next-round #4): the
    * inactivity gap is a function of each ELEMENT, not a constant, so a
    * purchase keeps its session alive longer than a view. Flink's
    * merging semantics: each event spans `[ts, ts+gap(e))`; the session
    * end is the running max of those spans, kept in keyed state.
    *
    * Two closing paths, deliberately different from the fixed-gap
    * [[timerSessionsTws]]: (1) an event-time TIMER at the current
    * session end flushes the tail once the watermark passes it (stale
    * registrations from extended sessions are detected and ignored);
    * (2) an arriving event whose ts reaches the stored end closes the
    * old session IN-LINE and opens a new one — without this split, an
    * event after a silence would be folded into the old session
    * whenever the (one-batch-lagging) watermark had not yet fired the
    * timer, and streaming would disagree with the batch twin on
    * boundary placement. State per key is one (n, sum, start, end)
    * tuple — O(1) regardless of session length. */
  def dynamicGapSessionsTws(events: Dataset[Event],
      gapMsOf: String => Long = defaultGapMs): Dataset[DynSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new DynamicGapSessionProcessor(gapMsOf),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  class DynamicGapSessionProcessor(gapMsOf: String => Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, DynSession] {
    import org.apache.spark.sql.{Encoders, streaming}
    // (n_events, sum_value, start_us, end_max_us)
    @transient private var sess: streaming.ValueState[(Long, Double, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Double, Long, Long)]("dyn_sess",
        Encoders.product[(Long, Double, Long, Long)], streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[DynSession] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[DynSession]
      var st = Option(sess.get()).getOrElse((0L, 0.0, 0L, Long.MinValue))
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val tsU = microsOf(e.ts)
        val endU = tsU + gapMsOf(e.event_type) * 1000
        if (st._1 == 0L) st = (1L, e.value, tsU, endU)
        else if (tsU >= st._4) { // half-open [ts, ts+gap): touch = no merge
          out += DynSession(key, st._1, st._2, st._3, st._4)
          st = (1L, e.value, tsU, endU)
        } else st = (st._1 + 1, st._2 + e.value,
          math.min(st._3, tsU), math.max(st._4, endU))
      }
      sess.update(st)
      getHandle.registerTimer(st._4 / 1000)
      out.iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: streaming.TimerValues,
        expiredTimerInfo: streaming.ExpiredTimerInfo): Iterator[DynSession] = {
      val st = sess.get()
      // stale: the session was extended past this registration
      if (st == null || expiredTimerInfo.getExpiryTimeInMs < st._4 / 1000)
        Iterator.empty
      else {
        sess.clear()
        Iterator.single(DynSession(key, st._1, st._2, st._3, st._4))
      }
    }
  }

  case class CountFire(user_id: Long, fire_seq: Long, n_in_window: Long,
    win_sum: Double)

  /** I5b — COUNT-TRIGGER + COUNT-EVICTOR window ON A STREAM (the one
    * canonical Flink windowing knob with no public Structured Streaming
    * surface — `GlobalWindows` + `CountTrigger.of(fireEvery)` +
    * `CountEvictor.of(keepLast)`; VERDICT r9 next-round #5). Flink's
    * decomposition maps onto `transformWithState` directly: the TRIGGER
    * is a per-key element counter that fires every `fireEvery`-th
    * element; the EVICTOR is a bounded ListState buffer trimmed to the
    * last `keepLast` values before each emission (Flink's
    * `CountEvictor` default is evict-BEFORE-function — same thing);
    * GlobalWindows is simply "no time dimension" = `TimeMode.None`.
    * State per key is O(keepLast) + one counter, independent of stream
    * length. Rows fold in (ts, event_id) order within a batch so the
    * fire points are batch-partitioning independent; batch twin
    * [[graft.ops.StreamOps.countTriggerEvict]] (row_number fire points
    * + bounded frame), equality spec-proven cross-batch. */
  def countTriggerWindowTws(events: Dataset[Event], fireEvery: Int = 3,
      keepLast: Int = 5): Dataset[CountFire] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new CountTriggerProcessor(fireEvery, keepLast),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class CountTriggerProcessor(fireEvery: Int, keepLast: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, CountFire] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var nSeen: streaming.ValueState[Long] = _
    @transient private var pane: streaming.ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit = {
      nSeen = getHandle.getValueState[Long]("n_seen",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
      pane = getHandle.getListState[Double]("pane",
        Encoders.scalaDouble, streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[CountFire] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[CountFire]
      var cnt = Option(nSeen.get()).getOrElse(0L)
      var buf = pane.get().toVector
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        cnt += 1
        buf = (buf :+ e.value).takeRight(keepLast) // evictor: keep last M
        if (cnt % fireEvery == 0) // trigger: FIRE every Nth element
          out += CountFire(key, cnt / fireEvery, buf.size, buf.sum)
      }
      nSeen.update(cnt)
      pane.put(buf.toArray)
      out.iterator
    }
  }

  case class HoltPoint(day_us: Long, actual: Double, level: Double,
    trend: Double, forecast: Option[Double])

  /** L288 — Holt level+trend model maintenance ON A STREAM (the live
    * form of [[graft.ops.Warehouse5.holtDaily]]: the forecast updates
    * as each day CLOSES, instead of re-running the batch recursion
    * nightly — sequential-model maintenance, the one streaming shape
    * the suite's window/sketch/CEP families don't cover). Keyed to the
    * single model key (the state IS one (level, trend) pair plus the
    * open days' partial sums — O(open days), nothing
    * corpus-proportional; a per-series variant would key by series
    * id). A day folds into the model only when a LATER day has been
    * seen (day-close-by-progress, the bounded-drain analogue of a
    * day watermark); the final open day stays pending, mirroring the
    * batch query's horizon. Arithmetic is byte-for-byte the batch
    * recursion: integer micro-units, FLOOR halving — so the twin table
    * pins every emitted (level, trend, forecast) bit-equal to the
    * recursive-CTE batch rows across RocksDB micro-batches. */
  def holtTws(events: Dataset[Event]): Dataset[HoltPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_ => 0L)
      .transformWithState(new HoltProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class HoltProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, HoltPoint] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var daySums: streaming.MapState[Long, Long] = _
    // (level_micro, trend_micro, n_folded) — n_folded 0 means untrained
    @transient private var model: streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit = {
      daySums = getHandle.getMapState[Long, Long]("holt_day_sums",
        Encoders.scalaLong, Encoders.scalaLong, streaming.TTLConfig.NONE)
      model = getHandle.getValueState[(Long, Long, Long)]("holt_model",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[HoltPoint] = {
      rows.foreach { e =>
        val us = microsOf(e.ts)
        val day = us - Math.floorMod(us, 86400000000L)
        val cur = if (daySums.containsKey(day)) daySums.getValue(day) else 0L
        daySums.updateValue(day, cur + micro(e.value))
      }
      val open = daySums.keys().toSeq.sorted
      if (open.length <= 1) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[HoltPoint]
      var (l, b, n) = Option(model.get()).getOrElse((0L, 0L, 0L))
      open.dropRight(1).foreach { day => // fold every CLOSED day in order
        val y = daySums.getValue(day)
        val forecast = if (n == 0) None else Some(round6((l + b) / 1e6))
        if (n == 0) { l = y; b = 0L }
        else {
          val lNew = math.floor((y + l + b) / 2.0).toLong
          b = math.floor((lNew - l + b) / 2.0).toLong
          l = lNew
        }
        n += 1
        out += HoltPoint(day, round6(y / 1e6), round6(l / 1e6), round6(b / 1e6), forecast)
        daySums.removeKey(day)
      }
      model.update((l, b, n))
      out.iterator
    }
  }

  case class AttributedTouch(user_id: Long, purchase_event_id: Long,
    touch: String, credit: Double, credited: Double)

  /** L284 — position-based multi-touch attribution ON A STREAM (the
    * live form of [[graft.ops.Warehouse5.positionAttribution]]: credits
    * land the moment the purchase event arrives, not in tomorrow's
    * batch — which is what ad-spend bidding loops actually consume).
    * Per-user keyed state is ONE ListState holding the PENDING touch
    * types in arrival order — exactly the information the U-shaped
    * 40/20/40 rule needs at conversion time and nothing more (state ∝
    * a user's touches since their last purchase, GC'd by emission at
    * every purchase; touches after a user's final purchase stay
    * pending, mirroring the batch op's unattributed drop). Credit
    * arithmetic is byte-for-byte the batch rule (k=1→1, k=2→0.5,
    * ends→0.4, middles→round-6 of 0.2/(k−2); credited = round-6 of
    * credit×value), so the twin table pins the aggregated credited
    * revenue bit-equal to the batch query across RocksDB micro-batch
    * boundaries. */
  def attributionTws(events: Dataset[Event]): Dataset[AttributedTouch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class AttributionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, AttributedTouch] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var pending: streaming.ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      pending = getHandle.getListState[String]("pending_touches",
        Encoders.STRING, streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[AttributedTouch] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AttributedTouch]
      var buf = pending.get().toVector
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        e.event_type match {
          case "purchase" =>
            val k = buf.length
            buf.zipWithIndex.foreach { case (t, i) =>
              val c = if (k == 1) 1.0 else if (k == 2) 0.5
                else if (i == 0 || i == k - 1) 0.4 else round6(0.2 / (k - 2))
              out += AttributedTouch(key, e.event_id, t, c, round6(c * e.value))
            }
            buf = Vector.empty
          case "view" | "click" => buf = buf :+ e.event_type
          case _ => () // signup/error never carry attribution credit
        }
      }
      if (buf.isEmpty) pending.clear() else pending.put(buf.toArray)
      out.iterator
    }
  }

  case class GapRow(user_id: Long, event_id: Long, gap_s: Long)

  /** L332 streaming twin — per-user inter-arrival gaps ON A STREAM (the
    * keyed-state translation of the batch lag window: Flink jobs read
    * inter-arrival live for burst/heartbeat monitoring, and `lag()` does
    * not stream — ONE ValueState row holding the user's last (ts,
    * event_id) replaces the per-user sort). Emits one row per event
    * after a user's first, gap floored to whole seconds exactly as the
    * batch `ts_interarrival_dist` quantizes; within a micro-batch rows
    * sort by (ts, event_id) — the batch window's total order — so gaps
    * accumulated ACROSS batch boundaries are identical to the batch lag
    * as long as each user's events arrive in event-time order (the
    * in-order replay the twin table drives; out-of-order arrivals are
    * the documented divergence, as for any lag-vs-state translation).
    * State per user is O(1). The banded distribution/percentile summary
    * is the batch query's finishing pass over these gaps. */
  def interArrivalTws(events: Dataset[Event]): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new InterArrivalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class InterArrivalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, GapRow] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var last: streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      last = getHandle.getValueState[(Long, Long)]("last_seen",
        Encoders.product[(Long, Long)], streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[GapRow] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[GapRow]
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val us = microsOf(e.ts)
        if (last.exists()) {
          val (prevUs, _) = last.get()
          out += GapRow(key, e.event_id, (us - prevUs) / 1000000L)
        }
        last.update((us, e.event_id))
      }
      out.iterator
    }
  }

  case class AdmittedEvent(user_id: Long, day_us: Long, event_id: Long,
    n_in_day: Long)

  /** L199 streaming twin — per-key RATE LIMITER (quota enforcement; the
    * live form of [[graft.ops.StreamOps.rateLimit]]): per (user, day)
    * a MapState counter admits the first `quota` events in arrival
    * order and drops the rest. State is ONE long per (user, day) —
    * the quota counter itself, the minimum any throttler must remember
    * — not the events; at watermark + retention the day's entry is
    * GC-able exactly like a window. Emits admitted events with their
    * in-day admission index. In-order-per-user input contract (as
    * L171/L184): the batch twin's (ts, event_id) admission order equals
    * arrival order under chronological feed, which the twin table
    * asserts by set-equality of admitted (user, day, event) across
    * micro-batch boundaries — a counter surviving the batch boundary is
    * precisely what separates this from a per-batch row_number. */
  def rateLimitTws(events: Dataset[Event], quota: Int = 5)
      : Dataset[AdmittedEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RateLimitProcessor(quota),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class RateLimitProcessor(quota: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, AdmittedEvent] {
    import org.apache.spark.sql.{Encoders, streaming}
    // day_us -> admitted count for this user
    @transient private var perDay: streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      perDay = getHandle.getMapState[Long, Long]("rl_days",
        Encoders.scalaLong, Encoders.scalaLong, streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[AdmittedEvent] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AdmittedEvent]
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val us = microsOf(e.ts)
        val dayUs = us - Math.floorMod(us, 86400000000L)
        val n = if (perDay.containsKey(dayUs)) perDay.getValue(dayUs) else 0L
        if (n < quota) {
          perDay.updateValue(dayUs, n + 1)
          out += AdmittedEvent(key, dayUs, e.event_id, n + 1)
        }
      }
      out.iterator
    }
  }

  /** I6g — state BOOTSTRAP (Flink savepoint-bootstrap / State Processor
    * API analogue, the last `transformWithState` feature after
    * state/TTL/List/Map/timers): a batch-computed (count, sum) per key
    * seeds the keyed state before the first micro-batch, so a migrated
    * job resumes totals instead of restarting from zero — exactly the
    * cutover story for porting a running Flink job with its state. */
  def userTotalsBootstrapped(events: Dataset[Event],
      initial: Dataset[(Long, Long, Double)]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    val init = initial.groupByKey(_._1).mapValues(t => (t._2, t._3))
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(), init)
  }

  case class UserAccum(user_id: Long, first_us: Long, last_us: Long, n: Long)

  /** Open SCD2 version ([[scd2Intervals]] state). */
  case class Scd2Open(event_type: String, valid_from_us: Long, version: Long)
  case class Scd2Row(user_id: Long, version: Long, event_type: String,
    valid_from_us: Long, valid_to_us: Option[Long])

  /** Open run of consecutive views ([[kleeneViewsThenPurchase]] state). */
  case class ViewRun(first_view_id: Long, first_ts_us: Long, n_views: Long)
  case class KleeneMatch(user_id: Long, first_view_id: Long, n_views: Long,
    matched: Boolean, purchase_id: Option[Long], span_us: Option[Long])

  case class TimerSession(user_id: Long, n_events: Long, sum_value: Double,
                          last_us: Long)

  /** Full-µs epoch of a Timestamp (`getTime` alone truncates to ms, which
    * would mis-classify gaps within 1 ms of the session boundary vs the
    * µs-precision batch sessionizer). */
  private[streaming] def microsOf(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** `ArrayMath.round6` as an exact ×10⁶ long, for state that sums
    * DECIMAL(18,6) terms. */
  private[streaming] def micro(x: Double): Long =
    (BigDecimal.decimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
      BigDecimal(1000000)).toLongExact

  case class UserTotals(user_id: Long, n: Long, sum_value: Double)
  case class CwState(emitted: Long, inWindow: Long, sum: Double)
  case class CountWindow(user_id: Long, window_idx: Long, sum_value: Double)

  case class AbsenceAlert(user_id: Long, click_id: Long, click_us: Long)

  case class StreamDoc(doc_id: Long, text: String)
  case class BandedDoc(bucket: String, doc_id: Long, sig: Seq[Long])
  case class NearDupAlert(doc_id: Long, dup_of: Long, n_equal: Int)

  /** ONLINE near-duplicate detection — the streaming form of
    * [[graft.ops.Llm.dedupNear]]'s MinHash+LSH (each arriving document is
    * checked against everything already ingested, the way a crawl
    * pipeline dedups in-flight; Flink would run the same keyed-state
    * design). Signatures are [[graft.ops.Llm.minhashSigJvm]] — bit-equal
    * to the batch aggregate — banded 4×2 exactly like the batch bucket
    * key, so a pair that collides in batch collides here. Keyed state per
    * LSH bucket holds the (doc_id, signature) list: state is
    * bucket-occupancy-bounded, the same quantity the batch LSH argument
    * bounds, and never the corpus. A colliding pair may alert from
    * several buckets — consumers dedupe on (doc_id, dup_of), as the batch
    * form dedupes after candidate generation.
    *
    * Alert rule: estimated J (fraction of equal minima over the 8
    * permutations) ≥ 1/2; `dup_of` is the EARLIEST prior doc (smallest
    * id) among the bucket's matches, mirroring batch keep-first. */
  def streamingNearDup(docs: Dataset[StreamDoc]): Dataset[NearDupAlert] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      val sig = graft.ops.Llm.minhashSigJvm(d.text)
      if (sig.isEmpty) Iterator.empty
      else (0 until 4).iterator.map { j =>
        BandedDoc(j.toString + ":" + sig(2 * j) + "_" + sig(2 * j + 1),
          d.doc_id, sig.toSeq)
      }
    }
      .groupByKey(_.bucket)
      .transformWithState(new NearDupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** L179 — windowed COUNT-MIN sketch ON A STREAM (the Flink
    * "sketch-in-keyed-state" pattern: per-window frequency summaries that
    * merge as events arrive): the custom [[graft.functions.CountMinAgg]]
    * runs as a streaming aggregate, so its fixed depth×width counter
    * buffer IS the per-window state-store row — O(1) state per window
    * regardless of stream length, partials merging cell-wise across
    * micro-batches exactly as they merge across partitions in batch.
    * Item = `user_id` (stringified through the portable h48). Complete
    * output mode re-emits every window's merged sketch per trigger; the
    * spec proves each is BIT-EQUAL to the batch aggregate over the same
    * rows — the cross-micro-batch merge is the same verified arithmetic.
    * Consumers probe estimates with [[graft.functions.CountMin.estimate]]
    * exactly as in the batch `llm_cms_heavy_hitters`. */
  def cmsWindowed(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.functions.CountMin.sketch(
        graft.Tables.h48(col("user_id").cast("string")), 4, 16).as("sk"))
      .select(col("w.start").as("ws"), col("sk"))

  /** L259 streaming twin — hourly OHLC candles ON A STREAM (the
    * tick-rollup a metrics pipeline keeps live): the same ONE
    * aggregate as the batch `ts_ohlc_hourly`, running as a streaming
    * windowed agg in complete mode. Every component folds
    * associatively-commutatively in the state store — min/max
    * trivially, min_by/max_by on the UNIQUE sequence number
    * (event_id), the volume sum in DECIMAL — so candles accumulated
    * across micro-batch boundaries are BIT-EQUAL to the batch rollup
    * over the same rows (the twin table pins it against the registered
    * batch query itself). State per open candle is O(1): six scalars. */
  def ohlcWindowed(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n_events"),
        round(graft.Tables.dsum(col("value")), 6).as("v_sum"))
      .select(col("w.start").as("bucket"), col("event_type"), col("open"),
        col("high"), col("low"), col("close"), col("n_events"), col("v_sum"),
        round(col("high") - col("low"), 6).as("range"))

  /** L273 — windowed PSI drift monitor (the STREAMING form of the
    * L126 population-stability audit: per day-window, the event-value
    * histogram is compared against a frozen reference distribution and
    * the PSI raises the drift flag live, instead of in next week's
    * batch audit). The whole histogram is ONE streaming aggregate row
    * — ten conditional counters that fold in the state store like any
    * sum — and the PSI is a ROW-LOCAL decimal fold over those ten
    * cells against the broadcast-free literal reference, so state per
    * window is O(10) and the emitted PSI is bit-equal to running the
    * SAME function over the same rows in batch (the twin table pins it
    * across RocksDB micro-batches; the function body is shared —
    * `groupBy(window(...))` plans identically over bounded input).
    * Laplace-smoothed current side ((n+1)/(N+10), the L126
    * convention); reference passed as probabilities frozen upstream. */
  def psiWindowed(events: DataFrame, refProbs: Seq[Double]): DataFrame = {
    require(refProbs.length == 10 && refProbs.forall(_ > 0.0))
    def bucketIs(k: Int) =
      least(floor(col("value") / 20.0).cast("long"), lit(9L)) === k
    val sums = (0 until 10).map(k =>
      sum(when(bucketIs(k), 1L).otherwise(0L)).as(s"nb_$k"))
    val agged = events
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(sums.head, sums.tail: _*)
    val nTot = (0 until 10).map(k => col(s"nb_$k")).reduce(_ + _)
    val psi = (0 until 10).map { k =>
      val p = (col(s"nb_$k") + 1).cast("double") / (nTot + 10).cast("double")
      val q = lit(refProbs(k))
      round((p - q) * log(p / q), 6).cast("decimal(18,6)")
    }.reduce(_ + _).cast("double")
    agged.select(Seq(col("w.start").as("ws")) ++
        (0 until 10).map(k => col(s"nb_$k")) ++
        Seq(round(psi, 6).as("psi")): _*)
      .withColumn("drift", col("psi") > 0.1)
  }

  /** L290 streaming twin — rolling 7-day distinct active users ON A
    * STREAM (the WAU curve kept live instead of recomputed nightly):
    * each event lands in its 7 covering day-aligned sliding windows
    * (`window(ts, "7 days", "1 day")` — the same day expansion the
    * batch `dau_rolling_7d` performs with an explode) and the
    * per-window user SET folds in the state store — `collect_set`
    * merges associatively-commutatively, so windows accumulated across
    * micro-batch boundaries hold exactly the batch distinct set.
    * State per open window is O(weekly actives): the honest floor for
    * EXACT rolling distinct (COUNT DISTINCT does not stream); at
    * deployment scale the exact set swaps for the [[kmvWindowed]]
    * bottom-k sketch on the same plan, trading exactness for O(k)
    * state. `target_day` = the day the window CLOSES on, matching the
    * batch query's day_num grain (the twin table pins streamed windows
    * equal to the batch expansion on every batch-emitted day). */
  def wauSliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "7 days", "1 day").as("w"))
      .agg(size(collect_set(col("user_id"))).cast("long").as("wau_7d"))
      .select((expr("unix_micros(w.end) div 86400000000") - 1)
        .as("target_day"), col("wau_7d"))

  /** L330 streaming twin — daily ingest-volume counts ON A STREAM (the
    * live half of the dq_volume_anomaly monitor): the day-grain counts
    * are ONE streaming windowed aggregate (O(1) state per open day),
    * and the robust-z scoring — a whole-horizon median/MAD statistic —
    * runs per trigger over the tiny day-grain output via the SAME
    * [[graft.ops.Audit.volumeScoreOn]] the batch query uses
    * (foreachBatch / on the sink table; the twin table pins the
    * composition bit-equal to the registered batch query). Splitting
    * there is the honest design: a median over all days is not an
    * incremental per-key fold, but the frame it reads is
    * calendar-bounded, so re-scoring per trigger costs O(days). */
  def dailyVolumeWindowed(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(expr("unix_micros(w.start)").as("day_us"), col("n_events"))

  /** L193 streaming twin — windowed KMV/bottom-k distinct sketch ON A
    * STREAM (the cardinality sibling of [[cmsWindowed]] above, same
    * design): [[graft.functions.KmvAgg]] runs as a streaming aggregate,
    * so its ≤ k-element sorted buffer IS the per-window state-store row
    * — O(k) state per window regardless of stream length. The merge
    * (dedup, keep k smallest) is associative and commutative, so
    * partials merging across micro-batches in state equal partials
    * merging across partitions in batch: the spec proves each window's
    * sketch BIT-EQUAL to the batch aggregate over the same rows, and
    * therefore every downstream estimate ([[graft.functions.Kmv]]
    * estimator algebra, incl. cross-window union/intersection) equal
    * too. Complete output mode re-emits merged sketches per trigger,
    * exactly as [[cmsWindowed]]. */
  def kmvWindowed(events: DataFrame, k: Int = 32): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.functions.Kmv.sketch(
        graft.Tables.h48(col("user_id").cast("string")), k).as("sk"))
      .select(col("w.start").as("ws"), col("sk"))

  class NearDupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, BandedDoc, NearDupAlert] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var seen: streaming.ListState[(Long, Seq[Long])] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      seen = getHandle.getListState[(Long, Seq[Long])]("seen",
        Encoders.product[(Long, Seq[Long])], streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BandedDoc],
        timerValues: streaming.TimerValues): Iterator[NearDupAlert] = {
      // doc order = arrival order within the batch (id order keeps the
      // keep-first rule deterministic when a batch carries both copies)
      val prior = scala.collection.mutable.ArrayBuffer
        .from(seen.get().map { case (id, s) => (id, s.toArray) })
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupAlert]
      rows.toSeq.sortBy(_.doc_id).foreach { d =>
        val matches = prior.iterator
          .filter(_._1 != d.doc_id)
          .map { case (pid, psig) =>
            (pid, psig.zip(d.sig).count { case (x, y) => x == y })
          }
          .filter(_._2 * 2 >= d.sig.length) // est J >= 1/2
          .toSeq
        if (matches.nonEmpty) {
          val (dupOf, nEq) = matches.minBy(_._1)
          out += NearDupAlert(d.doc_id, dupOf, nEq)
        }
        prior += ((d.doc_id, d.sig.toArray))
        seen.appendValue((d.doc_id, d.sig))
      }
      out.iterator
    }
  }

  /** I6h — CEP ABSENCE via timers (Flink
    * `begin("click").notFollowedBy("purchase").within(30 min)`, the
    * abandoned-cart alert, and the pattern Flink CEP implements with
    * exactly this machinery: a timer that fires UNLESS the forbidden
    * event arrives first). Each click registers an event-time timer at
    * click + within; a following same-user purchase inside the window
    * cancels the pending click; when the watermark passes an uncancelled
    * deadline the alert is emitted. Batch twin (hash-verified against
    * the DuckDB NOT-EXISTS oracle): [[graft.ops.Joins.cepNotFollowedBy]].
    * State per user is the pending-click list — bounded by the within
    * window, exactly Flink's NFA partial-match buffer. */
  def absenceAlerts(events: Dataset[Event],
      withinMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "0 seconds"): Dataset[AbsenceAlert] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new AbsenceProcessor(withinMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Tagged-union envelope for two CONNECTED heterogeneous streams (§2.C8,
    * Flink `DataStream.connect` + `CoProcessFunction`): a control stream
    * and a data stream share a key and one keyed state. Spark has no
    * two-input operator, and needs none — the union IS the connect, and
    * the `isControl` tag is the `processElement1/2` dispatch. */
  case class ConnectEnvelope(key: String, isControl: Boolean, event_id: Long,
      ts: java.sql.Timestamp, value: Double, threshold: Double)

  /** A data-stream event that passed the threshold active at its time. */
  case class PassedEvent(key: String, event_id: Long, value: Double,
      threshold: Double)

  def asData(events: Dataset[Event]): Dataset[ConnectEnvelope] = {
    import events.sparkSession.implicits._
    events.map(e => ConnectEnvelope(e.event_type, isControl = false,
      e.event_id, e.ts, e.value, 0.0))
  }

  def asControl(rules: Dataset[(String, java.sql.Timestamp, Double)])
      : Dataset[ConnectEnvelope] = {
    import rules.sparkSession.implicits._
    rules.map { case (key, ts, thr) =>
      ConnectEnvelope(key, isControl = true, -1L, ts, 0.0, thr) }
  }

  /** C8 — the canonical Flink connect example run on SS: a control stream
    * updates a per-key threshold in keyed state; the data stream filters
    * against the CURRENT threshold. SAME-batch rows apply in (ts,
    * controls-first, event_id) order — a rule and a reading landing in one
    * micro-batch at the same instant see the rule first, deterministically.
    * ACROSS separately-sourced batches arrival order is not guaranteed —
    * exactly Flink connect's contract (`processElement1/2` have no
    * cross-stream order); a data event with no rule yet seen for its key
    * is dropped (Flink's buffer-or-drop choice, drop arm). State: one
    * double per key, forever-bounded. */
  def connectedThresholdFilter(env: Dataset[ConnectEnvelope])
      : Dataset[PassedEvent] = {
    import env.sparkSession.implicits._
    env.groupByKey(_.key)
      .transformWithState(new ThresholdProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class ThresholdProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, ConnectEnvelope, PassedEvent] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var threshold: streaming.ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      threshold = getHandle.getValueState[Double]("threshold",
        Encoders.scalaDouble, streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[ConnectEnvelope],
        timerValues: streaming.TimerValues): Iterator[PassedEvent] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[PassedEvent]
      rows.toSeq
        .sortBy(e => (microsOf(e.ts), !e.isControl, e.event_id))
        .foreach { e =>
          if (e.isControl) threshold.update(e.threshold)
          else if (threshold.exists()) {
            val thr = threshold.get()
            if (e.value >= thr) out += PassedEvent(key, e.event_id, e.value, thr)
          }
        }
      out.iterator
    }
  }

  /** One streaming temporal-join match — the twin of a
    * [[graft.ops.Warehouse.cdcTemporalJoin]] output row. */
  case class TemporalMatch(purchase_id: Long, user_id: Long, version: Long,
      type_at_purchase: String, valid_from_us: Long)

  /** Temporal (versioned-dimension) join ON A STREAM — Flink's streaming
    * `FOR SYSTEM_TIME AS OF` (temporal table join), the live twin of the
    * batch [[graft.ops.Warehouse.cdcTemporalJoin]]. The event stream is
    * DUAL-ROLE, exactly as in the batch SCD2 build: every event is a
    * dimension update candidate (a per-user version increments when
    * `event_type` changes under (ts, event_id) order), and purchases
    * additionally PROBE the version valid at their own timestamp. Keyed
    * state = ONE (version, type, valid_from) struct per user — the
    * current dimension version, O(1) regardless of history (Flink keeps
    * the same latest-version state once watermark GC passes; earlier
    * versions are unreachable by in-order probes and never stored).
    *
    * Equal-timestamp semantics mirror the batch half-open intervals
    * (`valid_from ≤ ts < valid_to`): within one timestamp ALL dimension
    * updates apply (in event_id order) before ANY probe fires, because a
    * version born at ts T owns T — including the version the probing
    * purchase itself creates. In-order-per-user arrival across
    * micro-batches is the documented contract (as L171); the twin
    * table checks full-fixture row equality with the batch join at
    * three batchings. */
  def temporalJoinStream(events: Dataset[Event]): Dataset[TemporalMatch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TemporalJoinProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class TemporalJoinProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TemporalMatch] {
    import org.apache.spark.sql.{Encoders, streaming}
    // (version, event_type, valid_from_us) — the CURRENT dimension version
    @transient private var cur: streaming.ValueState[(Long, String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      cur = getHandle.getValueState[(Long, String, Long)]("cur",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong),
        streaming.TTLConfig.NONE)

    /** [[scd2Step]] over the `(version, event_type, valid_from_us)` state. */
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[TemporalMatch] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[TemporalMatch]
      var open = Option(cur.get()).map { case (v, ty, vf) => Scd2Open(ty, vf, v) }
      val sorted = rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
      var i = 0
      while (i < sorted.length) {
        val t = microsOf(sorted(i).ts)
        var j = i
        while (j < sorted.length && microsOf(sorted(j).ts) == t) j += 1
        // phase 1: every equal-ts event applies its dimension update
        sorted.slice(i, j).foreach(e => open = Some(scd2Step(open, e.event_type, t)._1))
        // phase 2: equal-ts probes see the post-update version (a version
        // born at T owns T — the batch half-open interval)
        sorted.slice(i, j).filter(_.event_type == "purchase").foreach(e => open.foreach(o =>
          out += TemporalMatch(e.event_id, key, o.version, o.event_type, o.valid_from_us)))
        i = j
      }
      open.foreach(o => cur.update((o.version, o.event_type, o.valid_from_us)))
      out.iterator
    }
  }

  /** One emitted relaxed-chain (funnel) match — the streaming twin of
    * [[graft.ops.Cep]]'s relaxed singleton-chain output row. */
  case class ChainMatch(user_id: Long, ids: Seq[Long], first_ts_us: Long,
      last_ts_us: Long, span_us: Long)

  /** Blocks variant of [[ChainMatch]]: per-group first/last event ids —
    * the streaming twin of the batch compiler's g_first_id/g_last_id. */
  case class BlockChainMatch(user_id: Long, first_ids: Seq[Long],
      last_ids: Seq[Long], first_ts_us: Long, last_ts_us: Long, span_us: Long)

  /** Latest stage-j block completion owning a valid prefix: completion
    * (ts, id), chain-head ts, and the flattened per-group (first, last)
    * id pairs of the whole chain so far. `us < 0` is the absent
    * sentinel (needed because snapshots embed one slot per stage). */
  case class BlockStage(us: Long, id: Long, firstTs: Long, ids: Seq[Long])

  /** One row of the current strict same-type run, with the stage states
    * photographed BEFORE this row was processed — the batch compiler's
    * `rowsBetween(…, -n)` frame, replayed: a block completing k rows
    * later reads its predecessor from the snapshot at the block's FIRST
    * row, so the predecessor provably ended strictly before it. */
  case class RunEntry(id: Long, us: Long, snap: Seq[BlockStage])

  /** I6j — the relaxed-contiguity CEP chain ON A STREAM (Flink
    * `begin(A).followedBy(B).followedBy(C)…` — CEP is first a streaming
    * feature, and this is the funnel/attribution query run live):
    * latest-predecessor selection, identical to the batch compiler
    * ([[graft.ops.Cep]] `relaxed=true`, singleton stages). Per-user state
    * is ONE struct per non-final stage — (ts, id, chain-head ts, chain
    * ids) — exactly Flink's NFA partial-match buffer for this pattern,
    * bounded by the pattern length, O(k) per event, nothing pairwise; a
    * match emits the instant its anchor arrives, no watermark wait.
    *
    * Ordering contract (same as [[absenceAlerts]]): same-batch rows are
    * applied in (ts, event_id) order; across micro-batches arrival order
    * must respect event order per user — a predecessor arriving in a
    * LATER batch than its anchor is missed (the batch twin would have
    * counted it). That is the standard SS trade: buffering until the
    * watermark would delay every match to watermark lag; Flink CEP makes
    * the same in-order assumption unless `withLateFiring` is configured. */
  def relaxedChainMatches(events: Dataset[Event], types: Seq[String],
      withinUs: Option[Long] = None): Dataset[ChainMatch] = {
    import events.sparkSession.implicits._
    relaxedBlockMatches(events, types.map((_, 1)), withinUs)
      .map(m => ChainMatch(m.user_id, m.first_ids, m.first_ts_us,
        m.last_ts_us, m.span_us))
  }

  /** The general form: strict `Exact(n)` blocks chained relaxedly —
    * streaming twin of the batch compiler's `relaxed=true` arm for
    * arbitrary block sizes ([[graft.ops.Cep]] L170). Per-user state: the
    * current strict same-type run (last max(n_j) rows, each with its
    * pre-row stage snapshot) plus one struct per non-final stage —
    * bounded by pattern size, O(k·maxN) per event, nothing pairwise. */
  def relaxedBlockMatches(events: Dataset[Event],
      pattern: Seq[(String, Int)],
      withinUs: Option[Long] = None): Dataset[BlockChainMatch] = {
    import events.sparkSession.implicits._
    require(pattern.size >= 2, "chain needs at least two stages")
    require(pattern.forall(_._2 >= 1), "block sizes must be >= 1")
    events
      .groupByKey(_.user_id)
      .transformWithState(new RelaxedChainProcessor(pattern, withinUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class RelaxedChainProcessor(pattern: Seq[(String, Int)], withinUs: Option[Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, BlockChainMatch] {
    import org.apache.spark.sql.{Encoders, streaming}
    private val types = pattern.map(_._1)
    private val ns = pattern.map(_._2)
    private val k = types.size
    private val maxN = ns.max
    private val absent = BlockStage(-1L, -1L, -1L, Nil)
    // stage j (0..k−2): latest block completion owning a valid prefix
    @transient private var stages: Array[streaming.ValueState[BlockStage]] = _
    // the current strict same-type run: (type, last maxN entries)
    @transient private var run: streaming.ValueState[(String, Seq[RunEntry])] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit = {
      stages = Array.tabulate(k - 1)(j =>
        getHandle.getValueState[BlockStage](s"stage$j",
          Encoders.product[BlockStage], streaming.TTLConfig.NONE))
      run = getHandle.getValueState[(String, Seq[RunEntry])]("run",
        Encoders.product[(String, Seq[RunEntry])], streaming.TTLConfig.NONE)
    }

    private def stageOr(j: Int): BlockStage =
      Option(stages(j).get()).getOrElse(absent)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[BlockChainMatch] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[BlockChainMatch]
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val us = microsOf(e.ts)
        // 1. snapshot the stage states BEFORE this row touches them, and
        //    extend (or reset) the strict same-type run
        val snap = (0 until k - 1).map(stageOr)
        val entry = RunEntry(e.event_id, us, snap)
        val prevRun = Option(run.get())
        val entries = prevRun match {
          case Some((t, es)) if t == e.event_type => (es :+ entry).takeRight(maxN)
          case _ => Seq(entry)
        }
        run.update((e.event_type, entries))
        // 2. every stage whose block this row completes, reading the
        //    predecessor from the snapshot at the block's FIRST row — the
        //    batch compiler's −n_j frame, so blocks cannot overlap
        (k - 1).to(0, -1).foreach { j =>
          if (types(j) == e.event_type && entries.size >= ns(j)) {
            val first = entries(entries.size - ns(j))
            val prev = if (j == 0) absent else first.snap(j - 1)
            if (j == 0) {
              stages(0).update(BlockStage(us, e.event_id, first.us,
                Seq(first.id, e.event_id)))
            } else if (prev.us >= 0) {
              val ids = prev.ids ++ Seq(first.id, e.event_id)
              if (j == k - 1) {
                val span = us - prev.firstTs
                if (withinUs.forall(span <= _))
                  out += BlockChainMatch(key,
                    ids.grouped(2).map(_.head).toSeq,
                    ids.grouped(2).map(_.last).toSeq,
                    prev.firstTs, us, span)
              } else {
                stages(j).update(BlockStage(us, e.event_id, prev.firstTs, ids))
              }
            }
          }
        }
      }
      out.iterator
    }
  }

  class AbsenceProcessor(withinMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, AbsenceAlert] {
    import org.apache.spark.sql.{Encoders, streaming}
    // pending (click_id, click_us) — clicks whose window is still open
    @transient private var pending: streaming.ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      pending = getHandle.getListState[(Long, Long)]("pending",
        Encoders.product[(Long, Long)], streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[AbsenceAlert] = {
      // same-batch rows must apply in event order: a purchase only cancels
      // clicks that PRECEDE it (ts, then event_id — the batch twin's order)
      rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val us = microsOf(e.ts)
        if (e.event_type == "click") {
          pending.appendValue((e.event_id, us))
          getHandle.registerTimer(us / 1000 + withinMs)
        } else if (e.event_type == "purchase") {
          // strict-follows tiebreak on (ts, event_id), matching the batch
          // twin cepNotFollowedBy: an equal-timestamp purchase cancels a
          // click only when the click's event_id is smaller — without it,
          // a same-µs pair split across micro-batches could cancel in the
          // wrong order (round-8 ADVICE).
          val keep = pending.get().toSeq.filterNot { case (cId, cUs) =>
            (cUs < us || (cUs == us && cId < e.event_id)) &&
              us - cUs <= withinMs * 1000
          }
          if (keep.isEmpty) pending.clear() else pending.put(keep.toArray)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: streaming.TimerValues,
        expiredTimerInfo: streaming.ExpiredTimerInfo): Iterator[AbsenceAlert] = {
      // fire every pending click whose deadline the watermark has passed;
      // clicks added after a (now-stale) timer registration stay pending
      val (fire, keep) = pending.get().toSeq.partition { case (_, cUs) =>
        cUs / 1000 + withinMs <= expiredTimerInfo.getExpiryTimeInMs
      }
      if (keep.isEmpty) pending.clear() else pending.put(keep.toArray)
      fire.sortBy(_._1).iterator.map { case (id, us) => AbsenceAlert(key, id, us) }
    }
  }
}
