package graft

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Structured Streaming semantics (SURVEY.md §2.I, the (a) side of the dual
  * formulation): watermark advancement, late-data drop, session merge,
  * streaming dedup, custom keyed state, stream-stream interval join, output
  * modes, and batch≡streaming equality. All via MemoryStream — the idiomatic
  * Spark analogue of Flink's MiniCluster harness. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ev(id: Long, t: String, uid: Long, typ: String, v: Double) =
    Event(id, ts(t), uid, typ, v)

  private def usOf(t: String): Long = usOf(ts(t))
  private def usOf(x: java.sql.Timestamp): Long =
    math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000L

  private def runToTable(df: DataFrame, name: String, mode: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  test("I2+I1: tumbling counts in append mode emit only watermark-finalized windows") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.tumblingCounts(ms.toDF()), "tumb_append", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:30:00", 1, "click", 2.0))
      q.processAllAvailable()
      // watermark still at epoch-ish: nothing finalized
      assert(spark.table("tumb_append").count() === 0)
      // advance event time past 11:00 + 10min watermark delay
      ms.addData(ev(3, "2024-01-01 11:20:00", 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumb_append")
        .select($"ws".cast("string"), $"event_type", $"n").as[(String, String, Long)]
        .collect().toSet
      assert(rows === Set(("2024-01-01 10:00:00", "click", 2L)))
    } finally q.stop()
  }

  test("I8: rows later than the watermark are dropped, not re-fired") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.tumblingCounts(ms.toDF()), "tumb_late", "append")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 12:00:00", 1, "view", 1.0)) // wm → 11:50
      q.processAllAvailable()
      val afterClose = spark.table("tumb_late").count()
      assert(afterClose === 1) // [10:00,11:00) closed with n=1
      ms.addData(ev(3, "2024-01-01 10:05:00", 1, "click", 9.9)) // late: < wm
      q.processAllAvailable()
      assert(spark.table("tumb_late").count() === afterClose) // dropped
    } finally q.stop()
  }

  test("I4: session windows merge events within gap and split across it") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.sessionStats(ms.toDF()), "sess", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 7, "click", 1.0),
        ev(2, "2024-01-01 10:20:00", 7, "click", 1.0),
        ev(3, "2024-01-01 10:40:00", 7, "click", 1.0), // same session (gaps 20min)
        ev(4, "2024-01-01 11:50:00", 7, "click", 1.0)) // new session (gap 70min)
      ms.addData(ev(5, "2024-01-01 14:00:00", 8, "view", 1.0)) // advance wm
      q.processAllAvailable()
      val rows = spark.table("sess").where($"user_id" === 7)
        .select($"session_start".cast("string"), $"session_end".cast("string"), $"n_events")
        .as[(String, String, Long)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00", "2024-01-01 11:10:00", 3L), // end = last + 30min gap
        ("2024-01-01 11:50:00", "2024-01-01 12:20:00", 1L)))
    } finally q.stop()
  }

  test("I7: dropDuplicatesWithinWatermark emits first occurrence only") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.dedupFirst(ms.toDF()), "dedup", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:01:00", 1, "click", 2.0), // dup key within batch
        ev(3, "2024-01-01 10:02:00", 2, "click", 3.0))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 10:03:00", 1, "click", 4.0)) // dup key later batch
      q.processAllAvailable()
      val ids = spark.table("dedup").select($"event_id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L))
    } finally q.stop()
  }

  test("I6: mapGroupsWithState accumulates per-user first/last/count across batches") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.userFirstLast(ms.toDS()).toDF(), "ufl", "update")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 12:00:00", 1, "view", 2.0),
        ev(3, "2024-01-01 09:00:00", 1, "view", 3.0)) // out-of-order earlier event
      q.processAllAvailable()
      val last = spark.table("ufl").where($"user_id" === 1)
        .orderBy($"n".desc).limit(1)
        .select($"first_us", $"last_us", $"n").as[(Long, Long, Long)].head()
      assert(last === ((usOf("2024-01-01 09:00:00"),
        usOf("2024-01-01 12:00:00"), 3L)))
    } finally q.stop()
  }

  test("CEP Kleene twin: view+ runs close on the breaking event, time out via event-time timer") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.kleeneViewsThenPurchase(ms.toDS()).toDF(), "kleene", "append")
    try {
      // user 1: view,view,purchase within 2d → complete match (span 600 s);
      // user 1 again: view broken by a click → failed row immediately;
      // user 2: a lone view never followed → only the event-time timer
      // (the CEP within() timeout channel) may emit it
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "view", 1.0),
        ev(3, "2024-01-01 10:10:00", 1, "purchase", 5.0),
        ev(4, "2024-01-01 11:00:00", 1, "view", 1.0),
        ev(5, "2024-01-01 11:30:00", 1, "click", 1.0),
        ev(6, "2024-01-01 10:00:00", 2, "view", 1.0))
      q.processAllAvailable()
      val before = spark.table("kleene").where($"user_id" === 2).count()
      assert(before === 0L, "timeout row must not fire before the watermark passes")
      // advance the watermark past 2024-01-03 10:00 (user 2 first view + 2d),
      // then one more batch so the fired timer's output is committed
      ms.addData(ev(7, "2024-01-04 00:00:00", 3, "click", 1.0))
      q.processAllAvailable()
      ms.addData(ev(8, "2024-01-04 01:00:00", 3, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("kleene")
        .select($"user_id", $"first_view_id", $"n_views", $"matched",
          $"purchase_id", $"span_us")
        .as[(Long, Long, Long, Boolean, Option[Long], Option[Long])].collect().toSet
      assert(rows === Set(
        (1L, 1L, 2L, true, Some(3L), Some(600L * 1000000L)),
        (1L, 4L, 1L, false, None, None),
        (2L, 6L, 1L, false, None, None)))
    } finally q.stop()
  }

  test("SCD2 twin: versions close on type change, across micro-batches") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.scd2Intervals(ms.toDS()).toDF(), "scd2", "append")
    try {
      // v1: view (two consecutive views compact), closed by the click
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "view", 1.0),
        ev(3, "2024-01-01 10:10:00", 1, "click", 1.0))
      q.processAllAvailable()
      // v2 (click) stays open in state across the batch boundary and is
      // closed by the purchase in the NEXT micro-batch
      ms.addData(ev(4, "2024-01-01 10:20:00", 1, "purchase", 5.0))
      q.processAllAvailable()
      val rows = spark.table("scd2")
        .select($"user_id", $"version", $"event_type", $"valid_from_us", $"valid_to_us")
        .as[(Long, Long, String, Long, Option[Long])].collect()
        .map { case (u, v, t, f, to) => (u, v, t, to.map(_ - f)) }.toSet
      assert(rows === Set(
        (1L, 1L, "view", Some(600L * 1000000)),
        (1L, 2L, "click", Some(600L * 1000000))))
      // v3 (purchase) is the open current version: in state, not emitted
      assert(spark.table("scd2").count() === 2L)
    } finally q.stop()
  }

  test("I5: flatMapGroupsWithState count-window emits exactly full windows") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.countWindowSum(ms.toDS(), 3).toDF(), "cw", "append")
    try {
      ms.addData((1 to 4).map(i => ev(i, f"2024-01-01 10:0$i:00", 1, "click", i.toDouble)): _*)
      q.processAllAvailable() // 4 events → one full window of 3 (sum 1+2+3)
      ms.addData((5 to 7).map(i => ev(i, f"2024-01-01 10:0$i:00", 1, "click", i.toDouble)): _*)
      q.processAllAvailable() // +3 events → second window (4+5+6), 7 buffered
      val rows = spark.table("cw").select($"window_idx", $"sum_value")
        .as[(Long, Double)].collect().toSet
      assert(rows === Set((0L, 6.0), (1L, 15.0)))
    } finally q.stop()
  }

  test("C6 streaming: watermarked stream-stream interval join matches pairs") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.intervalJoin(ms.toDF()), "ij", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:10:00", 1, "purchase", 5.0), // within 15min → match
        ev(3, "2024-01-01 10:40:00", 1, "purchase", 6.0), // 40min later → no match
        ev(4, "2024-01-01 10:05:00", 2, "purchase", 7.0)) // other user → no match
      ms.addData(ev(9, "2024-01-01 13:00:00", 9, "view", 0.0)) // advance wm
      q.processAllAvailable()
      val pairs = spark.table("ij").select($"click_id", $"purchase_id")
        .as[(Long, Long)].collect().toSet
      assert(pairs === Set((1L, 2L)))
    } finally q.stop()
  }

  test("I3b: cumulate windows grow within the span and refine across micro-batches") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.cumulateCounts(ms.toDF()), "cumu", "update")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0), // span-start event
        ev(2, "2024-01-01 10:20:00", 2, "view", 1.0))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 10:50:00", 3, "click", 1.0))
      q.processAllAvailable()
      val tenAm = ts("2024-01-01 10:00:00").getTime * 1000L
      val got = spark.table("cumu").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(t => (t._1, t._2)).map { case (k, rows) => k -> rows.last._3 }
      val step = 900L * 1000000L
      // ends grow monotonically: :15 saw only the start event, :30/:45 add
      // the 10:20 event, the full hour adds the late 10:50 one
      assert(got((tenAm, tenAm + step)) === 1L)
      assert(got((tenAm, tenAm + 2 * step)) === 2L)
      assert(got((tenAm, tenAm + 3 * step)) === 2L)
      assert(got((tenAm, tenAm + 4 * step)) === 3L)
    } finally q.stop()
  }

  test("minhash sketch aggregates across micro-batches (streaming state = the O(k) buffer)") {
    // the TypedImperativeAggregate's serialized buffer IS the streaming
    // state: each micro-batch merges into it, and the final signature must
    // equal the batch signature over the union of all batches — the
    // mergeability the sketch exists for, exercised through the state store
    val ms = MemoryStream[(String, Long)]
    val sig = ms.toDF().toDF("g", "x").groupBy("g")
      .agg(functions.MinHash.sig(col("x"), 8).as("sig"))
    val q = runToTable(sig, "mh_stream", "update")
    try {
      ms.addData(("a", 10L), ("a", 20L), ("b", 30L))
      q.processAllAvailable()
      ms.addData(("a", 5L), ("b", 40L), ("b", 7L))
      q.processAllAvailable()
      // update mode re-emits refined rows; keep the LAST row per group
      val got = spark.table("mh_stream").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).groupBy(_._1)
        .map { case (g, rows) => g -> rows.last._2 }
      val batch = Seq(("a", 10L), ("a", 20L), ("a", 5L),
          ("b", 30L), ("b", 40L), ("b", 7L)).toDF("g", "x")
        .groupBy("g").agg(functions.MinHash.sig(col("x"), 8).as("sig"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(got === batch, s"got=$got batch=$batch")
    } finally q.stop()
  }

  test("C6c streaming: bucketed range join joins across buckets with no natural equi key") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.rangeJoinBucketed(ms.toDF()), "rjb", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "error", 200.0),  // severe incident
        ev(2, "2024-01-01 10:30:00", 2, "click", 1.0),    // same bucket → match
        ev(3, "2024-01-01 11:30:00", 3, "click", 1.0),    // >1h after id1 (residual drop) but ≤1h after id5
        ev(4, "2024-01-01 10:45:00", 4, "error", 100.0),  // below severity → ignored
        ev(5, "2024-01-01 10:50:00", 5, "error", 300.0),  // spans buckets 10h and 11h
        ev(6, "2024-01-01 11:20:00", 6, "click", 1.0),    // matches id5 via its 2nd bucket
        ev(7, "2024-01-01 09:50:00", 7, "click", 1.0))    // before any error → no match
      ms.addData(ev(9, "2024-01-02 13:00:00", 9, "view", 0.0)) // advance watermark
      q.processAllAvailable()
      val got = spark.table("rjb").select($"click_id", $"err_id", $"lag_us")
        .as[(Long, Long, Long)].collect()
      // exactly-once per pair even though error id5 is in state twice
      assert(got.length === got.distinct.length)
      assert(got.map(t => (t._1, t._2)).toSet ===
        Set((2L, 1L), (3L, 5L), (6L, 5L)), got.mkString(", "))
      // click 6 matched error 5 through the error's SECOND covering bucket
      assert(got.find(_._1 == 6L).get._3 === 30L * 60 * 1000000)
    } finally q.stop()
  }

  test("C6 streaming: LEFT OUTER interval join emits null-match rows after watermark passes") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.intervalJoinLeftOuter(ms.toDF()), "ijlo", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0), // matched within 15min
        ev(2, "2024-01-01 10:10:00", 1, "purchase", 5.0),
        ev(3, "2024-01-01 10:01:00", 2, "click", 1.0)) // never matched
      q.processAllAvailable()
      // the join watermark is min over BOTH sides, and each side only sees
      // its own event_type — so advance clicks AND purchases past 10:16
      // (click-3 window end + delay), then run one more batch for the
      // state-eviction pass that emits the null row
      ms.addData(ev(9, "2024-01-01 13:00:00", 9, "click", 0.0),
        ev(10, "2024-01-01 13:01:00", 8, "purchase", 0.0))
      q.processAllAvailable()
      ms.addData(ev(11, "2024-01-01 14:00:00", 9, "click", 0.0),
        ev(12, "2024-01-01 14:01:00", 8, "purchase", 0.0))
      q.processAllAvailable()
      // click 9's window end (13:15) is also behind the final watermark
      // (13:50, via the no-data batch), so it null-emits too; click 11
      // (window end 14:15) is still in state and must NOT emit
      val pairs = spark.table("ijlo").select($"click_id", $"purchase_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(pairs === Set((1L, Some(2L)), (3L, None), (9L, None)))
    } finally q.stop()
  }

  test("C6 streaming: FULL OUTER interval join emits matched, left-null AND right-null rows") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.intervalJoinFullOuter(ms.toDF()), "ijfo", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0), // matched within 15min
        ev(2, "2024-01-01 10:10:00", 1, "purchase", 5.0),
        ev(3, "2024-01-01 10:01:00", 2, "click", 1.0)) // no purchase follows
      q.processAllAvailable()
      // purchase with no click in the 15 minutes BEFORE it — the
      // right-null class the LEFT form cannot emit; lands in a LATER
      // micro-batch so the match-scan and eviction cross batch bounds
      ms.addData(ev(4, "2024-01-01 11:00:00", 3, "purchase", 7.0))
      q.processAllAvailable()
      // advance BOTH sides' watermarks past every open eviction bound
      // (click 3 waits out 10:16+delay, purchase 4 waits out 11:00+delay),
      // then one more batch for the state-eviction emission pass
      ms.addData(ev(9, "2024-01-01 13:00:00", 9, "click", 0.0),
        ev(10, "2024-01-01 13:01:00", 8, "purchase", 0.0))
      q.processAllAvailable()
      ms.addData(ev(11, "2024-01-01 14:00:00", 9, "click", 0.0),
        ev(12, "2024-01-01 14:01:00", 8, "purchase", 0.0))
      q.processAllAvailable()
      val pairs = spark.table("ijfo").select($"click_id", $"purchase_id")
        .as[(Option[Long], Option[Long])].collect().toSet
      // click 9 (window end 13:15) is also behind the final watermark →
      // left-null; purchase 10 likewise right-null; 11/12 stay in state
      assert(pairs === Set(
        (Some(1L), Some(2L)),  // matched
        (Some(3L), None),      // left-null: click never purchased-after
        (None, Some(4L)),      // right-null: purchase never clicked-before
        (Some(9L), None), (None, Some(10L))))
    } finally q.stop()
  }

  test("chained stateful operators in one query: watermarked dedup then windowed count") {
    val ms = MemoryStream[Event]
    val piped = Streams.dedupFirst(ms.toDF(), "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("ws"), $"event_type", $"n")
    val q = runToTable(piped, "chained_stateful", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "click", 2.0), // dup key (user1,click) → dropped
        ev(3, "2024-01-01 10:10:00", 2, "click", 3.0),
        ev(4, "2024-01-01 10:20:00", 1, "view", 4.0))
      // advance watermark past 11:00 so the 10:00 window finalizes
      ms.addData(ev(9, "2024-01-01 12:00:00", 9, "error", 0.0))
      q.processAllAvailable()
      val rows = spark.table("chained_stateful")
        .select($"event_type", $"n").as[(String, Long)].collect().toMap
      // dedup keeps first (user,type): click→{u1,u2}=2, view→{u1}=1
      assert(rows === Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("trigger AvailableNow: drains everything available, then stops on its own") {
    val ms = MemoryStream[Event]
    ms.addData(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 11:00:00", 2, "view", 2.0))
    val q = Streams.tumblingCounts(ms.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("avail_now")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(!q.isActive, "AvailableNow query must self-terminate")
    // update mode: both open windows emitted from the single drained batch
    val rows = spark.table("avail_now").select($"ws", $"n").collect()
    assert(rows.length === 2 && rows.map(_.getLong(1)).sum === 2)
  }

  test("I6b: event-time timer closes gap sessions when the watermark passes (onTimer analogue)") {
    val ms = MemoryStream[Event]
    val q = runToTable(
      Streams.timerSessions(ms.toDS()).toDF(), "timer_sessions", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:30:00", 1, "view", 2.0), // same session as 1
        ev(3, "2024-01-01 10:05:00", 2, "click", 5.0),
        // user 5: two events >2h apart in ONE batch — the first session
        // must close immediately from the data branch, no timer needed
        ev(6, "2024-01-01 01:00:00", 5, "click", 7.0),
        ev(7, "2024-01-01 09:00:00", 5, "view", 8.0))
      q.processAllAvailable()
      // timers armed at last+2h: user1 → 12:30, user2 → 12:05. Advance the
      // watermark past both (13:00 - 10min = 12:50), then one more batch
      // so the timed-out callback runs.
      ms.addData(ev(9, "2024-01-01 13:00:00", 3, "view", 0.0))
      q.processAllAvailable()
      ms.addData(ev(10, "2024-01-01 14:00:00", 3, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("timer_sessions")
        .select($"user_id", $"n_events", $"sum_value")
        .as[(Long, Long, Double)].collect().toSet
      // user 3's session is still open (no timer has passed) — not emitted;
      // user 5's 01:00 session closed in-batch, its 09:00 session by timer
      assert(rows === Set((1L, 2L, 3.0), (2L, 1L, 5.0), (5L, 1L, 7.0), (5L, 1L, 8.0)))
    } finally q.stop()
  }

  test("I6 (Spark 4 transformWithState): RocksDB-backed ValueState accumulates per key") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.userTotalsTws(ms.toDS()).toDF(), "tws", "update")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.5),
        ev(2, "2024-01-01 10:01:00", 1, "click", 2.5))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 10:02:00", 1, "view", 4.0))
      q.processAllAvailable()
      val last = spark.table("tws").where($"user_id" === 1)
        .orderBy($"n".desc).limit(1).select($"n", $"sum_value")
        .as[(Long, Double)].head()
      assert(last === ((3L, 8.0)))
    } finally q.stop()
  }

  test("I6e: ListState buffer stays bounded and MapState counts accumulate across batches") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.userProfileTws(ms.toDS(), keepN = 3).toDF(), "profile", "update")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:01:00", 1, "view", 1.0))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 10:02:00", 1, "click", 1.0),
        ev(4, "2024-01-01 10:03:00", 1, "click", 1.0))
      q.processAllAvailable()
      val last = spark.table("profile").where($"user_id" === 1)
        .as[Streams.UserProfile].collect().maxBy(_.recent.sum)
      // buffer holds the LAST 3 ids only (1 was evicted); counts span
      // BOTH batches — list trimmed, map accumulated, both in RocksDB
      assert(last.recent === Seq(2L, 3L, 4L), last.recent)
      assert(last.type_counts === Seq(("click", 3L), ("view", 1L)), last.type_counts)
    } finally q.stop()
  }

  test("A10: upsert sink keeps the latest row per key across batches (staging swap)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/current"
    val ms = MemoryStream[Event]
    val q = Streams.foreachBatchUpsert(ms.toDF(), dir,
      keys = Seq("user_id", "event_type"), orderCol = "ts").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:01:00", 2, "view", 2.0))
      q.processAllAvailable()
      // batch 2 updates (1, click), adds (3, view); (2, view) untouched
      ms.addData(ev(3, "2024-01-01 11:00:00", 1, "click", 9.0),
        ev(4, "2024-01-01 11:01:00", 3, "view", 3.0))
      q.processAllAvailable()
      val table = spark.read.parquet(dir)
        .select($"user_id", $"event_type", $"value")
        .as[(Long, String, Double)].collect().toSet
      assert(table === Set((1L, "click", 9.0), (2L, "view", 2.0), (3L, "view", 3.0)), table)
    } finally q.stop()
  }

  /** Runs `batches` through a fresh upsert sink on a new table, one
    * micro-batch each; returns the table path. */
  private def upsertBatches(keys: Seq[String], batches: Seq[Event]*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/current"
    val ms = MemoryStream[Event]
    val q = Streams.foreachBatchUpsert(ms.toDF(), dir, keys, orderCol = "ts").start()
    try batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    dir
  }

  private def upsertTable(dir: String): Set[Event] = {
    spark.read.parquet(dir).as[Event].collect().toSet
  }

  /** Reference upsert semantics: row_number 1 of a window over all rows
    * per key, newest (ts, event_id) first. */
  private def windowLatest(keys: Seq[String], rows: Seq[Event]): Set[Event] = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    rows.toDF().withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .drop("_rn").as[Event].collect().toSet
  }

  test("A10 merge: a late row does not overwrite a newer stored row") {
    val dir = upsertBatches(Seq("user_id"),
      Seq(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0)),
      Seq(ev(2, "2024-01-01 09:00:00", 1, "view", 2.0),
        ev(3, "2024-01-01 09:30:00", 2, "view", 3.0)))
    assert(upsertTable(dir).map(_.event_id) === Set(1L, 3L))
  }

  test("A10 merge: equal ts is decided by event_id, in either direction") {
    val dir = upsertBatches(Seq("user_id"),
      Seq(ev(5, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(3, "2024-01-01 10:00:00", 2, "click", 2.0)),
      // user 1: lower id at the same ts loses to the stored row;
      // user 2: higher id at the same ts replaces it
      Seq(ev(4, "2024-01-01 10:00:00", 1, "view", 3.0),
        ev(6, "2024-01-01 10:00:00", 2, "view", 4.0)))
    assert(upsertTable(dir).map(_.event_id) === Set(5L, 6L))
  }

  test("A10 merge: duplicate keys inside one micro-batch collapse to the newest") {
    val dup = Seq(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:05:00", 1, "click", 2.0),
      ev(6, "2024-01-01 10:05:00", 1, "view", 6.0),
      ev(3, "2024-01-01 09:00:00", 1, "view", 3.0),
      ev(4, "2024-01-01 10:05:00", 2, "click", 4.0),
      ev(5, "2024-01-01 10:01:00", 2, "view", 5.0))
    // first batch (no table yet) and a later batch (merged into one)
    assert(upsertTable(upsertBatches(Seq("user_id"), dup)).map(_.event_id) === Set(6L, 4L))
    val later = upsertBatches(Seq("user_id"),
      Seq(ev(0, "2024-01-01 08:00:00", 1, "click", 0.0)), dup)
    assert(upsertTable(later).map(_.event_id) === Set(6L, 4L))
  }

  test("A10 merge: a null component of a two-column key groups like the window") {
    val keys = Seq("user_id", "event_type")
    val b1 = Seq(ev(1, "2024-01-01 10:00:00", 1, null, 1.0),
      ev(2, "2024-01-01 10:00:00", 1, "click", 2.0),
      ev(3, "2024-01-01 10:00:00", 2, null, 3.0))
    val b2 = Seq(ev(4, "2024-01-01 11:00:00", 1, null, 4.0),
      ev(5, "2024-01-01 10:30:00", 1, null, 5.0),
      ev(6, "2024-01-01 09:00:00", 1, "click", 6.0))
    val got = upsertTable(upsertBatches(keys, b1, b2))
    assert(got.map(_.event_id) === Set(4L, 2L, 3L), got)
    assert(got === windowLatest(keys, b1 ++ b2))
  }

  test("A10 merge: replaying a committed batch leaves the table unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/current"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert-ckpt").toString
    val ms = MemoryStream[Event]
    def start() = Streams.foreachBatchUpsert(ms.toDF(), dir, Seq("user_id"), "ts")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:00:00", 2, "click", 2.0))
      q1.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 11:00:00", 1, "view", 3.0),
        ev(4, "2024-01-01 09:00:00", 2, "view", 4.0),
        ev(5, "2024-01-01 09:00:00", 3, "view", 5.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val before = upsertTable(dir)
    assert(before.map(_.event_id) === Set(3L, 2L, 5L))
    // un-commit batch 1: the restarted query re-runs it on the merged table
    Seq("1", ".1.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete())
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == 3),
        q2.recentProgress.map(_.batchId).mkString(","))
    } finally q2.stop()
    assert(upsertTable(dir) === before)
  }

  test("A10 merge: three seeded random batches equal the row_number window over their union") {
    val rnd = new scala.util.Random(20241017L)
    val ids = rnd.shuffle((1L to 600L).toVector)
    val types = Vector("click", "view", null)
    val rows = ids.map { id =>
      ev(id, f"2024-01-01 10:${rnd.nextInt(20)}%02d:00", rnd.nextInt(40).toLong,
        types(rnd.nextInt(types.length)), rnd.nextInt(1000) / 10.0)
    }
    val keys = Seq("user_id", "event_type")
    val got = upsertTable(upsertBatches(keys, rows.take(200), rows.slice(200, 400),
      rows.drop(400)))
    val want = windowLatest(keys, rows)
    assert(got.size === want.size)
    assert(got === want)
  }

  /** Counts the Spark jobs, and the stages of each, that one streaming
    * query runs, by its query id. */
  private final class QueryJobs(queryId: String) extends org.apache.spark.scheduler.SparkListener {
    private def ours(p: java.util.Properties) =
      Option(p).exists(_.getProperty("sql.streaming.queryId") == queryId)
    /** Stage count of each job, in job start order. */
    val jobStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stagesRun = new java.util.concurrent.atomic.AtomicInteger()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (ours(e.properties)) jobStages.add(e.stageInfos.size): Unit
    override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) stagesRun.incrementAndGet(): Unit
  }

  /** Exactly the bucket files of an `n`-bucket upsert table. */
  private def bucketFiles(n: Int): Set[String] =
    (0 until n).map(i => f"part-$i%05d-of-$n%05d.parquet").toSet

  test("A10 merge: a steady-state upsert batch is one Spark job and writes <= defaultParallelism files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/current"
    val ms = MemoryStream[Event]
    val q = Streams.foreachBatchUpsert(ms.toDF(), dir, Seq("user_id"), "ts").start()
    val listener = new QueryJobs(q.id.toString)
    spark.sparkContext.addSparkListener(listener)
    def batch(from: Int, n: Int): Unit = {
      ms.addData((from until from + n).map(i =>
        ev(i.toLong, "2024-01-01 10:00:00", (i % 500).toLong, "click", i.toDouble)))
      q.processAllAvailable()
    }
    try {
      batch(0, 1000) // creates the table
      batch(1000, 1000) // checks the footer schema once
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      val (j0, s0) = (listener.jobStages.size, listener.stagesRun.get)
      batch(2000, 1000)
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      assert(listener.jobStages.size - j0 === 1, "Spark jobs in one steady-state upsert batch")
      // the batch shuffle's map stage and the merge-and-write stage; no
      // table exchange
      assert(listener.stagesRun.get - s0 === 2, "stages in one steady-state upsert batch")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    // no _SUCCESS, _temporary, .crc or attempt file beside the buckets
    assert(new java.io.File(dir).list().toSet === bucketFiles(spark.sparkContext.defaultParallelism))
    assert(upsertTable(dir).map(_.event_id) === (2500L until 3000L).toSet)
  }

  /** Runs two micro-batches into the existing upsert table `dir` and checks
    * that the first re-buckets it (its merge job has a table exchange
    * stage) and the second reads the buckets in place; the table must end
    * as exactly the bucket files holding the newest row per user of
    * `init` (unique per user) and both batches. */
  private def migratesToBuckets(dir: String, init: Seq[Event]): Unit = {
    val b1 = (1 to 300).map(i => ev(1000L + i, "2024-01-01 11:00:00", (i % 120).toLong, "view", i.toDouble))
    val b2 = (1 to 300).map(i => ev(2000L + i, "2024-01-01 09:00:00", (i % 240).toLong, "click", i.toDouble))
    val ms = MemoryStream[Event]
    val q = Streams.foreachBatchUpsert(ms.toDF(), dir, Seq("user_id"), "ts").start()
    val listener = new QueryJobs(q.id.toString)
    spark.sparkContext.addSparkListener(listener)
    var mergeStages = Seq.empty[Int]
    val warns = warnings("graft.streaming.Streams") {
      try mergeStages = Seq(b1, b2).map { b =>
        ms.addData(b: _*)
        q.processAllAvailable()
        org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
        listener.jobStages.asScala.last
      } finally {
        q.stop()
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    assert(mergeStages === Seq(3, 2), "stages of each batch's merge job")
    assert(warns.size === 1 && warns.head.contains(s"$dir is not in"), warns)
    assert(new java.io.File(dir).list().toSet === bucketFiles(spark.sparkContext.defaultParallelism))
    assert(upsertTable(dir) === windowLatest(Seq("user_id"), init ++ b1 ++ b2))
  }

  /** 200 rows, one per user, at 10:00. */
  private def upsertInit: Seq[Event] =
    (0 until 200).map(u => ev(u.toLong, "2024-01-01 10:00:00", u.toLong, "click", u.toDouble))

  test("A10 layout: a table written by the DataFrame writer is re-bucketed once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/current"
    upsertInit.toDF().repartition(3).write.parquet(dir)
    migratesToBuckets(dir, upsertInit)
  }

  test("A10 layout: a table compacted by Maintenance.compactParquet is re-bucketed once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/current"
    upsertInit.toDF().repartition(3).write.parquet(dir)
    assert(graft.ops.Maintenance.compactParquet(spark, dir).filesAfter === 1)
    migratesToBuckets(dir, upsertInit)
  }

  test("A10 layout: a table bucketed for another core count is re-bucketed once") {
    val root = java.nio.file.Files.createTempDirectory("graft-upsert").toFile
    val written = new java.io.File(root, "written")
    upsertInit.toDF().repartition(2).write.parquet(written.getPath)
    val dir = new java.io.File(root, "current")
    assert(dir.mkdir())
    // the files a 2-core run of the sink leaves: two buckets, nothing else
    written.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
      .foreach { case (f, i) => assert(f.renameTo(new java.io.File(dir, f"part-$i%05d-of-00002.parquet"))) }
    assert(dir.list().toSet === bucketFiles(2))
    migratesToBuckets(dir.getPath, upsertInit)
  }

  test("A10 merge: a table whose stored schema drifted from the stream fails the batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/current"
    Seq((1L, "2024-01-01 10:00:00", 1L, "click", "1.0"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(dir)
    val ms = MemoryStream[Event]
    val q = Streams.foreachBatchUpsert(ms.toDF(), dir, Seq("user_id"), "ts").start()
    try {
      ms.addData(ev(2, "2024-01-01 11:00:00", 1, "click", 2.0))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(err.getMessage.contains("upsert table"), err.getMessage)
    } finally q.stop()
    assert(spark.read.parquet(dir).schema("value").dataType ===
      org.apache.spark.sql.types.StringType)
  }

  test("I6f: transformWithState event-time timers close gap sessions; stale timers ignored") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.timerSessionsTws(ms.toDS()).toDF(), "tws_timer", "append")
    try {
      // session 1: two events 5 min apart; the second batch EXTENDS the
      // session after the first batch's timer (10:00+2h) was registered →
      // that earlier timer must fire stale (expiry < last+gap) and emit
      // nothing; only the 12:05 timer closes the session
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.5))
      q.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 10:05:00", 1, "view", 2.5))
      q.processAllAvailable()
      // sentinel batches push the watermark past 12:05 so both timers
      // fire BEFORE the next real event (watermark lags one batch —
      // two sentinel batches, as in I6b)
      ms.addData(ev(-1, "2024-01-01 13:00:00", -1, "click", 0.0))
      q.processAllAvailable()
      ms.addData(ev(-2, "2024-01-01 13:30:00", -1, "click", 0.0))
      q.processAllAvailable()
      // session 2 for the same key after the state was cleared
      ms.addData(ev(3, "2024-01-01 15:00:00", 1, "click", 4.0))
      q.processAllAvailable()
      // far-future sentinels close session 2 (and user -1's own sessions)
      ms.addData(ev(-3, "2030-01-01 00:00:00", -1, "click", 0.0))
      q.processAllAvailable()
      ms.addData(ev(-4, "2030-06-01 00:00:00", -1, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("tws_timer").where($"user_id" === 1)
        .select($"n_events", $"sum_value").as[(Long, Double)].collect().toSet
      assert(got === Set((2L, 4.0), (1L, 4.0)), got)
    } finally q.stop()
  }

  test("I6f: transformWithState timer sessions split an in-batch gap like the GroupState twin") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.timerSessionsTws(ms.toDS()).toDF(), "tws_timer_gap", "append")
    try {
      // one batch, two events 3h apart (> the 2h gap): two sessions
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 13:00:00", 1, "view", 2.0))
      q.processAllAvailable()
      ms.addData(ev(-1, "2030-01-01 00:00:00", -1, "click", 0.0))
      q.processAllAvailable()
      ms.addData(ev(-2, "2030-06-01 00:00:00", -1, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("tws_timer_gap").where($"user_id" === 1)
        .select($"n_events", $"sum_value", $"last_us").as[(Long, Double, Long)]
        .collect().toSet
      assert(got === Set((1L, 1.0, usOf("2024-01-01 10:00:00")),
        (1L, 2.0, usOf("2024-01-01 13:00:00"))), got)
    } finally q.stop()
  }

  test("I4d: dynamic-gap sessions — a purchase's 4h window outlives a click's 1h; boundary closes in-line") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.dynamicGapSessionsTws(ms.toDS()).toDF(), "tws_dyn", "append")
    try {
      // batch 1: purchase at 10:00 → span [10:00, 14:00)
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "purchase", 5.0))
      q.processAllAvailable()
      // batch 2: click at 12:00 after a 2h silence — a fixed 1h click gap
      // would have closed the session; the purchase's 4h span keeps it
      // open (merged end stays 14:00 > click's 13:00)
      ms.addData(ev(2, "2024-01-01 12:00:00", 1, "click", 2.0))
      q.processAllAvailable()
      // batch 3: view at 14:30 ≥ merged end 14:00 — the old session must
      // close IN-LINE (the 14:00 timer cannot have fired yet: the
      // watermark still lags at 12:00), and a new session opens
      ms.addData(ev(3, "2024-01-01 14:30:00", 1, "view", 1.0))
      q.processAllAvailable()
      val afterInline = spark.table("tws_dyn").where($"user_id" === 1)
        .select($"n_events", $"sum_value", $"start_us", $"end_us")
        .as[(Long, Double, Long, Long)].collect().toSet
      assert(afterInline === Set(
        (2L, 7.0, usOf("2024-01-01 10:00:00"), usOf("2024-01-01 14:00:00"))),
        s"in-line boundary close wrong: $afterInline")
      // sentinels push the watermark past 15:30 (view end) to flush the tail
      ms.addData(ev(-1, "2024-01-01 20:00:00", -1, "click", 0.0))
      q.processAllAvailable()
      ms.addData(ev(-2, "2024-01-01 21:00:00", -1, "click", 0.0))
      q.processAllAvailable()
      val all = spark.table("tws_dyn").where($"user_id" === 1)
        .select($"n_events", $"sum_value", $"start_us", $"end_us")
        .as[(Long, Double, Long, Long)].collect().toSet
      assert(all === afterInline + ((1L, 1.0,
        usOf("2024-01-01 14:30:00"), usOf("2024-01-01 15:30:00"))), all)
    } finally q.stop()
  }

  test("I5b: count-trigger fires every 3rd element over the last-5 evicted pane, across batches") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.countTriggerWindowTws(ms.toDS()).toDF(), "tws_cte", "append")
    try {
      // values 1..4 in batch 1: trigger fires at element 3 (pane [1,2,3])
      ms.addData((1 to 4).map(i =>
        ev(i, f"2024-01-01 10:0$i%01d:00", 1, "click", i.toDouble)): _*)
      q.processAllAvailable()
      // values 5..7 in batch 2: fires at element 6 — the pane must be the
      // last FIVE values [2..6] (evictor dropped 1), proving the buffer
      // survived the batch boundary with its trim
      ms.addData((5 to 7).map(i =>
        ev(i, f"2024-01-01 10:0$i%01d:00", 1, "click", i.toDouble)): _*)
      q.processAllAvailable()
      val got = spark.table("tws_cte")
        .select($"fire_seq", $"n_in_window", $"win_sum")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === Set((1L, 3L, 6.0), (2L, 5L, 20.0)), got)
    } finally q.stop()
  }

  test("I6f: CUSUM alarm time floors pre-1970 instants to the µs below") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.cusumTws(ms.toDS()).toDF(), "tws_cusum_pre1970", "update")
    try {
      val t = java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:59.5Z"))
      ms.addData(Event(1L, t, 1L, "purchase", 300.0))
      q.processAllAvailable()
      val got = spark.table("tws_cusum_pre1970")
        .select($"n_alarms", $"first_alarm_us").as[(Long, Long)].collect().toSeq
      assert(got == Seq((1L, -500000L)), s"alarm row: $got")
    } finally q.stop()
  }

  test("online SNM: sorted-buffer pairs across batches, prefix-keyed, bounded state; precision 1 on the fixture") {
    val ms = MemoryStream[Streams.StreamDoc]
    val q = runToTable(Streams.streamingSnm(ms.toDS()).toDF(), "snm_stream", "append")
    try {
      val ten = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val nine = "alpha beta gamma delta epsilon zeta eta theta iota"
      // batch 1: the source doc + a same-prefix decoy
      ms.addData(Streams.StreamDoc(1, ten),
        Streams.StreamDoc(5, "apple banana cherry date elderberry fig"))
      q.processAllAvailable()
      // batch 2: a 9/10-word near-dup (same 'a' prefix) must pair with
      // doc 1 ACROSS the batch boundary; an identical-to-doc-1 text under
      // a DIFFERENT prefix must not (key-local blocking, documented)
      ms.addData(Streams.StreamDoc(11, nine), Streams.StreamDoc(20, "z " + ten))
      q.processAllAvailable()
      val got = spark.table("snm_stream")
        .select($"d1", $"d2", $"inter", $"uni").as[(Long, Long, Long, Long)]
        .collect().toSet
      assert(got === Set((1L, 11L, 9L, 10L)), got)
      // fixture feed in two batches: every emitted pair must be a TRUE
      // ≥0.9-Jaccard pair (precision 1 — the verify stage is exact), and
      // the replica families must surface pairs through the horizon
      val docs = Tables.documents(spark, sf0001)
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .map(d => Streams.StreamDoc(d._1 + 1000000L, d._2)) // ids disjoint from above
      val (b1, b2) = docs.partition(_.doc_id % 2 == 0)
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      val wordsOf = docs.map(d => d.doc_id -> d.text.split(" ", -1).distinct.toSet).toMap
      val fixturePairs = spark.table("snm_stream")
        .where($"d1" >= 1000000L).select($"d1", $"d2", $"inter", $"uni")
        .as[(Long, Long, Long, Long)].collect()
      assert(fixturePairs.nonEmpty, "no fixture pairs surfaced through the buffer horizon")
      fixturePairs.foreach { case (a, b, inter, uni) =>
        val (wa, wb) = (wordsOf(a), wordsOf(b))
        val trueInter = (wa & wb).size
        assert(trueInter.toLong === inter && (wa.size + wb.size - trueInter).toLong === uni,
          s"pair ($a,$b) emitted wrong verify arithmetic")
        assert(10 * inter >= 9 * uni, s"pair ($a,$b) below threshold emitted")
      }
    } finally q.stop()
  }

  test("I6g: initial state bootstraps keyed totals — a migrated job resumes, not restarts") {
    val ms = MemoryStream[Event]
    // "savepoint": user 1 had (2 events, 10.0) before the cutover
    val seed = Seq((1L, 2L, 10.0)).toDS()
    val q = runToTable(Streams.userTotalsBootstrapped(ms.toDS(), seed).toDF(),
      "tws_boot", "update")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.5),
        ev(2, "2024-01-01 10:01:00", 2, "view", 2.0))
      q.processAllAvailable()
      val got = spark.table("tws_boot")
        .select($"user_id", $"n", $"sum_value").as[(Long, Long, Double)]
        .collect().toSet
      // user 1 RESUMES from the seeded (2, 10.0); unseeded user 2 starts fresh
      assert(got === Set((1L, 3L, 11.5), (2L, 1L, 2.0)), got)
    } finally q.stop()
  }

  test("I6c: value state expires after its TTL — the key restarts instead of resuming") {
    val ms = MemoryStream[Event]
    // discrete single-batch runs over one checkpoint: the realistic
    // incremental shape for processing-time TTL, and the only settle-able
    // one — a ProcessingTime-mode query keeps scheduling no-data batches
    // (measured: 612 epochs in 2 min under AvailableNow), so neither
    // processAllAvailable nor AvailableNow ever drains
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ttl-ckpt").toString
    // memory sink cannot recover a checkpoint; foreachBatch can
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    def runOnce(): Unit = {
      val q = Streams.userTotalsTwsTtl(ms.toDS(), ttlMs = 1500).toDF()
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.where(col("user_id") === 1).collect()
            .foreach(r => out.add((r.getLong(1), r.getDouble(2))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      // a hung run must not outlive the assertion and poison later suites
      try assert(q.awaitTermination(120000), "single-batch run did not finish")
      finally if (q.isActive) q.stop()
    }
    ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.5),
      ev(2, "2024-01-01 10:01:00", 1, "click", 2.5))
    runOnce()
    val r1 = out.toArray(Array.empty[(Long, Double)])
    assert(r1.contains((2L, 4.0)), r1.mkString(", "))
    out.clear()
    Thread.sleep(2500) // let the processing-time TTL lapse
    ms.addData(ev(3, "2024-01-01 10:02:00", 1, "view", 4.0))
    runOnce()
    // expired state restarts the key at (1, 4.0); live state would
    // have resumed to (3, 8.0)
    val r2 = out.toArray(Array.empty[(Long, Double)])
    assert(r2.contains((1L, 4.0)) && !r2.contains((3L, 8.0)),
      r2.mkString(", "))
  }

  test("I9b/I6d: RocksDB state store + changelog checkpointing recovers windowed-agg state across a restart") {
    // The Flink-RocksDB-backend analogue, and the only state-backend knob a
    // 100 TB streaming deployment actually flips: RocksDBStateStoreProvider
    // moves keyed state off-heap (state size no longer bounded by executor
    // heap), and changelog checkpointing makes the per-commit upload
    // O(batch delta) instead of O(full state snapshot). The provider comes
    // from the session (graft.Session); a classic windowed aggregation is
    // run with changelog checkpointing on over a stop/restart so the
    // recovery path (changelog replay on top of the last snapshot) is
    // exercised, not just the happy path.
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevC = spark.conf.getOption(changelogKey)
    spark.conf.set(changelogKey, "true")
    val ms = MemoryStream[Event]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rocksdb-ckpt").toString
    // memory sink cannot recover a checkpoint; foreachBatch can (same
    // discrete single-batch-run shape as the TTL case above)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def runOnce(): Unit = {
      val q = Streams.tumblingCounts(ms.toDF())
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => out.add((r.getString(1), r.getLong(2))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      try assert(q.awaitTermination(120000), "single-batch run did not finish")
      finally if (q.isActive) q.stop()
    }
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:10:00", 2, "click", 2.0))
      runOnce()
      val r1 = out.toArray(Array.empty[(String, Long)])
      assert(r1.contains(("click", 2L)), r1.mkString(", "))
      out.clear()
      // restart from the same checkpoint: the 10:00 window's n=2 must come
      // back via changelog replay, so one more click refines it to 3 —
      // lost state would restart the window at 1
      ms.addData(ev(3, "2024-01-01 10:20:00", 3, "click", 3.0))
      runOnce()
      val r2 = out.toArray(Array.empty[(String, Long)])
      assert(r2.contains(("click", 3L)) && !r2.contains(("click", 1L)),
        r2.mkString(", "))
    } finally prevC match {
      case Some(v) => spark.conf.set(changelogKey, v)
      case None => spark.conf.unset(changelogKey)
    }
  }

  test("I6h: absence alerts — timer fires for uncancelled clicks only (notFollowedBy)") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.absenceAlerts(ms.toDS()).toDF(), "absence", "append")
    try {
      // user 1: click 10:00 followed by purchase 10:10 (cancelled);
      // user 1: click 10:20 with NO purchase within 30 min (alerts);
      // user 2: purchase 10:05 only (never alerts — no click)
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:10:00", 1, "purchase", 5.0),
        ev(3, "2024-01-01 10:20:00", 1, "click", 1.0),
        ev(4, "2024-01-01 10:05:00", 2, "purchase", 2.0))
      q.processAllAvailable()
      // watermark still at 10:20 — no deadline passed yet
      assert(spark.table("absence").count() === 0)
      // advance the watermark past 10:50 (click 3's deadline)
      ms.addData(ev(5, "2024-01-01 11:30:00", 3, "view", 0.0))
      q.processAllAvailable()
      ms.addData(ev(6, "2024-01-01 12:00:00", 3, "view", 0.0))
      q.processAllAvailable()
      val alerts = spark.table("absence")
        .select($"user_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(alerts === Set((1L, 3L)), s"got $alerts")
    } finally q.stop()
  }

  test("I6i: absence tiebreak — same-µs purchase in a LATER batch cancels only when its event_id is larger") {
    // Round-8 ADVICE: within one batch the sort hides the (ts, event_id)
    // strict-follows tiebreak; across batches it must be applied from
    // state. user 1: click(id 10) then same-µs purchase(id 5) in the NEXT
    // micro-batch — purchase does NOT follow the click, so the click still
    // alerts. user 2: click(id 20) then same-µs purchase(id 25) — follows,
    // cancels.
    val ms = MemoryStream[Event]
    // 10-min watermark delay: with the default 0s, batch 1 advances the
    // watermark TO the clicks' timestamp, and the same-µs batch-2
    // purchases would be dropped as late instead of reaching the tiebreak
    val q = runToTable(
      Streams.absenceAlerts(ms.toDS(), watermarkDelay = "10 minutes").toDF(),
      "absence_tie", "append")
    try {
      ms.addData(ev(10, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(20, "2024-01-01 10:00:00", 2, "click", 1.0))
      q.processAllAvailable()
      ms.addData(ev(5, "2024-01-01 10:00:00", 1, "purchase", 5.0),
        ev(25, "2024-01-01 10:00:00", 2, "purchase", 5.0))
      q.processAllAvailable()
      // push the watermark past both deadlines (two batches so timers fire)
      ms.addData(ev(-1, "2024-01-01 12:00:00", 3, "view", 0.0))
      q.processAllAvailable()
      ms.addData(ev(-2, "2024-01-01 13:00:00", 3, "view", 0.0))
      q.processAllAvailable()
      val alerts = spark.table("absence_tie")
        .select($"user_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(alerts === Set((1L, 10L)), s"got $alerts")
    } finally q.stop()
  }

  test("C8: connected control+data streams — rules update keyed thresholds across batches") {
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val data = MemoryStream[Event]
    val ctrl = MemoryStream[(String, java.sql.Timestamp, Double)]
    val env = Streams.asData(data.toDS())
      .union(Streams.asControl(ctrl.toDS()))
    val q = runToTable(Streams.connectedThresholdFilter(env).toDF(),
      "c8_connect", "append")
    try {
      // Cross-stream arrival order between separate sources is NOT
      // guaranteed (exactly Flink connect's contract), so rules and
      // readings go through in alternating batches: what IS asserted is
      // that rules persist in keyed state across batches and that a
      // rule-less key drops its readings.
      ctrl.addData(("click", t("2024-01-01 10:00:00"), 50.0))
      q.processAllAvailable()
      data.addData(
        ev(1, "2024-01-01 10:01:00", 1, "click", 60.0), // rule 50: pass
        ev(2, "2024-01-01 10:02:00", 1, "click", 40.0), // rule 50: drop
        ev(3, "2024-01-01 10:03:00", 2, "view", 99.0))  // no view rule: drop
      q.processAllAvailable()
      // rules retighten + a new key's rule arrives
      ctrl.addData(("click", t("2024-01-01 11:00:00"), 70.0),
        ("view", t("2024-01-01 11:00:00"), 10.0))
      q.processAllAvailable()
      data.addData(
        ev(4, "2024-01-01 11:01:00", 1, "click", 65.0), // rule now 70: drop
        ev(5, "2024-01-01 11:02:00", 2, "view", 20.0))  // view rule 10: pass
      q.processAllAvailable()
      val out = spark.table("c8_connect")
        .select($"event_id", $"threshold").as[(Long, Double)].collect().toSet
      assert(out === Set((1L, 50.0), (5L, 10.0)), s"got $out")
    } finally q.stop()
  }

  test("online near-dup: exact replicas alert in-stream; every alert is a batch LSH candidate") {
    // the sf0.001 corpus has NO exact duplicates (its near-dups are weak
    // band-collision pairs) — plant replicas of five fixture docs under
    // fresh ids to give the detector true positives with known answers
    val fixture = Tables.documents(spark, sf0001).where($"doc_id" < 300)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => Streams.StreamDoc(id, t) }.sortBy(_.doc_id)
    val planted = Seq(3L, 57L, 120L, 121L, 250L).map { orig =>
      Streams.StreamDoc(10000L + orig, fixture.find(_.doc_id == orig).get.text)
    }
    val ms = MemoryStream[Streams.StreamDoc]
    val q = runToTable(Streams.streamingNearDup(ms.toDS()).toDF(), "near_dup_stream", "append")
    try {
      // replicas arrive in a LATER batch: the match must cross the batch
      // boundary through RocksDB state
      ms.addData(fixture.toSeq: _*)
      q.processAllAvailable()
      ms.addData(planted: _*)
      q.processAllAvailable()
      val alerts = spark.table("near_dup_stream")
        .select($"doc_id", $"dup_of", $"n_equal").as[(Long, Long, Int)].collect().toSet
      // every planted replica alerts against its original (identical text →
      // identical signature → est J = 8/8); dup_of may be an even-earlier
      // near-identical doc, so assert the batch-equivalence of the target
      planted.foreach { p =>
        val mine = alerts.filter(_._1 == p.doc_id)
        assert(mine.nonEmpty, s"replica ${p.doc_id} never alerted")
        assert(mine.exists(_._3 === 8), s"replica ${p.doc_id}: no 8/8 match in $mine")
      }
      // fixture-internal alerts (if any) must be batch LSH candidate pairs
      // (streaming additionally requires est-J >= 1/2 ⇒ alerts ⊆ candidates)
      val batchPairs = ops.Llm.dedupNear(spark, sf0001)
        .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
      val fixtureAlerts = alerts.filter(_._1 < 10000L)
      val bad = fixtureAlerts.map { case (d, of, _) =>
        (math.min(d, of), math.max(d, of)) } -- batchPairs
      assert(bad.isEmpty, s"streamed alerts missing from batch candidates: $bad")
    } finally q.stop()
  }

  test("iterate analogue: foreachBatch feedback loop halves values to fixpoint and drains") {
    // DataStream.iterate gap construct (b): records feed back through the
    // source dir until a round emits nothing. Seed {8, 5}; step halves
    // values > 1 → rounds {4, 2}, {2, 1}, {1}, {} — the observed multiset
    // is the full iteration trace, independent of file/batch grouping.
    val dir = java.nio.file.Files.createTempDirectory("graft-iterate").toString
    Seq(8L, 5L).toDF("value").write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.LongType)))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Streams.iterateFeedback(spark, dir, schema,
      step = df => df.where($"value" > 1L).select(($"value" / 2).cast("long").as("value")))(
      observe = df => df.select($"value").as[Long].collect().foreach(seen.add))
      .start()
    try {
      // processAllAvailable blocks until no new files remain — i.e. until
      // the feedback loop has genuinely reached its fixpoint
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val trace = seen.asScala.toSeq.groupBy(x => x).view.mapValues(_.size).toMap
      assert(trace === Map(8L -> 1, 5L -> 1, 4L -> 1, 2L -> 2, 1L -> 2), trace)
    } finally q.stop()
  }

  test("I10: update mode re-emits a window's row as new data refines it") {
    val ms = MemoryStream[Event]
    val q = runToTable(Streams.tumblingCounts(ms.toDF()), "tumb_update", "update")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 10:30:00", 1, "click", 2.0))
      q.processAllAvailable()
      val emitted = spark.table("tumb_update")
        .where($"event_type" === "click").select($"n").as[Long].collect().sorted.toSeq
      // same window emitted twice, refined: n=1 then n=2 (vs append: only final)
      assert(emitted === Seq(1L, 2L))
    } finally q.stop()
  }

  test("A2: kafka-style binary JSON payloads round-trip through parseEventJson") {
    val original = Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val wire = original // serialize exactly as a Kafka producer would
      .select(to_json(struct($"event_id", $"ts", $"user_id", $"event_type", $"value"),
          Map("timestampFormat" -> Streams.WireTsFormat).asJava)
        .cast("binary").as("value"))
    val parsed = Streams.parseEventJson(wire)
    assert(parsed.schema === original.schema)
    assert(parsed.exceptAll(original).count() === 0)
    assert(original.exceptAll(parsed).count() === 0)
  }

  test("C7: stream-static broadcast join enriches every micro-batch") {
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val ms = MemoryStream[Event]
    val q = runToTable(
      Streams.streamStaticEnrich(ms.toDF(), dim), "enriched", "append")
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:01:00", 2, "view", 1.0),
        ev(3, "2024-01-01 10:02:00", 9, "view", 1.0)) // no dim row → null segment
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select($"event_id", $"segment").as[(Long, Option[String])]
        .collect().toMap
      assert(rows === Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    } finally q.stop()
  }

  test("C7: updating broadcast dim — batch N joins the dim as refreshed before batch N") {
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dim").toString
    Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
      .write.mode("overwrite").parquet(dimDir)
    val ms = MemoryStream[Event]
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val q = Streams.foreachBatchDimRefresh(ms.toDF(), dimDir) { (df, _) =>
      df.select($"event_id", $"segment").collect()
        .foreach(r => seen.put(r.getLong(0), Option(r.getString(1)).getOrElse("none")): Unit)
    }.start()
    try {
      ms.addData(ev(1, "2024-01-01 12:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      assert(seen.asScala.toMap === Map(1L -> "gold"))
      // control-stream update: the dimension changes BETWEEN micro-batches
      Seq((1L, "platinum"), (2L, "silver")).toDF("user_id", "segment")
        .write.mode("overwrite").parquet(dimDir)
      ms.addData(ev(2, "2024-01-01 12:01:00", 1, "click", 1.0))
      q.processAllAvailable()
      assert(seen.asScala.toMap === Map(1L -> "gold", 2L -> "platinum"),
        s"batch 2 must see the refreshed dim: $seen")
    } finally q.stop()
  }

  test("I8: foreachBatch side-output captures late rows instead of dropping them") {
    val ms = MemoryStream[Event]
    val wm = new java.util.concurrent.atomic.AtomicReference(new java.sql.Timestamp(0L))
    val lateIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val onTimeIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = Streams.foreachBatchLateSplit(ms.toDF(), "10 minutes", () => wm.get())(
      onTime = df => df.select("event_id").collect().foreach(r => onTimeIds.add(r.getLong(0)): Unit),
      late = df => df.select("event_id").collect().foreach(r => lateIds.add(r.getLong(0)): Unit)
    ).start()
    // progress reports the watermark USED by a batch (one batch behind);
    // derive the post-batch value the engine's way: max event time - delay
    def syncWm(): Unit = Option(q.lastProgress).foreach { p =>
      Option(p.eventTime.get("max")).foreach { m =>
        val inst = java.time.Instant.parse(m).minus(java.time.Duration.ofMinutes(10))
        if (inst.toEpochMilli > wm.get().getTime)
          wm.set(java.sql.Timestamp.from(inst))
      }
    }
    try {
      ms.addData(ev(1, "2024-01-01 12:00:00", 1, "click", 1.0))
      q.processAllAvailable(); syncWm() // wm → 11:50
      ms.addData(
        ev(2, "2024-01-01 10:05:00", 1, "click", 9.9), // late: ts < wm
        ev(3, "2024-01-01 12:30:00", 1, "view", 1.0))  // on time
      q.processAllAvailable()
      assert(lateIds.asScala.toSet === Set(2L), s"late=$lateIds")
      assert(onTimeIds.asScala.toSet === Set(1L, 3L), s"ontime=$onTimeIds")
    } finally q.stop()
  }

  test("I8b: lateRowsTap tracks the watermark itself — no caller-side progress polling") {
    val ms = MemoryStream[Event]
    val lateIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val onTimeIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = Streams.lateRowsTap(ms.toDF(), java.time.Duration.ofMinutes(10))(
      onTime = df => df.select("event_id").collect().foreach(r => onTimeIds.add(r.getLong(0)): Unit),
      late = df => df.select("event_id").collect().foreach(r => lateIds.add(r.getLong(0)): Unit)
    ).start()
    try {
      // batch 1: no watermark yet → everything on time (engine semantics)
      ms.addData(ev(1, "2024-01-01 12:00:00", 1, "click", 1.0))
      q.processAllAvailable() // internal wm → 11:50
      ms.addData(
        ev(2, "2024-01-01 10:05:00", 1, "click", 9.9), // ts < 11:50 → late
        ev(3, "2024-01-01 11:50:00", 1, "view", 1.0),  // exactly at wm → on time
        ev(4, "2024-01-01 12:30:00", 1, "view", 1.0))  // on time, advances wm
      q.processAllAvailable() // internal wm → 12:20
      ms.addData(ev(5, "2024-01-01 12:10:00", 1, "click", 1.0)) // < 12:20 → late
      q.processAllAvailable()
      assert(lateIds.asScala.toSet === Set(2L, 5L), s"late=$lateIds")
      assert(onTimeIds.asScala.toSet === Set(1L, 3L, 4L), s"ontime=$onTimeIds")
    } finally q.stop()
  }

  test("I9: checkpointed query recovers state across restart") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ms = MemoryStream[Event]
    val df = Streams.tumblingCounts(ms.toDF())
    // memory sink cannot recover from a checkpoint; the exactly-once file
    // sink can — this is the I9 shape (checkpoint + idempotent parquet sink)
    def start() = df.writeStream.format("parquet").option("path", outDir)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    var q = start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:30:00", 1, "click", 2.0))
      q.processAllAvailable()
      q.stop() // simulate failure/restart; offsets+state live in ckpt
      q = start()
      ms.addData(ev(3, "2024-01-01 12:00:00", 1, "view", 1.0)) // wm closes 10:00 window
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select($"ws".cast("string"), $"event_type", $"n").as[(String, String, Long)]
        .collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L)))
    } finally q.stop()
  }

  test("hbosScored: a never-seen bin scores max-surprise with novel_bin set, not dropped") {
    // event 2's hour (23) is absent from the frozen hod histogram — the
    // r14 inner join silently dropped it; it must now surface at the
    // maximum surprise the reference can express, -ln(1/N)
    val evs = Seq((1L, ts("2024-01-01 10:00:00"), 5.0),
      (2L, ts("2024-01-01 23:00:00"), 5.0)).toDF("event_id", "ts", "value")
    val hod = Seq((10, 5L)).toDF("hod", "n_hod")
    val dow = Seq((2, 4L)).toDF("dow", "n_dow")
    val vband = Seq((0L, 2L)).toDF("vband", "n_vband")
    val rows = graft.streaming.Streams2
      .hbosScored(evs, hod, dow, vband, nTotal = 10L)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(4), r.getBoolean(5))))
      .toMap
    // covered: -ln(.5) - ln(.4) - ln(.2) = .693147 + .916291 + 1.609438
    assert(rows(1L) === ((3.218876, false)))
    // novel hod bin: -ln(1/10) = 2.302585 replaces the hod term
    assert(rows(2L) === ((4.828314, true)))
  }

  test("StlProcessor frontier: late data below the frontier is dropped; above it still folds in") {
    def dayNum(d: String): Long =
      math.floorDiv(usOf(s"$d 00:00:00"), 86400000000L)
    val ms = MemoryStream[Event]
    val q = runToTable(graft.streaming.Streams2
      .stlDailyTws(ms.toDS(), Map.empty, 0.0, 0.0).toDF(),
      "stl_frontier", "append")
    try {
      // days Jan 1..10, one event each, x(day) = day-of-month
      ms.addData((1 to 10).map(d =>
        ev(d, f"2024-01-$d%02d 12:00:00", 1, "order", d.toDouble)): _*)
      q.processAllAvailable()
      // emitted: Jan 4,5,6; their windows consumed through Jan 9 (the
      // frontier). NOTHING below/at Jan 9 may mutate state anymore.
      assert(spark.table("stl_frontier").count() === 3L)
      ms.addData(
        ev(11, "2024-01-05 13:00:00", 1, "order", 100.0), // ≤ frontier: drop
        ev(12, "2024-01-10 13:00:00", 1, "order", 100.0)) // > frontier: fold
      q.processAllAvailable()
      assert(spark.table("stl_frontier").count() === 3L, "no re-emission")
      ms.addData((11 to 14).map(d =>
        ev(20 + d, f"2024-01-$d%02d 12:00:00", 1, "order", d.toDouble)): _*)
      q.processAllAvailable()
      val byDay = spark.table("stl_frontier").collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val expected = Map(
        dayNum("2024-01-04") -> 4.0,
        dayNum("2024-01-05") -> 5.0, // NOT 105 — the late +100 was dropped
        dayNum("2024-01-06") -> 6.0,
        dayNum("2024-01-07") -> 7.0,
        dayNum("2024-01-08") -> 8.0,
        dayNum("2024-01-09") -> 9.0,
        dayNum("2024-01-10") -> 110.0) // the above-frontier +100 folded in
      assert(byDay === expected)
      assert(spark.table("stl_frontier").count() === 7L, "each day once")
    } finally q.stop()
  }

  test("imageAHashTws retention: a replica past the maxPerBucket horizon no longer alerts") {
    // ids 1, 151, 301 synthesize IDENTICAL images (same family mod 50,
    // same perturbation mod 3) — every pair is a Hamming-0 duplicate
    val ms = MemoryStream[Long]
    val q = runToTable(graft.streaming.Streams2
      .imageAHashTws(ms.toDS(), maxPerBucket = 1).toDF(),
      "ahash_retention", "append")
    try {
      Seq(1L, 151L, 301L).foreach { id =>
        ms.addData(id)
        q.processAllAvailable()
      }
      val alerts = spark.table("ahash_retention")
        .select($"d1", $"d2").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // horizon 1: each arrival alerts against the single retained
      // member only — (1,301) is beyond the horizon and must NOT alert
      assert(alerts === Set((1L, 151L), (151L, 301L)))
    } finally q.stop()
  }

  // ------------------------------------------------------------ twin table
  //
  // Prefix consistency, the Structured Streaming contract: an operator's
  // output must not depend on where the micro-batch boundaries fall. Each
  // row pairs a streaming operator with its batch twin, and `runTwin`
  // drives the row at three batchings, each of which must equal the twin.

  /** One row of the twin table. `input` is in (µs ts, event_id) order, and
    * a cut may fall between two adjacent inputs only where `cuttable`
    * holds: for events, between distinct timestamps, because with a 0 s
    * watermark a row at the previous batch's max timestamp is late. Each
    * `flush` sentinel follows the input as a batch of its own. `twin` is
    * the batch side, computed once per row; `check` projects the streamed
    * table and compares it with the twin. `operator` is the
    * `graft.streaming` def under test. */
  private final class Twin[A, B](val name: String, val operator: String,
      val input: () => Seq[A], val run: Dataset[A] => DataFrame, val mode: String,
      val twin: () => B, val check: (DataFrame, B) => Unit, val flush: Seq[A],
      val cuttable: (A, A) => Boolean)(implicit val enc: Encoder[A])

  /** A row over events, by default the sf0.001 fixture. */
  private def eventTwin[B](name: String, operator: String,
      run: Dataset[Event] => DataFrame, mode: String, twin: () => B,
      flush: Seq[Event] = Nil, input: () => Seq[Event] = () => fixtureEvents)(
      check: (DataFrame, B) => Unit): Twin[Event, B] =
    new Twin(name, operator, input, run, mode, twin, check, flush,
      (a: Event, b: Event) => usOf(a.ts) != usOf(b.ts))(Encoders.product[Event])

  /** An event row whose streamed table and batch twin go through the same
    * `project`; `check` gets (streamed, batch). */
  private def projTwin[P](name: String, operator: String,
      run: Dataset[Event] => DataFrame, mode: String, batch: () => DataFrame,
      flush: Seq[Event] = Nil)(project: DataFrame => P)(
      check: (P, P) => Unit): Twin[Event, P] =
    eventTwin(name, operator, run, mode, () => project(batch()), flush)(
      (out, b) => check(project(out), b))

  /** A row whose input carries no watermark, so any cut is allowed. */
  private def anyCutTwin[A, B](enc: Encoder[A])(name: String, operator: String,
      input: () => Seq[A], run: Dataset[A] => DataFrame, mode: String, twin: () => B)(
      check: (DataFrame, B) => Unit): Twin[A, B] =
    new Twin(name, operator, input, run, mode, twin, check, Nil, (_: A, _: A) => true)(enc)

  /** The sf0.001 events in (µs ts, event_id) order. */
  private lazy val fixtureEvents: Seq[Event] =
    Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
      .collect().toSeq.sortBy(e => (usOf(e.ts), e.event_id))

  /** Far-future sentinels of user -1 that push the watermark past every
    * open session and deadline; two batches, because the watermark lags
    * one batch. */
  private def farFuture(eventType: String) = Seq(
    ev(-1, "2030-01-01 00:00:00", -1, eventType, 0.0),
    ev(-2, "2030-06-01 00:00:00", -1, eventType, 0.0))

  /** The timer-session operators against `Warehouse.sessionizeEvents`,
    * compared as multisets of (user, n_events, 6-dp sum). */
  private def sessionTwin(name: String, operator: String,
      run: Dataset[Event] => DataFrame) =
    projTwin(name, operator, run, "append",
      () => ops.Warehouse.sessionizeEvents(spark, sf0001), farFuture("click"))(
      _.where($"user_id" >= 0) // drop the sentinel user
        .select($"user_id", $"n_events", round($"sum_value", 6).as("sv"))
        .as[(Long, Long, Double)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap) { (streamed, batch) =>
      assert(streamed === batch)
    }

  /** The monitored (drift-planted) hourly series of the batch frame, with
    * its μ in column 6; λ and δ are multiples of μ. */
  private lazy val phFrame = ops.Stats4.pageHinkleyFrameMicro(spark, sf0001)
    .select($"rn", $"bucket_us", $"x_mon", $"mean_run", $"m", $"ph", $"mu_micro")
    .collect().sortBy(_.getLong(0))
  private lazy val phLambda = phFrame.head.getLong(6) * 12

  /** The PSI reference: the fixture's own first day, smoothed the same way
    * the current side is — day 1 should then NOT drift. */
  private lazy val psiRef: Seq[Double] = {
    val ordered = fixtureEvents
    val day1 = ordered.takeWhile(_.ts.getTime < ordered.head.ts.getTime -
      ordered.head.ts.getTime % 86400000L + 86400000L)
    val counts = Array.tabulate(10) { k =>
      day1.count(e => math.min(math.floor(e.value / 20.0).toLong, 9L) == k).toLong
    }
    counts.map(c => (c + 1.0) / (day1.length + 10.0)).toSeq
  }
  private val psiCols = Seq("ws", "nb_0", "nb_1", "nb_2", "nb_3", "nb_4", "nb_5",
    "nb_6", "nb_7", "nb_8", "nb_9", "psi", "drift")

  /** HBOS scoring against references trained by the SAME projection the
    * batch scorer uses (Audit.hbosFeatures/hbosHist) — the binning cannot
    * drift. */
  private lazy val hbosScore: DataFrame => DataFrame = {
    val feat = ops.Audit.hbosFeatures(spark, sf0001)
    graft.streaming.Streams2.hbosScored(_: DataFrame,
      ops.Audit.hbosHist(feat, "hod"), ops.Audit.hbosHist(feat, "dow"),
      ops.Audit.hbosHist(feat, "vband"), feat.count())
  }

  /** `ts_stl_daily` and the references the STL monitor freezes from it: the
    * weekly profile and the robust location/scale of the residuals (the
    * L273 reference pattern). */
  private lazy val stlFrame = {
    val stlDf = SparkEntry.queries("ts_stl_daily")(spark, sf0001)
    val med = stlDf.agg(round(expr("percentile(residual, 0.5)"), 6))
      .collect()(0).getDouble(0)
    val mad = stlDf.withColumn("adev", abs(col("residual") - lit(med)))
      .agg(round(expr("percentile(adev, 0.5)"), 6)).collect()(0).getDouble(0)
    (stlDf.collect(), med, mad)
  }

  /** Documents with their cluster frozen from the batch matcher — the
    * golden-record ledger maintains survivorship live, re-clustering stays
    * offline. */
  private lazy val clusterMembers = {
    val pairs = ops.Er.snmMultipass(spark, sf0001).select($"d1", $"d2")
    val labels = ops.Llm3.componentLabelsDf(spark, pairs)
    Tables.documents(spark, sf0001)
      .select($"doc_id", $"n_chars", $"source")
      .join(labels.select($"node".as("doc_id"), $"label".as("cluster")),
        Seq("doc_id"))
      .select($"doc_id", $"n_chars".cast("long").as("n_chars"), $"source",
        $"cluster")
      .as[graft.streaming.Streams2.DocMember].collect().sortBy(_.doc_id).toSeq
  }

  private lazy val docIds: Seq[Long] =
    Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect().sorted.toSeq

  private val Hour = 3600000000L

  private def row8(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4), r.getLong(5), r.getLong(6), r.getLong(7))

  /** The rows; each folded hand-written test kept its name and assertions. */
  private val twins: Seq[Twin[_, _]] = Seq(
    eventTwin("I10+batch≡streaming: complete-mode aggregation equals the batch twin on the same data",
      "window count, inline", _.toDF()
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_micros($"w.start").as("ws_us"), $"event_type", $"n"),
      "complete", () => ops.StreamOps.tumblingCounts(spark, sf0001).collect()) { (out, batch) =>
      val stream = out.orderBy("ws_us", "event_type").collect()
      assert(stream.toSeq === batch.toSeq)
    },
    sessionTwin("batch≡streaming: timer sessions equal the batch sessionizer on the full fixture",
      "timerSessions", Streams.timerSessions(_).toDF()),
    sessionTwin("batch≡streaming: transformWithState timer sessions equal the batch sessionizer",
      "timerSessionsTws", Streams.timerSessionsTws(_).toDF()),
    projTwin("I4d+L97: dynamic-gap streaming sessions equal the batch twin on the whole fixture",
      "dynamicGapSessionsTws", Streams.dynamicGapSessionsTws(_).toDF(), "append",
      () => graft.ops.Warehouse.sessionizeDynamicGap(spark, sf0001), farFuture("click"))(
      _.where($"user_id" >= 0)
        .select($"user_id", $"n_events", $"start_us", $"end_us", $"sum_value")
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(t => (t._1, t._2, t._3, t._4) -> t._5).toMap) { (streamed, batch) =>
      assert(streamed.keySet === batch.keySet,
        s"session boundaries diverge: extra=${streamed.keySet -- batch.keySet} missing=${batch.keySet -- streamed.keySet}")
      batch.foreach { case (k, v) =>
        assert(math.abs(streamed(k) - v) < 1e-6, s"sum mismatch at $k: ${streamed(k)} vs $v")
      }
      assert(batch.nonEmpty)
    },
    projTwin("I5b+L97: streamed count-trigger windows equal the batch twin on the whole fixture",
      "countTriggerWindowTws", Streams.countTriggerWindowTws(_).toDF(), "append",
      () => graft.ops.StreamOps.countTriggerEvict(spark, sf0001))(
      _.select($"user_id", $"fire_seq", $"n_in_window", $"win_sum")
        .as[(Long, Long, Long, Double)].collect()
        .map(t => (t._1, t._2, t._3) -> t._4).toMap) { (streamed, batch) =>
      assert(streamed.keySet === batch.keySet,
        s"fire points diverge: extra=${streamed.keySet -- batch.keySet} missing=${batch.keySet -- streamed.keySet}")
      batch.foreach { case (k, v) =>
        assert(math.abs(streamed(k) - v) < 1e-6, s"pane sum mismatch at $k: ${streamed(k)} vs $v")
      }
      assert(batch.nonEmpty)
    },
    // update mode: the row with the max n per type is the final state
    projTwin("I6f+L216: streaming CUSUM equals the batch control chart on the whole fixture",
      "cusumTws", Streams.cusumTws(_).toDF(), "update",
      () => graft.ops.Warehouse4.cusumAnomaly(spark, sf0001))(
      _.select($"event_type", $"n", $"n_alarms", $"max_s", $"first_alarm_us")
        .as[(String, Long, Long, Double, Long)].collect()
        .groupBy(_._1).map { case (_, xs) => xs.maxBy(_._2) }
        .toSeq.sortBy(_._1)) { (streamed, batch) =>
      assert(streamed == batch,
        s"streaming chart diverged:\n  stream $streamed\n  batch  $batch")
      assert(batch.map(_._3).sum > 0, "no alarms anywhere — dead chart")
    },
    // relaxedChainMatches is relaxedBlockMatches with singleton blocks
    eventTwin("batch≡streaming: relaxed chain matches equal cep_followed_by_relaxed, state crossing batches",
      "relaxedBlockMatches", Streams.relaxedChainMatches(_, Seq("view", "click", "purchase"),
        withinUs = Some(3L * 24 * 3600 * 1000000L)).toDF(), "append",
      () => ops.Joins.cepFollowedByRelaxed(spark, sf0001)
        .select($"user_id", $"view_id", $"click_id", $"purchase_id", $"span_us")
        .as[(Long, Long, Long, Long, Long)]
        .collect().map { case (u, v, c, p, sp) => (u, s"$v,$c,$p", sp) }.toSet) { (out, batch) =>
      val streamed = out.select($"user_id", $"ids", $"span_us").as[(Long, Seq[Long], Long)]
        .collect().map { case (u, ids, sp) => (u, ids.mkString(","), sp) }.toSet
      assert(streamed === batch,
        s"only-streamed=${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
      assert(streamed.nonEmpty)
    },
    projTwin("batch≡streaming: temporal join equals cdc_temporal_join on the full fixture",
      "temporalJoinStream", Streams.temporalJoinStream(_).toDF(), "append",
      () => ops.Warehouse.cdcTemporalJoin(spark, sf0001))(
      _.select($"purchase_id", $"user_id", $"version", $"type_at_purchase", $"valid_from_us")
        .as[(Long, Long, Long, String, Long)].collect().toSet) { (streamed, batch) =>
      assert(streamed === batch,
        s"only-streamed=${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
      assert(streamed.nonEmpty)
    },
    // open versions stay in state (append mode cannot retract): the twin is
    // the batch query's closed versions
    projTwin("batch≡streaming: SCD2 closed versions equal cdc_scd2_intervals",
      "scd2Intervals", Streams.scd2Intervals(_).toDF(), "append",
      () => ops.Warehouse.cdcScd2Intervals(spark, sf0001).where($"valid_to_us".isNotNull))(
      _.select($"user_id", $"version", $"event_type", $"valid_from_us", $"valid_to_us")
        .as[(Long, Long, String, Long, Long)].collect().toSet) { (streamed, batch) =>
      assert(streamed === batch,
        s"only-streamed=${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
      assert(batch.nonEmpty)
    },
    // full windows only; the sums compare at the 6-dp contract, because the
    // batch twin sums DECIMAL(18,6) terms
    projTwin("batch≡streaming: count windows of 10 equal the full buckets of stream_count_window_sum",
      "countWindowSum", Streams.countWindowSum(_, 10).toDF(), "append",
      () => ops.StreamOps.countWindowSum(spark, sf0001).where($"n" === 10)
        .withColumnRenamed("bucket", "window_idx"))(
      _.select($"user_id", $"window_idx", $"sum_value").as[(Long, Long, Double)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap) { (streamed, batch) =>
      assert(streamed.keySet === batch.keySet)
      batch.foreach { case (k, v) => assert(math.abs(streamed(k) - v) < 1e-6, s"sum at $k") }
      assert(batch.nonEmpty)
    },
    // ids 2 and 1 share a millisecond; µs order puts id 2 first, so the two
    // land in different windows of 2
    eventTwin("countWindowSum orders two events of one millisecond by µs, not by event_id",
      "countWindowSum", Streams.countWindowSum(_, 2).toDF(), "append",
      () => Set((0L, 3.0), (1L, 12.0)),
      input = () => Seq(ev(5, "2024-01-01 09:59:59", 1, "click", 1.0),
        ev(2, "2024-01-01 10:00:00.0001", 1, "click", 2.0),
        ev(1, "2024-01-01 10:00:00.0009", 1, "click", 4.0),
        ev(6, "2024-01-01 10:00:01", 1, "click", 8.0))) { (out, want) =>
      assert(out.select($"window_idx", $"sum_value").as[(Long, Double)].collect().toSet === want)
    },
    // update mode: the row with the max n per user is the final state
    projTwin("batch≡streaming: per-user first/last/count equal stream_user_first_last",
      "userFirstLast", Streams.userFirstLast(_).toDF(), "update",
      () => SparkEntry.queries("stream_user_first_last")(spark, sf0001)
        .withColumnRenamed("n_events", "n"))(
      _.select($"user_id", $"first_us", $"last_us", $"n").as[(Long, Long, Long, Long)]
        .collect().groupBy(_._1).map { case (_, xs) => xs.maxBy(_._4) }.toSet) {
      (streamed, batch) => assert(streamed === batch)
    },
    // the twins coincide only where every view run fits inside the 2-day
    // span (see Streams.kleeneViewsThenPurchase); the fixture's longest is
    // checked below
    projTwin("batch≡streaming: Kleene view runs equal cep_kleene_timeout",
      "kleeneViewsThenPurchase", Streams.kleeneViewsThenPurchase(_).toDF(), "append",
      () => ops.Joins.cepKleeneTimeout(spark, sf0001), farFuture("click"))(
      _.where($"user_id" >= 0)
        .select($"user_id", $"first_view_id", $"n_views", $"matched", $"purchase_id", $"span_us")
        .as[(Long, Long, Long, Boolean, Option[Long], Option[Long])].collect().toSet) {
      (streamed, batch) =>
      val runs = fixtureEvents.groupBy(_.user_id).values.flatMap(_.foldLeft(List.empty[List[Long]]) {
        case (run :: done, e) if e.event_type == "view" && run.nonEmpty => (usOf(e.ts) :: run) :: done
        case (acc, e) => (if (e.event_type == "view") List(usOf(e.ts)) else Nil) :: acc
      }).filter(_.nonEmpty)
      assert(runs.map(r => r.head - r.last).max <= 2L * 24 * 3600 * 1000000L)
      assert(streamed === batch,
        s"only-streamed=${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
      assert(batch.exists(_._4) && batch.exists(!_._4))
    },
    projTwin("batch≡streaming: OHLC candles bit-equal to the batch rollup across micro-batches",
      "ohlcWindowed", ds => Streams.ohlcWindowed(ds.toDF()), "complete",
      () => SparkEntry.queries("ts_ohlc_hourly")(spark, sf0001))(
      _.select($"bucket".cast("string"), $"event_type", $"open", $"high",
        $"low", $"close", $"n_events", $"v_sum", $"range")
        .as[(String, String, Double, Double, Double, Double, Long, Double, Double)]
        .collect().toSet) { (streamed, batch) =>
      assert(streamed === batch,
        s"only-streamed=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
      assert(batch.size > 10, "fixture must span many candles")
    },
    eventTwin("batch≡streaming: Holt level/trend maintenance bit-equal to the recursive-CTE batch",
      "holtTws", Streams.holtTws(_).toDF(), "append",
      () => SparkEntry.queries("ts_holt_daily")(spark, sf0001)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
        .sortBy(_._1).toSeq) { (out, batch) =>
      val streamed = out
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .sortBy(_._1).toSeq
      // stream emits every day that CLOSED (a later day was seen) — all
      // but the final day of the batch horizon
      assert(streamed == batch.dropRight(1),
        s"\nstream ${streamed.take(3)}…\nbatch ${batch.take(3)}…")
      assert(streamed.length >= 25, "fixture must close many days")
    },
    // every hour arrives as TWO partial contributions, and a cut may fall
    // between them, so hours straddle micro-batch boundaries
    anyCutTwin(Encoders.product[streaming.Streams3.HourPoint])(
      "batch≡streaming: Page–Hinkley statistic bit-equal to the batch frame, hours split across batches",
      "pageHinkleyTws", () => phFrame.toSeq.flatMap { r =>
        val (b, x) = (r.getLong(1), r.getLong(2))
        Seq(streaming.Streams3.HourPoint(b, x / 2),
          streaming.Streams3.HourPoint(b, x - x / 2))
      }, streaming.Streams3.pageHinkleyTws(_, phLambda, phFrame.head.getLong(6) / 4).toDF(),
      "append", () => phFrame.dropRight(1).map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(5) > phLambda)).toSeq) { (out, batch) =>
      val streamed = out
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
        .sortBy(_._1).toSeq
      assert(streamed == batch,
        s"\nstream ${streamed.take(3)}…\nbatch ${batch.take(3)}…")
      assert(streamed.count(_._7) > 0, "the planted drift must alarm")
      assert(streamed.exists(!_._7), "pre-drift hours must stay silent")
    },
    eventTwin("batch≡streaming: U-shaped attribution credits bit-equal to the batch query",
      "attributionTws", Streams.attributionTws(_).toDF(), "append",
      () => SparkEntry.queries("attribution_position")(spark, sf0001)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq) { (out, batch) =>
      val streamed = out
        .groupBy($"touch")
        .agg(count(lit(1)).as("n_credited_touches"),
          round(Tables.dsum($"credited"), 6).as("credited_revenue"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(streamed == batch, s"\nstream $streamed\nbatch $batch")
      assert(batch.map(_._2).sum > 100, "fixture must carry many credits")
      // per-journey credit conservation on the streamed side
      val perJourney = out
        .groupBy($"user_id", $"purchase_event_id")
        .agg(round(Tables.dsum($"credit"), 6).as("csum"), count(lit(1)).as("k"))
        .collect()
      perJourney.foreach { r =>
        assert(math.abs(r.getDouble(2) - 1.0) < r.getLong(3) * 1e-6,
          s"credits must conserve: $r")
      }
    },
    eventTwin("batch≡streaming: windowed PSI drift monitor bit-equal to the batch form",
      "psiWindowed", ds => Streams.psiWindowed(ds.toDF(), psiRef), "complete",
      () => Streams.psiWindowed(Tables.events(spark, sf0001), psiRef)
        .select((col("ws").cast("string") +: psiCols.drop(1).map(col)): _*)
        .collect().map(_.toSeq).toSet) { (out, batch) =>
      val streamed = out
        .select((col("ws").cast("string") +: psiCols.drop(1).map(col)): _*)
        .collect().map(_.toSeq).toSet
      assert(streamed === batch)
      assert(batch.size > 10, "fixture must span many day windows")
      // the reference day itself must sit at (near-)zero PSI, undrifted
      val firstDay = out.orderBy("ws").collect().head
      assert(!firstDay.getBoolean(12), "reference day must not drift")
      assert(firstDay.getDouble(11) < 0.01)
    },
    eventTwin("batch≡streaming: per-user inter-arrival gaps equal the batch lag window",
      "interArrivalTws", Streams.interArrivalTws(_).toDF(), "append",
      () => Tables.events(spark, sf0001)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("gap_s",
          expr("(us - lag(us, 1) OVER (PARTITION BY user_id " +
            "ORDER BY us, event_id)) div 1000000"))
        .where(col("gap_s").isNotNull)
        .select($"user_id", $"event_id", $"gap_s").as[(Long, Long, Long)]
        .collect().sorted.toSeq) { (out, batch) =>
      val streamed = out
        .select($"user_id", $"event_id", $"gap_s").as[(Long, Long, Long)]
        .collect().sorted.toSeq
      assert(streamed === batch)
      // one gap per event after each user's first
      val nUsers = fixtureEvents.map(_.user_id).distinct.length
      assert(batch.length === fixtureEvents.length - nUsers)
      assert(batch.nonEmpty)
    },
    eventTwin("batch≡streaming: rolling 7-day WAU equals the batch day expansion",
      "wauSliding", ds => Streams.wauSliding(ds.toDF()), "complete",
      () => SparkEntry.queries("dau_rolling_7d")(spark, sf0001)
        .select($"day_num", $"wau_7d").collect()
        .map(r => (r.getLong(0), r.getLong(1)))) { (out, batch) =>
      val streamed = out.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(batch.length > 10, "fixture must span many days")
      batch.foreach { case (d, wau) =>
        assert(streamed.get(d).contains(wau),
          s"day $d: streamed ${streamed.get(d)} != batch $wau")
      }
      // streamed side may additionally carry horizon-edge windows the
      // batch clips (target days past max_day / days with no direct
      // activity) — but never fewer
      assert(streamed.size >= batch.length)
    },
    // the finishing robust-z pass is the SAME function the batch query
    // runs, applied to the streamed day-grain counts
    eventTwin("batch≡streaming: ingest-volume anomaly monitor equals the batch query",
      "dailyVolumeWindowed", ds => Streams.dailyVolumeWindowed(ds.toDF()), "complete",
      () => SparkEntry.queries("dq_volume_anomaly")(spark, sf0001)
        .collect().map(_.toSeq).toSeq) { (out, batch) =>
      val streamedScored = ops.Audit.volumeScoreOn(out)
        .collect().map(_.toSeq).toSeq
      assert(streamedScored === batch)
      assert(batch.nonEmpty)
    },
    eventTwin("batch≡streaming: per-window count-min sketches bit-equal across micro-batches",
      "cmsWindowed", ds => Streams.cmsWindowed(ds.toDF()), "complete",
      () => sketches(Streams.cmsWindowed(Tables.events(spark, sf0001)))) { (out, batch) =>
      val streamed = sketches(out)
      assert(streamed.keySet === batch.keySet)
      batch.foreach { case (ws, sk) =>
        assert(streamed(ws) == sk, s"sketch drift in window $ws")
      }
      assert(batch.size > 1, "fixture must span multiple windows")
      // total mass conservation: each sketch row sums to the window's rows
      val perWindow = Tables.events(spark, sf0001)
        .groupBy(window($"ts", "1 day")).count()
        .select($"window.start".cast("string"), $"count").as[(String, Long)]
        .collect().toMap
      streamed.foreach { case (ws, sk) =>
        (0 until 4).foreach { j =>
          assert(sk.slice(j * 16, (j + 1) * 16).sum == perWindow(ws),
            s"row $j of window $ws lost mass")
        }
      }
    },
    eventTwin("batch≡streaming: rate-limiter admits the same event set as the batch row_number twin",
      "rateLimitTws", Streams.rateLimitTws(_).toDF(), "append", () => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id", date_trunc("day", $"ts"))
          .orderBy($"ts", $"event_id")
        Tables.events(spark, sf0001)
          .withColumn("rn", row_number().over(w))
          .where($"rn" <= 5)
          .select($"user_id", unix_micros(date_trunc("day", $"ts")),
            $"event_id", $"rn".cast("long"))
          .as[(Long, Long, Long, Long)].collect().toSet
      }) { (out, batch) =>
      val streamed = out
        .select($"user_id", $"day_us", $"event_id", $"n_in_day")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"admitted sets diverge: extra=${(streamed -- batch).take(3)} " +
          s"missing=${(batch -- streamed).take(3)}")
      // the quota genuinely drops something, and admission never exceeds it
      val total = Tables.events(spark, sf0001).count()
      assert(streamed.size < total, "quota dropped nothing — limit unexercised")
      assert(streamed.forall(_._4 <= 5L))
    },
    // k=8 < the fixture's 15 distinct users/day, so most windows exercise
    // the BOUNDED path (buffer at capacity, cross-batch offer/evict in
    // state), not just the exact-below-k accumulation
    eventTwin("batch≡streaming: per-window KMV bottom-k sketches bit-equal across micro-batches",
      "kmvWindowed", ds => Streams.kmvWindowed(ds.toDF(), k = 8), "complete",
      () => sketches(Streams.kmvWindowed(Tables.events(spark, sf0001), k = 8))) { (out, batch) =>
      val streamed = sketches(out)
      assert(streamed.keySet === batch.keySet)
      batch.foreach { case (ws, sk) =>
        assert(streamed(ws) == sk, s"sketch drift in window $ws")
      }
      assert(batch.size > 1, "fixture must span multiple windows")
      // independent ground truth: each window's sketch must be exactly
      // the 8 smallest distinct h48 hashes of that window's users,
      // ascending (the complete set when a window has < 8 distinct)
      val truth = Tables.events(spark, sf0001)
        .groupBy(window($"ts", "1 day"))
        .agg(collect_set($"user_id").as("us"))
        .select($"window.start".cast("string"), $"us").as[(String, Seq[Long])]
        .collect().toMap
      var sawBounded = false
      streamed.foreach { case (ws, sk) =>
        val want = truth(ws).map(u => Tables.h48jvm(u.toString))
          .distinct.sorted.take(8)
        assert(sk == want, s"window $ws sketch != bottom-8 of distinct h48")
        if (truth(ws).size > 8) sawBounded = true
      }
      assert(sawBounded, "no window exceeded k — bounded path not exercised")
    },
    // 'view' sentinels neither alert nor cancel
    projTwin("batch≡streaming: absence alerts equal cep_not_followed_by on the full fixture",
      "absenceAlerts", Streams.absenceAlerts(_).toDF(), "append",
      () => ops.Joins.cepNotFollowedBy(spark, sf0001), farFuture("view"))(
      _.where($"user_id" >= 0).select($"user_id", $"click_id").as[(Long, Long)]
        .collect().toSet) { (streamed, batch) =>
      assert(streamed === batch,
        s"only-streamed=${streamed -- batch} only-batch=${batch -- streamed}")
    },
    eventTwin("batch≡streaming: HBOS scoring against frozen histograms reproduces the batch top-20",
      "hbosScored", ds => hbosScore(ds.toDF()), "append",
      () => SparkEntry.queries("anomaly_hbos")(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
          r.getDouble(4))).toSeq) { (out, batch) =>
      val streamed = out.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
          r.getDouble(4)))
      // the fixture refs cover every fixture bin: nothing drops at the join
      assert(streamed.length === fixtureEvents.length)
      val top20 = streamed.sortBy(t => (-t._5, t._1)).take(20).toSeq
      assert(top20 === batch)
    },
    eventTwin("batch≡streaming: STL day-close decomposition + robust-z monitor align with the batch frame",
      "stlDailyTws", ds => graft.streaming.Streams2.stlDailyTws(ds,
        stlFrame._1.map(r => (r.getLong(1), r.getDouble(4))).toMap,
        stlFrame._2, stlFrame._3).toDF(), "append",
      () => stlFrame._1
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq,
      input = () => Tables.orders(spark, sf0001)
        .select($"o_orderkey", $"o_orderdate", $"o_custkey", $"o_totalprice")
        .collect()
        .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
          "order", r.getDouble(3)))
        .sortBy(e => (usOf(e.ts), e.event_id)).toSeq) { (out, batch) =>
      val streamedRows = out.collect()
      val streamed = streamedRows
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
      // stream emits every day whose CENTERED window closed — the batch
      // frame minus its final row (the Holt day-close alignment)
      assert(streamed === batch.dropRight(1),
        s"\nstream ${streamed.take(3)}…\nbatch ${batch.take(3)}…")
      assert(streamed.length >= 20, "fixture must close many day windows")
      // the monitor columns agree with anomaly_stl_residual on every
      // overlapping day (that key emits only its top-20 by |z|)
      val zStream = streamedRows
        .map(r => r.getLong(0) -> (r.getDouble(6), r.getBoolean(7))).toMap
      val anomBatch = SparkEntry.queries("anomaly_stl_residual")(spark, sf0001)
        .collect().map(r => r.getLong(0) -> (r.getDouble(5), r.getBoolean(6)))
      val overlap = anomBatch.filter(p => zStream.contains(p._1))
      assert(overlap.nonEmpty)
      overlap.foreach { case (d, zf) => assert(zStream(d) === zf, s"day $d") }
    },
    anyCutTwin(Encoders.scalaLong)(
      "batch≡streaming: online image aHash alerts equal the batch band-candidate verdicts",
      "imageAHashTws", () => docIds, graft.streaming.Streams2.imageAHashTws(_).toDF(),
      "append", () => {
        // JVM replica of the batch semantics: candidates share >= 1 band,
        // verified by exact Hamming <= 8 (same shared MmAHash code path)
        val hs = docIds.map(id =>
          ops.MmAHash.decodeHash(id, ops.MmAHash.synthesize(id)))
        (for {
          i <- hs.indices.iterator
          j <- (i + 1) until hs.length
          a = hs(i); b = hs(j)
          if a.b0 == b.b0 || a.b1 == b.b1 || a.b2 == b.b2 || a.b3 == b.b3
          ham = Integer.bitCount(a.b0 ^ b.b0) + Integer.bitCount(a.b1 ^ b.b1) +
            Integer.bitCount(a.b2 ^ b.b2) + Integer.bitCount(a.b3 ^ b.b3)
          if ham <= 8
        } yield (math.min(a.doc_id, b.doc_id), math.max(a.doc_id, b.doc_id),
          ham)).toSet
      }) { (out, expected) =>
      val streamed = out
        .select($"d1", $"d2", $"hamming").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(expected.nonEmpty, "fixture must hold planted image families")
      assert(streamed === expected,
        s"only-streamed=${(streamed -- expected).take(3)} " +
          s"only-expected=${(expected -- streamed).take(3)}")
      // and the per-Hamming histogram equals the registered batch key
      val hist = streamed.groupBy(_._3).map { case (h, ps) =>
        (h, ps.size.toLong) }
      val batch = SparkEntry.queries("mm_image_ahash_dedup")(spark, sf0001)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(hist === batch)
    },
    // final ledger state per cluster = the row with the max member count;
    // the batch key publishes only multi-member entities
    anyCutTwin(Encoders.product[graft.streaming.Streams2.DocMember])(
      "batch≡streaming: golden-record ledger's final upsert per cluster equals the batch survivorship",
      "goldenRecordTws", () => clusterMembers,
      graft.streaming.Streams2.goldenRecordTws(_).toDF(), "append",
      () => SparkEntry.queries("er_golden_record")(spark, sf0001)
        .collect().map(row8).sortBy(_._1).toSeq) { (out, batch) =>
      val finals = out.collect().map(row8)
        .groupBy(_._1).map(_._2.maxBy(_._2)).toSeq
        .filter(_._2 >= 2).sortBy(_._1)
      assert(batch.nonEmpty, "fixture must hold multi-member entities")
      assert(finals === batch)
    },
    // docs arrive in doc_id order — the prefix semantics' time axis
    anyCutTwin(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))(
      "batch≡streaming: online exact-substring dedup flags merge to the batch keep-first span rows",
      "substrDedupTws", () => Tables.documents(spark, sf0001)
        .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq,
      graft.streaming.Streams3.substrDedupTws(_).toDF(), "append",
      () => SparkEntry.queries("llm_dedup_substring_incr")(spark, sf0001)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap) { (out, batch) =>
      val flags = out.select($"doc_id", $"nw", $"pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // JVM replica of spansFromDupPos: islands with gap <= K, span
      // [min, max + K - 1]
      def spans(poss: Seq[Long]): (Long, Long) = {
        val so = poss.sorted
        var n = 0L; var words = 0L
        var st = so.head; var en = so.head
        so.tail.foreach { p =>
          if (p - en > 16) { n += 1; words += en + 15 - st + 1; st = p }
          en = p
        }
        n += 1; words += en + 15 - st + 1
        (n, words)
      }
      val streamed = flags.groupBy(_._1).map { case (d, rs) =>
        val (n, w) = spans(rs.map(_._3).toSeq)
        d -> (rs.head._2, n, w)
      }
      assert(batch.nonEmpty, "fixture must hold duplicated spans")
      assert(streamed === batch,
        s"only-streamed=${(streamed.toSet -- batch.toSet).take(3)} " +
          s"only-batch=${(batch.toSet -- streamed.toSet).take(3)}")
    },
    // frames arrive in order per video; a cut may fall mid-video
    anyCutTwin(Encoders.product[graft.streaming.Streams3.FrameEvent])(
      "batch≡streaming: online scene-cut alerts equal the batch shot boundaries",
      "sceneCutTws", () => docIds.flatMap(id => (0 until 16).map(t =>
        graft.streaming.Streams3.FrameEvent(id, t))),
      graft.streaming.Streams3.sceneCutTws(_).toDF(), "append",
      () => SparkEntry.queries("mm_video_scene_cut")(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet) { (out, batch) =>
      val streamed = out.select($"doc_id", $"frame_no", $"sad").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty, "fixture must hold planted cuts")
      assert(streamed === batch,
        s"only-streamed=${(streamed -- batch).take(3)} " +
          s"only-batch=${(batch -- streamed).take(3)}")
    },
    // the sf0.001 corpus replayed across five ingest hours (doc_id mod 5),
    // plus one dummy row in hour 5 whose only job is to CLOSE hour 4 — its
    // own hour never closes, so it never pollutes the totals
    anyCutTwin(Encoders.product[streaming.Streams3.SourceHour])(
      "batch≡streaming: live source-mix weights equal the batch temperature mix once the last hour closes",
      "sourceMixTws", () => Tables.documents(spark, sf0001)
        .select($"doc_id", $"source").collect()
        .map(r => streaming.Streams3.SourceHour(
          (r.getLong(0) % 5) * Hour, r.getString(1)))
        .sortBy(_.bucket_us).toSeq :+
        streaming.Streams3.SourceHour(5 * Hour, "zz_flush"),
      streaming.Streams3.sourceMixTws(_).toDF(), "append",
      () => ops.Llm4.temperatureMix(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(_._1).toSeq) { (out, batch) =>
      // the cumulative table emitted at the LAST closed hour covers the
      // whole corpus, so it must be bit-equal to the batch query
      val streamed = out
        .where($"bucket_us" === 4 * Hour)
        .select($"source", $"n_docs", $"p", $"expected_docs").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(streamed == batch,
        s"\nstream ${streamed.take(3)}…\nbatch ${batch.take(3)}…")
      // every earlier closed hour published a consistent partial table
      val hours = out.select($"bucket_us").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(hours == (0 until 5).map(_ * Hour).toSeq, hours)
      // and each published hour's p column sums to ~1
      (0 until 5).foreach { h =>
        val ps = out.where($"bucket_us" === h * Hour)
          .select($"p").collect().map(_.getDouble(0)).sum
        assert(math.abs(ps - 1.0) < 1e-4, s"hour $h p-sum $ps")
      }
    })

  private def sketches(df: DataFrame): Map[String, Seq[Long]] =
    df.select($"ws".cast("string"), $"sk").as[(String, Seq[Long])].collect().toMap

  private val fineBatches = 16

  /** `input` cut three ways, each labelled for the failure message: one
    * batch; 2–3 batches at random cut points drawn with `seed`; and
    * `fineBatches` batches at evenly spaced cut points (one per cut point
    * when there are fewer). */
  private def batchings[A](input: IndexedSeq[A], cuttable: (A, A) => Boolean,
      seed: Long): Seq[(String, Seq[Seq[A]])] = {
    val points = (1 until input.length).filter(i => cuttable(input(i - 1), input(i)))
    def cutAt(cs: Seq[Int]): Seq[Seq[A]] =
      (0 +: cs.sorted :+ input.length).sliding(2).map(p => input.slice(p(0), p(1))).toSeq
    val rnd = new scala.util.Random(seed)
    val fine = if (points.length < fineBatches) points
      else (1 until fineBatches).map(k => points(k * points.length / fineBatches))
    Seq("one batch" -> Seq(input),
      s"seed $seed" -> cutAt(rnd.shuffle(points).take(1 + rnd.nextInt(2))),
      s"${fine.length + 1} batches" -> cutAt(fine))
  }

  /** Starts streaming row `i` at each batching of its input, then its flush
    * sentinels, into memory tables; returns each batching's label and its
    * table. Row `i` draws its random cuts with seed 1000 + i. */
  private def startTwin[A](t: Twin[A, _], i: Int)(
      implicit ec: ExecutionContext): Seq[(String, Future[String])] = {
    implicit val enc: Encoder[A] = t.enc
    batchings(t.input().toIndexedSeq, t.cuttable, 1000L + i).zipWithIndex.map {
      case ((label, chunks), k) => s"$label (${chunks.length} input batches)" -> Future {
        val ms = MemoryStream[A]
        val q = runToTable(t.run(ms.toDS()), s"twin_${i}_$k", t.mode)
        try (chunks ++ t.flush.map(Seq(_))).foreach { c =>
          ms.addData(c: _*)
          q.processAllAvailable()
        } finally q.stop()
        s"twin_${i}_$k"
      }
    }
  }

  /** Every run of every row — (batching label, its memory table) — started
    * together when the first row's test runs. A micro-batch of fixture size
    * costs mostly fixed work (state-store commit, offset and commit logs),
    * so four runs stream side by side; each test then checks its own
    * row's tables. */
  private lazy val twinRuns: IndexedSeq[Seq[(String, Future[String])]] = {
    sqlCtx // the session starts here, not on a pool thread
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val runs = twins.toIndexedSeq.zipWithIndex.map { case (t, i) => startTwin(t, i) }
    Future.sequence(runs.flatten.map(_._2.transform(scala.util.Success(_))))
      .onComplete(_ => pool.shutdown())
    runs
  }

  /** Checks every batching of row `i` against its twin. */
  private def checkTwin[A, B](t: Twin[A, B], i: Int): Unit = {
    val want = t.twin()
    twinRuns(i).foreach { case (label, run) =>
      val clue = s"${t.operator} at $label"
      Await.ready(run, Duration(20, "minutes")).value.get match {
        case scala.util.Failure(e) => fail(s"$clue: the stream failed", e)
        case scala.util.Success(table) =>
          try withClue(s"$clue: ")(t.check(spark.table(table), want))
          finally spark.catalog.dropTempView(table)
      }
    }
  }

  twins.zipWithIndex.foreach { case (t, i) => test(t.name)(checkTwin(t, i)) }

  /** Public `graft.streaming` operators that keep keyed state but have no
    * twin row, each with the reason. */
  private val twinExempt = Map(
    "userTotalsTws" -> "no batch twin; the stream_keyed_state benchmark runs it",
    "userTotalsTwsTtl" -> "processing-time TTL: its output depends on the wall clock",
    "userTotalsBootstrapped" -> "its output depends on an initial-state Dataset",
    "userProfileTws" -> "no batch twin",
    "streamingSnm" -> "a bounded buffer: its pairs are a subset of the batch SNM pairs",
    "streamingNearDup" -> "its alerts are a subset of the batch LSH candidates",
    "connectedThresholdFilter" -> "two connected streams, no batch twin",
    "adwinTws" -> "its twin is a JVM replica of AdwinKernel (Round15jSpec)",
    "kcenterDoublingTws" -> "its twin is a JVM replica of KcenterDoubling.step (Round15hSpec)")

  test("every public graft.streaming keyed-state operator has a twin row or an exemption") {
    val stateCall = """\.(?:transformWithState|mapGroupsWithState|flatMapGroupsWithState)\b""".r
    val defLine = """^  (private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    val keyed = new java.io.File("src/main/scala/graft/streaming").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
        var owner = Option.empty[String]
        scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.mkString)
          .replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")
          .split("\n").toSeq.flatMap { line =>
            line match {
              case defLine(priv, name) => owner = Option.when(priv == null)(name)
              case _ =>
            }
            owner.filter(_ => stateCall.findFirstIn(line).isDefined)
          }
      }.toSet
    val rows = twins.map(_.operator).toSet
    assert(keyed -- rows -- twinExempt.keySet === Set.empty[String],
      "keyed-state operators with no twin row and no exemption")
    assert(twinExempt.keySet -- keyed === Set.empty[String], "stale exemptions")
    assert((twinExempt.keySet & rows) === Set.empty[String], "exempt operators with a row")
  }
}
