package perfbench

import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.Streams
import graft.streaming.Streams.{Event, UserTotals}

/** Open-loop streaming workloads. One generator thread sends events on a
  * fixed schedule (a warm-up phase, then a ladder of rates) into a
  * `MemoryStream` in 5 ms increments; the query under test is
  * `Streams.userTotalsTws` (`stream_keyed_state`) or
  * `Streams.foreachBatchUpsert` keyed on `user_id` (`stream_cdc_upsert`).
  * Each batch's completion time and source offsets come from
  * `StreamingQueryProgress`; run.py turns them into per-event latency and
  * backlog series. At the end the emitted per-user totals, or the final
  * upsert table, are compared with ground truth kept by the generator. */
object Stream {
  val TickNs: Long = 5000000L

  /** One constant-rate stretch of the schedule. */
  final case class Phase(name: String, rate: Double, seconds: Double)

  /** Sends `Event(i, due_i, user, type, value)` for i = 0, 1, ... where
    * due_i follows the phase rates back to back. Users follow a Zipf law
    * over a seeded permutation of `users` ids; values are multiples of 1/4,
    * so per-user sums are exact in any order. */
  final class Generator(users: Int, zipf: Double, seed: Long, phases: Seq[Phase],
      sink: Seq[Event] => Unit) extends Thread("perfbench-generator") {
    setDaemon(true)
    private val rng = new java.util.SplittableRandom(seed)
    private val perm = {
      val p = Array.tabulate(users)(i => i.toLong)
      for (i <- users - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    private val cdf = {
      val w = Array.tabulate(users)(r => 1.0 / math.pow(r + 1.0, zipf))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val types = Array("click", "error", "purchase", "signup", "view")
    val truthN = new Array[Long](users)
    val truthSum = new Array[Double](users)
    val truthLast = Array.fill(users)(-1L)
    /** (epoch ms when sent, events sent so far), one entry per chunk. */
    val chunks = ArrayBuffer.empty[(Double, Long)]
    /** (name, rate, start epoch ms, first event index, event count). */
    val bounds = ArrayBuffer.empty[(String, Double, Double, Long, Long)]
    @volatile var lagMsMax = 0.0
    private var epoch0Ms = 0.0
    private var nano0 = 0L

    def epochMs(nano: Long): Double = epoch0Ms + (nano - nano0) / 1e6

    def sent: Long = synchronized(chunks.lastOption.map(_._2).getOrElse(0L))

    private def user(): Long = {
      val u = rng.nextDouble()
      var lo = 0; var hi = users - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      perm(lo)
    }

    override def run(): Unit = {
      nano0 = System.nanoTime()
      epoch0Ms = System.currentTimeMillis().toDouble
      var next = 0L
      var start = nano0
      for (ph <- phases) {
        val n = (ph.rate * ph.seconds).toLong
        val first = next
        synchronized(bounds += ((ph.name, ph.rate, epochMs(start), first, n)))
        def dueNs(i: Long): Long = start + ((i - first) * 1e9 / ph.rate).toLong
        while (next < first + n) {
          val now = System.nanoTime()
          val upTo = math.min(first + n, first + ((now - start) * ph.rate / 1e9).toLong + 1)
          if (upTo > next) {
            val chunk = new ArrayBuffer[Event]((upTo - next).toInt)
            var i = next
            while (i < upTo) {
              val u = user()
              val v = (rng.nextInt(400) + 1) / 4.0
              val dueUs = (epochMs(dueNs(i)) * 1000).toLong
              val ts = new Timestamp(dueUs / 1000)
              ts.setNanos(((dueUs % 1000000) * 1000).toInt)
              chunk += Event(i, ts, u, types(rng.nextInt(types.length)), v)
              truthN(u.toInt) += 1; truthSum(u.toInt) += v; truthLast(u.toInt) = i
              i += 1
            }
            lagMsMax = math.max(lagMsMax, (now - dueNs(next)) / 1e6)
            sink(chunk.toSeq)
            next = upTo
            synchronized(chunks += ((epochMs(System.nanoTime()), next)))
          }
          LockSupport.parkNanos(TickNs)
        }
        start = start + (n * 1e9 / ph.rate).toLong
      }
    }
  }

  /** Collects every progress report of the running queries. */
  final class Progress extends StreamingQueryListener {
    val reports = ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(reports += e.progress)
    def take(id: java.util.UUID): Seq[StreamingQueryProgress] =
      synchronized(reports.filter(_.id == id).toList)
  }

  /** A started query, how to read back what it emitted, the time in ms
    * the `Streams` call that built it took, and the time in ms the
    * harness's own sink spent delivering each batch's output. */
  final case class Running(ms: MemoryStream[Event], query: StreamingQuery,
      check: Generator => (Long, Map[String, Any]), buildMs: Double,
      sinkMs: java.util.concurrent.ConcurrentHashMap[Long, Double])

  def start(spark: SparkSession, workload: String, cores: Int, dir: String): Running = {
    val ms = MemoryStream[Event](spark, cores)(Encoders.product[Event])
    val sinkMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    new java.io.File(dir).mkdirs()
    workload match {
      case "stream_keyed_state" =>
        val totals = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()
        val (ds, buildMs) = Env.timed(Streams.userTotalsTws(ms.toDS()))
        val q = ds.writeStream.outputMode("update")
          .option("checkpointLocation", s"$dir/checkpoint")
          .foreachBatch { (ds: Dataset[UserTotals], id: Long) =>
            val rows = ds.collect()
            val (_, ms) = Env.timed(rows.foreach(t => totals.put(t.user_id, (t.n, t.sum_value))))
            sinkMs.put(id, ms); ()
          }.start()
        Running(ms, q, g => checkTotals(g, totals), buildMs, sinkMs)
      case "stream_cdc_upsert" =>
        val table = s"$dir/table"
        val (writer, buildMs) = Env.timed(
          Streams.foreachBatchUpsert(ms.toDF(), table, Seq("user_id"), "ts"))
        val q = writer.option("checkpointLocation", s"$dir/checkpoint").start()
        Running(ms, q, g => checkTable(spark, g, table), buildMs, sinkMs)
      case w => sys.error(s"unknown workload $w")
    }
  }

  /** Lost or duplicated events per user, plus users whose sum is off. */
  private def checkTotals(g: Generator,
      got: java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]): (Long, Map[String, Any]) = {
    var bad = 0L
    var wrongSums = 0L
    for (u <- g.truthN.indices if g.truthN(u) > 0) {
      val (n, s) = Option(got.get(u.toLong)).getOrElse((0L, 0.0))
      bad += math.abs(n - g.truthN(u))
      if (n == g.truthN(u) && s != g.truthSum(u)) wrongSums += 1
    }
    val extra = got.keySet().toArray.count(k => g.truthN(k.asInstanceOf[Long].toInt) == 0)
    (bad + wrongSums + extra, Map("users" -> g.truthN.count(_ > 0), "emitted_users" -> got.size,
      "lost_or_duplicated" -> bad, "wrong_sums" -> wrongSums, "table_rows" -> 0L))
  }

  /** Users whose row in the final table is missing, duplicated or stale. */
  private def checkTable(spark: SparkSession, g: Generator, table: String): (Long, Map[String, Any]) = {
    val rows = spark.read.parquet(table).select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byUser = rows.groupBy(_._1)
    var bad = 0L
    for (u <- g.truthLast.indices if g.truthLast(u) >= 0) {
      byUser.get(u.toLong) match {
        case Some(Array((_, id))) if id == g.truthLast(u) => ()
        case _ => bad += 1
      }
    }
    val extra = byUser.keys.count(u => u < 0 || u >= g.truthLast.length || g.truthLast(u.toInt) < 0)
    (bad + extra, Map("users" -> g.truthLast.count(_ >= 0), "table_rows" -> rows.length.toLong,
      "stale_or_missing" -> bad))
  }

  /** Runs `phases` through a fresh query and returns the raw record. */
  def measure(spark: SparkSession, workload: String, cores: Int, dir: String,
      users: Int, zipf: Double, seed: Long, phases: Seq[Phase], progress: Progress,
      trace: Trace, tally: Option[Tally]): Map[String, Any] = {
    Env.rmrf(new java.io.File(dir))
    val run = start(spark, workload, cores, dir)
    Env.mark("query started")
    val gen = new Generator(users, zipf, seed, phases, chunk => run.ms.addData(chunk))
    val c0 = tally.map { t => Bus.flush(spark.sparkContext); t.snapshot() }
    val (gc0, jit0) = (Env.gcMs(), Env.jitMs())
    gen.start()
    gen.join()
    Env.mark("generator done")
    val (_, drainMs) = Env.timed(run.query.processAllAvailable())
    run.query.stop()
    Env.mark("drained and stopped")
    val c1 = tally.map { t => Bus.flush(spark.sparkContext); t.snapshot() }
    val (gcMs, jitMs) = (Env.gcMs() - gc0, Env.jitMs() - jit0)
    val (failed, check) = run.check(gen)
    Env.mark("checked")
    val reports = progress.take(run.query.id)
    if (trace.on) reports.foreach(spans(trace, gen, _))
    Map(
      "attempted" -> gen.sent, "failed" -> failed, "check" -> check,
      "phases" -> gen.bounds.map { case (n, r, t, f, c) =>
        Map("name" -> n, "rate" -> r, "start_ms" -> t, "first" -> f, "count" -> c) },
      "chunks" -> gen.chunks.map { case (t, n) => Seq(t, n) },
      "batches" -> reports.map(p => batch(p) + ("sink_ms" -> run.sinkMs.getOrDefault(p.batchId, 0.0))),
      "gen_lag_ms_max" -> gen.lagMsMax, "drain_ms" -> drainMs, "build_ms" -> run.buildMs,
      "gc_ms" -> gcMs, "jit_ms" -> jitMs,
      "exec" -> (for (a <- c0; b <- c1) yield (b - a).toMap).getOrElse(Map.empty))
  }

  /** Spans of one micro-batch, rebuilt from its progress report: the batch
    * (request `batch<id>`) and one child per timed phase, laid end to end
    * in the order the engine runs them. */
  private def spans(trace: Trace, gen: Generator, p: StreamingQueryProgress): Unit = {
    import scala.jdk.CollectionConverters._
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    def ns(ms: Double): Long = ((ms - gen.epochMs(0L)) * 1e6).toLong
    val req = s"batch${p.batchId}"
    val root = trace.add("streaming.batch", req, 0L, ns(startMs),
      ns(startMs + d.getOrElse("triggerExecution", 0L)))
    var at = startMs
    for (k <- Seq("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch",
        "commitOffsets") if d.contains(k)) {
      trace.add(s"streaming.$k", req, root, ns(at), ns(at + d(k)))
      at += d(k)
    }
  }

  private def offset(s: String): Long =
    if (s == null || s == "null" || s.isEmpty) -1L else s.trim.toLong

  private def batch(p: StreamingQueryProgress): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val src = p.sources.head
    val state = p.stateOperators.headOption
    Map(
      "id" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
      "rows" -> p.numInputRows,
      "start_offset" -> offset(src.startOffset), "end_offset" -> offset(src.endOffset),
      "state" -> state.map { s =>
        Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
          "mem_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
          "update_ms" -> s.allUpdatesTimeMs,
          "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue })
      }.getOrElse(Map.empty))
  }

  def runWorkload(a: Map[String, String], work: String): Map[String, Any] = {
    val workload = a("workload")
    val cores = a.getOrElse("cores", "4").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val users = a("users").toInt
    val zipf = a("zipf").toDouble
    def pairs(key: String) = Main.list(a(key)).map(_.split(":") match {
      case Array(r, x) => (r.toDouble, x.toDouble) })
    // --warmup rate:seconds,... runs first; --rungs rate:share,... splits
    // `seconds` between the ladder's rungs
    val phases = pairs("warmup").zipWithIndex.map { case ((r, s), i) => Phase(s"warmup$i", r, s) } ++
      pairs("rungs").zipWithIndex.map { case ((r, f), i) => Phase(s"rung$i", r, seconds * f) }
    val traceOn = a.getOrElse("trace", "0") == "1"
    val progress = new Progress
    var n = 0
    val (spark0, setupS) = Main.setUp {
      val s = Env.session(cores, work)
      s.streams.addListener(progress)
      n += 1
      val dir = s"$work/setup$n"
      Env.rmrf(new java.io.File(dir))
      val r = start(s, workload, cores, dir)
      r.ms.addData((0 until 100).map(i => Event(i, new Timestamp(0L), i, "click", 1.0)))
      r.query.processAllAvailable()
      r.query.stop()
      s
    }
    var spark = spark0
    Env.mark("set up")
    val off = new Trace(false)
    def go(s: SparkSession, c: Int, trace: Trace, tally: Option[Tally], tag: String,
        ph: Seq[Phase] = phases) =
      measure(s, workload, c, s"$work/$tag", users, zipf, seed, ph, progress, trace, tally)
    if (!traceOn) Map("setup_s" -> setupS, "run" -> go(spark, cores, off, None, "run"))
    else {
      val tally = new Tally
      val trace = new Trace(true)
      spark.sparkContext.addSparkListener(tally)
      val traced = go(spark, cores, trace, Some(tally), "traced")
      trace.write(s"$work/spans.jsonl")
      val skews = tally.stageSkews()
      spark.sparkContext.removeSparkListener(tally)
      // the comparison runs take half as long: their ladder, not the warm-up
      val half = phases.map(p => if (p.name.startsWith("rung")) p.copy(seconds = p.seconds / 2) else p)
      val untraced = go(spark, cores, off, None, "untraced", half)
      spark.stop()
      spark = Env.session(1, work)
      spark.streams.addListener(progress)
      val single = go(spark, 1, off, None, "single", half)
      Map("setup_s" -> setupS, "run" -> traced, "untraced" -> untraced,
        "single_core" -> single, "stage_skews" -> skews, "cores" -> cores)
    }
  }
}
