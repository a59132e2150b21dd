package perfbench

import org.apache.spark.sql.SparkSession

/** Harness entry point, launched once per benchmark run by perfbench/run.py.
  *
  * Modes:
  *  - `run`: run one workload and write its raw measurements (samples,
  *    set-up times, layer readings, correctness counts) as JSON to `--out`;
  *    run.py turns them into metrics.
  *  - `probe`: run every listed query (default: all of
  *    `graft.SparkEntry.queries`) once cold and once traced, printing one
  *    JSON line per query with its build/plan/exec split and digest. Used
  *    to choose the batch query sets and to record expected digests.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    new java.io.File(work).mkdirs()
    a.getOrElse("mode", "run") match {
      case "probe" => probe(a, work)
      case "run" =>
        val result = a("workload") match {
          case w if w.startsWith("batch_") => runBatch(a, work)
          case w if w.startsWith("stream_") => Stream.runWorkload(a, work)
          case w => sys.error(s"unknown workload $w")
        }
        val out = result ++ Map("peak_rss_mb" -> Env.peakRssMb(),
          "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
            .getInputArguments.toArray.mkString(" "))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json(out))
        Env.mark("written")
        // Results are on disk; skip Spark's orderly shutdown, which only
        // adds seconds to every run.
        Runtime.getRuntime.halt(0)
    }
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** Nominal length of one batch pass; `--seconds` buys this many passes. */
  val PassSeconds = 5.0

  def list(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** [[SetUps]] times: build a session and make it ready; all but the last
    * are stopped. Returns the last session and every set-up time in s. */
  def setUp(make: => SparkSession): (SparkSession, Seq[Double]) = {
    Env.mark("main")
    val times = (1 to SetUps).map { i =>
      val (s, ms) = Env.timed(make)
      if (i < SetUps) s.stop()
      (s, ms / 1e3)
    }
    (times.last._1, times.map(_._2))
  }

  private def runBatch(a: Map[String, String], work: String): Map[String, Any] = {
    val dir = a("fixture")
    val cores = a.getOrElse("cores", "4").toInt
    val seed = a("seed").toLong
    // a pass takes about PassSeconds on 4 cores, so this measures ~`seconds`
    val passes = math.max(1, math.ceil(a("seconds").toDouble / PassSeconds).toInt)
    val names = list(a("queries"))
    val traceOn = a.getOrElse("trace", "0") == "1"
    val (spark0, setupS) = setUp {
      val s = Env.session(cores, work)
      Batch.loadAll(s, dir)
      s
    }
    var spark = spark0
    Env.mark("set up")
    // One unmeasured pass: JIT and the generated-code cache, as a
    // long-lived session would have them.
    val (_, warmMs) = Env.timed(names.foreach(
      Batch.sample(spark, dir, _, -1, new Trace(false), None)))
    Env.mark("warmed")
    if (!traceOn) {
      val (samples, _) = Batch.run(spark, dir, names, seed, passes, new Trace(false), None)
      Map("setup_s" -> setupS, "samples" -> samples.map(Batch.toMap), "warm_ms" -> warmMs)
    } else {
      val trace = new Trace(true)
      val tally = new Tally
      spark.sparkContext.addSparkListener(tally)
      val (traced, loads) = Batch.run(spark, dir, names, seed, passes, trace, Some(tally))
      val skews = tally.stageSkews()
      spark.sparkContext.removeSparkListener(tally)
      trace.write(s"$work/spans.jsonl")
      val half = math.max(1, passes / 2)
      val (untraced, _) = Batch.run(spark, dir, names, seed, half, new Trace(false), None)
      spark.stop()
      spark = Env.session(1, work)
      val (single, _) = Batch.run(spark, dir, names, seed, half, new Trace(false), None)
      Map("setup_s" -> setupS, "samples" -> traced.map(Batch.toMap),
        "untraced" -> untraced.map(Batch.toMap), "single_core" -> single.map(Batch.toMap),
        "loads_ms" -> loads, "stage_skews" -> skews, "cores" -> cores, "warm_ms" -> warmMs)
    }
  }

  private def probe(a: Map[String, String], work: String): Unit = {
    val dir = a("fixture")
    val spark = Env.session(a.getOrElse("cores", "4").toInt, work)
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    val all = graft.SparkEntry.queries
    val names = a.get("queries").map(list).getOrElse(all.keys.toSeq.sorted)
    val trace = new Trace(true)
    names.foreach { n =>
      val cold = Batch.sample(spark, dir, n, 0, new Trace(false), None)
      val warm = Batch.sample(spark, dir, n, 1, trace, Some(tally))
      println(Json(Map("query" -> n, "cold_ms" -> cold.ms, "cold_digest" -> cold.digest)
        ++ Batch.toMap(warm)))
    }
  }
}
