package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop batch workload: one client runs the named
  * `graft.SparkEntry.queries` back to back, each pass in a seeded order,
  * and times every query from the call that builds its DataFrame to the
  * collected digest of its output. */
object Batch {
  type Query = (SparkSession, String) => DataFrame

  private lazy val all = graft.SparkEntry.queries

  /** The fixture loaders of `graft.Tables`, timed directly once per pass. */
  val loaders: Seq[(String, Query)] = Seq(
    "region" -> graft.Tables.region _, "nation" -> graft.Tables.nation _,
    "supplier" -> graft.Tables.supplier _, "customer" -> graft.Tables.customer _,
    "part" -> graft.Tables.part _, "orders" -> graft.Tables.orders _,
    "lineitem" -> graft.Tables.lineitem _, "events" -> graft.Tables.events _,
    "documents" -> graft.Tables.documents _, "embeddings" -> graft.Tables.embeddings _)

  def loadAll(spark: SparkSession, dir: String): Unit = loaders.foreach(_._2(spark, dir).schema)

  /** One query sample. `digest` is empty when the query threw; `layers`
    * holds the per-layer readings of a traced sample. */
  final case class Sample(query: String, pass: Int, ms: Double, digest: String,
      error: String, layers: Map[String, Any])

  /** Runs `passes` passes over `names`, each in a seeded order; returns
    * the samples and, in a traced run, each pass's loader time in ms. A
    * fixed number of passes rather than a deadline keeps runs comparable:
    * the JIT is still speeding queries up pass by pass, so a run that fits
    * in an extra pass would read faster. */
  def run(spark: SparkSession, dir: String, names: Seq[String], seed: Long,
      passes: Int, trace: Trace, tally: Option[Tally]): (Seq[Sample], Seq[Double]) = {
    val samples = ArrayBuffer.empty[Sample]
    val loads = ArrayBuffer.empty[Double]
    for (pass <- 0 until passes) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      if (trace.on) loads += loaders.map { case (t, load) =>
        Env.timed(trace.span("tables.load", s"pass$pass/$t")(load(spark, dir).schema))._2
      }.sum
      order.foreach(name => samples += sample(spark, dir, name, pass, trace, tally))
    }
    (samples.toList, loads.toList)
  }

  /** Runs query `name` once; traced when `trace.on` (then `tally` is set). */
  def sample(spark: SparkSession, dir: String, name: String, pass: Int, trace: Trace,
      tally: Option[Tally]): Sample = {
    val fn = all(name)
    if (trace.on) traced(spark, dir, name, fn, pass, trace, tally.get)
    else plain(spark, dir, name, fn, pass)
  }

  private def plain(spark: SparkSession, dir: String, name: String, fn: Query,
      pass: Int): Sample = {
    val t0 = System.nanoTime()
    val (digest, error) =
      try (Digest.of(Digest.frame(fn(spark, dir))), "")
      catch { case e: Throwable => ("", e.getClass.getSimpleName + ": " + e.getMessage) }
    Sample(name, pass, (System.nanoTime() - t0) / 1e6, digest, error, Map.empty)
  }

  private def traced(spark: SparkSession, dir: String, name: String, fn: Query,
      pass: Int, trace: Trace, tally: Tally): Sample = {
    val sc = spark.sparkContext
    val req = s"$name#$pass"
    Bus.flush(sc)
    val c0 = tally.snapshot()
    val gc0 = Env.gcMs()
    val jit0 = Env.jitMs()
    var layers = Map.empty[String, Any]
    val t0 = System.nanoTime()
    val (digest, error) =
      try trace.span("query", req) {
        val (df, buildMs) = Env.timed(trace.span("ops.build", req)(fn(spark, dir)))
        Bus.flush(sc)
        val c1 = tally.snapshot()
        val dg = Digest.frame(df)
        val (_, planMs) = Env.timed(trace.span("plans.plan", req)(dg.queryExecution.executedPlan))
        val (d, runMs) = Env.timed(trace.span("exec.run", req)(Digest.of(dg)))
        Bus.flush(sc)
        val c2 = tally.snapshot()
        def phase(p: String): Double = Seq(df, dg)
          .flatMap(_.queryExecution.tracker.phases.get(p)).map(_.durationMs.toDouble).sum
        layers = Map(
          "build_ms" -> buildMs, "build_jobs" -> (c1 - c0).jobs,
          "plan_ms" -> planMs, "analysis_ms" -> phase("analysis"),
          "optimization_ms" -> phase("optimization"), "physical_ms" -> phase("planning"),
          "run_ms" -> runMs, "exec" -> (c2 - c1).toMap)
        (d, "")
      }
      catch { case e: Throwable => ("", e.getClass.getSimpleName + ": " + e.getMessage) }
    val ms = (System.nanoTime() - t0) / 1e6
    Sample(name, pass, ms, digest, error,
      layers ++ Map("gc_ms" -> (Env.gcMs() - gc0), "jit_ms" -> (Env.jitMs() - jit0)))
  }

  def toMap(s: Sample): Map[String, Any] = Map(
    "query" -> s.query, "pass" -> s.pass, "ms" -> s.ms, "digest" -> s.digest,
    "error" -> s.error, "layers" -> s.layers)
}
