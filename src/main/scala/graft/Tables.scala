package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types

/** Shared table loaders + determinism helpers.
  *
  * Loading contract (SURVEY.md §1.2-1.3, FIXTURES.md):
  *   - All fixture tables are single parquet files under `$dir/<name>.parquet`.
  *   - Time columns are plain parquet `timestamp[us]` without UTC
  *     adjustment, which Spark 4 reads as TIMESTAMP_NTZ — normalized here
  *     by casting to session-zone TimestampType (the repo-wide UTC session
  *     makes that cast wall-clock identity, and `tools/check.py` pins
  *     DuckDB to UTC too), so every downstream operator keeps seeing the
  *     TimestampType it was built against. A `timestamp[ns]` column is
  *     refused by the parquet reader (`PARQUET_TYPE_ILLEGAL`) rather than
  *     read as something else.
  *
  * Determinism contract (SURVEY.md §7.5): double aggregation order differs
  * between Spark's partial aggregation and DuckDB's single-threaded fold, so
  * raw `sum(double)` hash-mismatches the oracle. Every declared query sums
  * money/value doubles through `dsum`/`davg`: cast each input to
  * DECIMAL(18,6) (deterministic half-up rounding in both engines), sum
  * exactly in decimal, cast the final sum back to double (deterministic
  * nearest-double). The oracle SQL mirrors the same shape:
  * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Cast any TIMESTAMP_NTZ column to session-zone TimestampType (see the
    * loading contract above — identity wall clock under the UTC session). */
  private def tsNorm(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == types.TimestampNTZType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast("timestamp")))

  /** events with `ts` normalized to TimestampType (µs), exact DuckDB parity. */
  def events(spark: SparkSession, dir: String): DataFrame =
    tsNorm(table(spark, dir, "events"))

  // NOTE (round 17, measured): fanout does NOT belong in these loaders.
  // Wrapping lineitem/orders in fanout regressed every probe key
  // (rev_hhi_parts 1.51→2.03 s, tpch_q21 1.44→2.14, tpch_q18 1.02→1.57,
  // agg_pricing_summary 0.49→0.72, join_orders_customer 0.72→0.95 at
  // sf0.1): the raw-row exchange costs more than the single-task
  // map-side work it parallelizes at these row counts. fanout is applied
  // per operator where the per-row compute is the measured cost.
  def lineitem(spark: SparkSession, dir: String): DataFrame = tsNorm(table(spark, dir, "lineitem"))
  def orders(spark: SparkSession, dir: String): DataFrame = tsNorm(table(spark, dir, "orders"))
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Scan-stage parallelism for compute-heavy row-local operators
    * (round-17 optimization, guide §2.5 "input skew"). Spark derives
    * scan task count from file SPLITS; the fixture tables are single
    * row-group parquet files, so every scan — and with it all per-row
    * work up to the first exchange (codec kernels, tokenization,
    * hashing) — runs in ONE task regardless of core count (measured:
    * mm_video_scene_cut 3.9 s at local[32] ≈ the single-thread kernel
    * cost). `fanout` round-robin-repartitions to the session's
    * parallelism so those stages use the machine; it never SHRINKS a
    * frame that already has more partitions (at production scale, file
    * splits supply the parallelism and this is the identity). Apply it
    * only where per-row compute is the measured cost — it buys nothing
    * on scan-cheap relational paths and would add one (tiny) exchange. */
  def fanout(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // plan-time split count from the UNOPTIMIZED physical plan: a
    // `.rdd`-based probe was measured re-materializing AQE query stages
    // on every call (mm_frame_sample 0.7 → 8.1 s across three suite
    // runs); `sparkPlan` only plans. Scans report their file-split
    // count; anything unknown (0) is treated as narrow and spread.
    val known = try df.queryExecution.sparkPlan.outputPartitioning.numPartitions
      catch { case _: Throwable => 0 }
    if (known >= p) df else df.repartition(p)
  }

  /** Keyed repartition pinned at the session's full compute width
    * (round 18). `repartition(col)` alone plans a REPARTITION_BY_COL
    * exchange, which AQE coalesces by INPUT bytes — the stage probe
    * showed the butterfly wedge join running its 12.5M-row explosion
    * on 8 tasks because the 7 MB edge frame coalesced (the round-17
    * comment assumed keyed repartitions were coalesce-exempt; they are
    * not). An explicit partition count (REPARTITION_BY_NUM) is never
    * coalesced, and `defaultParallelism` tracks the session's compute
    * width at any cluster size — the right grain for a compute-bound
    * explosion whose input bytes mislead AQE. */
  def keyWidth(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, cols: _*)

  // ---- float-determinism helpers (see scaladoc above) ----

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Deterministic average: exact decimal sum, then double division. */
  def davg(c: Column): Column = dsum(c) / count(c).cast("double")

  /** Deterministic average of an integral column. */
  def lavg(c: Column): Column = sum(c).cast("double") / count(c).cast("double")

  // ---- portable 48-bit hash (Spark ⋄ DuckDB ⋄ JVM) ----
  // h48(s) = first 12 hex chars of md5(s) as an integer. Both engines have
  // md5; the hex→int fold is exact 48-bit integer arithmetic. Powers
  // MinHash / SimHash / fingerprint / LSH operators with oracle parity
  // (Spark's xxhash64 has no DuckDB twin — SURVEY.md §7.5.3).

  /** Column form: 48-bit integer hash of a string column. */
  def h48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** JVM twin of [[h48]] for mapPartitions-side code; bit-identical. */
  def h48jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
  }

  /** Driver-side collect with an explicit cap — the ONLY sanctioned
    * `collect()` on a query path (CollectGuardSpec greps the source tree
    * for strays). `limit(max+1)` bounds the transfer itself, so an
    * oversized input fails loudly here instead of OOMing the driver at
    * warehouse scale. */
  def boundedCollect[T](ds: org.apache.spark.sql.Dataset[T], maxRows: Int,
      what: String): Array[T] = {
    val rows = ds.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$what exceeds the driver-collect cap ($maxRows rows) — " +
        "use the banded/bucketed scale path instead of the brute baseline")
    rows
  }

  /** Capped collect that reports overflow instead of throwing — for
    * hybrid operators that fall back to a distributed path when the
    * frame is too big for the driver. ONE job replaces the previous
    * size-probe `count()` + `boundedCollect` pair (each an eager job;
    * the iterative cluster keys paid the extra job-barrier latency on
    * every invocation). Same `limit(max+1)` transfer bound. */
  def collectWithin[T](ds: org.apache.spark.sql.Dataset[T],
      maxRows: Int): Option[Array[T]] = {
    val rows = ds.limit(maxRows + 1).collect()
    if (rows.length <= maxRows) Some(rows) else None
  }

  /** DuckDB SQL expression text equivalent to [[h48]] over expression `e`:
    * fold the 12 hex chars to a 48-bit int (DuckDB has no hex→int cast). */
  def h48Sql(e: String): String =
    // lambda var deliberately obscure: callers embed this inside their own
    // lambdas (e.g. over a dimension index i) and must not be shadowed
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1,13), hx_i -> " +
      s"CAST(strpos('0123456789abcdef', substr(md5($e),hx_i,1)) - 1 AS BIGINT))), " +
      s"(hx_a,hx_b) -> hx_a*16 + hx_b)"

  /** DuckDB text for `events.ts`. The column is TIMESTAMP_NS there; the
    * CAST truncates to µs exactly like [[events]]' read (FIXTURES.md
    * loading contract). */
  val evTs = "CAST(ts AS TIMESTAMP)"

  /** DuckDB twin of [[dsum]]. */
  def dsumSql(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,6))) AS DOUBLE)"

  /** DuckDB twin of [[davg]], parenthesised so it composes as one term. */
  def davgSql(e: String): String = s"(${dsumSql(e)} / CAST(COUNT($e) AS DOUBLE))"

  /** DuckDB twin of `ArrayMath.dotProduct` over the first `dims` elements
    * of two FLOAT[] embeddings: doubles, index order. */
  def dotSql(a: String, b: String, dims: Int = 64): String =
    s"list_sum(list_transform(range(1,${dims + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** DuckDB sum of squares of the list `a`; `normSql`, its root, twins `ArrayMath.l2Norm`. */
  def sumSqSql(a: String): String = s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
  def normSql(a: String): String = s"sqrt(${sumSqSql(a)})"

  /** The L2 norm of the first `dims` elements of `a` (a matryoshka prefix). */
  def normSql(a: String, dims: Int): String = s"sqrt(${dotSql(a, a, dims)})"
}
