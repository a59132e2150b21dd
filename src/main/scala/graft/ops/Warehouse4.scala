package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 warehouse batch: sequential anomaly detection (CUSUM),
  * series autocorrelation, incremental materialized-view maintenance,
  * and a PORTABLE mergeable HyperLogLog rollup — four patterns a
  * production warehouse leans on daily that were not yet §2 rows. */
object Warehouse4 {

  /** L216 — CUSUM change-point detection per event type (Page 1954, the
    * classic sequential control chart): S_t = max(0, S_{t−1} + x_t − k),
    * alarm when S_t > h. The recursion looks inherently sequential, but
    * the textbook prefix trick makes it two WINDOW passes: with
    * P_t = Σ_{i≤t}(x_i − k), S_t = P_t − min(0, min_{j≤t} P_j) — a
    * running decimal sum plus a running min, both key-partitioned
    * windows with no driver loop. 100 TB shape: each event type's chart
    * is one partition's sort — the same cost class as any per-key
    * sessionization; nothing crosses keys. Terms are round-6 decimals,
    * so every S_t is exact and the alarm set is bit-stable. Allowance
    * k = 55 (just above the global mean ≈ 50 — upward-shift tuning),
    * threshold h = 200. Output: per-type event count, alarm count, max
    * excursion, and first alarm time — alarm counts are nonzero on the
    * fixtures, so the alarm path is SEEN to fire (the L194 principle). */
  def cusumAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val k = 55.0; val h = 200.0
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPrefix = events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        round(col("value") - k, 6).cast("decimal(18,6)").as("term"))
      .withColumn("p", sum(col("term")).over(w))
    val wMin = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = withPrefix
      .withColumn("s",
        (col("p") - least(min(col("p")).over(wMin), lit(0).cast("decimal(18,6)")))
          .cast("double"))
    s.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("s") > h, 1L).otherwise(0L)).as("n_alarms"),
        round(max(col("s")), 6).as("max_s"),
        coalesce(unix_micros(min(when(col("s") > h, col("ts")))), lit(-1L))
          .as("first_alarm_us"))
      .orderBy("event_type")
  }

  /** L217 — lag-k AUTOCORRELATION of the hourly value series (the first
    * statistic any forecasting/seasonality analysis computes; lag 24 is
    * the daily-cycle probe). The series is densified over the global
    * hour span (1-row min/max agg → row-local sequence explode — no
    * cross join) and zero-filled, so lags are well-defined; r is
    * computed from six order-free decimal sums (n, Σx, Σy, Σxy, Σx²,
    * Σy²) via the one-pass product-moment formula — the 100 TB shape:
    * per-lag pair frames are window-shifted copies of the SAME hourly
    * aggregate (|hours| rows, corpus-independent), never a rescan. */
  def autocorrHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("bucket"), col("value"))
    val counts = ev.groupBy("bucket").agg(dsum(col("value")).as("v"))
    val dense = ev.agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 HOUR")))
        .as("bucket"))
    val series = dense.join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("v"), lit(0.0)).as("x"))
    val wOrd = Window.partitionBy(lit(1)).orderBy(col("bucket"))
    def acf(lag: Int): DataFrame =
      series.withColumn("y", lead(col("x"), lag).over(wOrd))
        .where(col("y").isNotNull)
        .agg(count(lit(1)).as("n_pairs"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          sum(round(col("x") * col("y"), 6).cast("decimal(18,6)"))
            .cast("double").as("sxy"),
          sum(round(col("x") * col("x"), 6).cast("decimal(18,6)"))
            .cast("double").as("sxx"),
          sum(round(col("y") * col("y"), 6).cast("decimal(18,6)"))
            .cast("double").as("syy"))
        .select(lit(lag).as("lag"), col("n_pairs"),
          round((col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n_pairs") * col("syy") - col("sy") * col("sy"))), 6)
            .as("r"))
    acf(1).unionByName(acf(24)).orderBy("lag")
  }

  /** L218 — INCREMENTAL materialized-view maintenance (the delta-refresh
    * contract every warehouse MV / streaming-agg checkpoint relies on):
    * the per-type (count, value-sum) view is refreshed by merging the
    * PRIOR snapshot (events before 2024-01-25) with the DELTA (the last
    * days) — a full-outer merge on the group key with coalesced partial
    * aggregates — and the query PROVES consistency in-plan by computing
    * the direct full aggregate beside it. 100 TB shape: refresh cost is
    * ∝ delta + |view| (both aggregates map-side combine; the merge join
    * is view-sized, not corpus-sized) vs ∝ corpus for the naive rebuild;
    * decimal sums make merged ≡ direct EXACT, not approximately so —
    * which is why the `consistent` bit can be asserted true. */
  def mvIncrementalUpdate(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-25").cast("timestamp")
    val ev = events(spark, dir).select(col("event_type"), col("ts"), col("value"))
    def view(df: DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("sv"))
    val base = view(ev.where(col("ts") < cut))
      .withColumnRenamed("n", "n_base").withColumnRenamed("sv", "sv_base")
    val delta = view(ev.where(col("ts") >= cut))
      .withColumnRenamed("n", "n_delta").withColumnRenamed("sv", "sv_delta")
    val merged = base.join(delta, Seq("event_type"), "full")
      .select(col("event_type"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
          .as("n_merged"),
        (coalesce(col("sv_base"), lit(0).cast("decimal(18,6)")) +
          coalesce(col("sv_delta"), lit(0).cast("decimal(18,6)")))
          .as("sv_merged"))
    val full = view(ev).select(col("event_type"), col("n").as("n_full"),
      col("sv").as("sv_full"))
    merged.join(full, Seq("event_type"), "full")
      .select(col("event_type"), col("n_base"), col("n_delta"), col("n_merged"),
        round(col("sv_merged").cast("double"), 6).as("sum_merged"),
        (col("n_merged") === col("n_full") &&
          col("sv_merged") === col("sv_full")).as("consistent"))
      .orderBy("event_type")
  }

  /** L219 — portable mergeable HYPERLOGLOG rollup (Flajolet et al. 2007),
    * the sketch-algebra pattern exact distinct counts can never follow:
    * per-DAY user sketches roll up to the WEEK by per-register max —
    * no re-scan of the week, constant state per group. Built portably on
    * [[graft.Tables.h48]] (m = 64 registers: idx = h mod 64, rho =
    * leading-zero rank of the remaining 42 bits), so DuckDB rebuilds
    * EVERY register bit-for-bit and the gate hashes the ESTIMATOR, not a
    * tolerance band — the same contract as the L193 KMV and L174
    * count-min sketches. Register terms 2^{−R} are exact dyadic doubles
    * (≤64 terms spanning 49 mantissa bits — order-free by exactness);
    * the ≤2.5m linear-counting branch fires at sf0.01 (≈150 users) and
    * the raw-estimate branch at sf0.1 (≈1500), so both regimes are
    * exercised. The exact side rides along per period purely to grade
    * the estimator (and feed the 3σ verdict); at 100 TB you would ship
    * only the 64-register state. */
  def hllMergeRollup(spark: SparkSession, dir: String): DataFrame = {
    val m = 64
    val dayUsers = events(spark, dir)
      .where(col("ts") < lit("2024-01-08").cast("timestamp"))
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      .distinct()
    // each (day, user) feeds its day sketch AND the week-union sketch
    val emitted = dayUsers
      .select(explode(array(col("day"), lit("week"))).as("period"), col("user_id"))
      .distinct()
    val h = h48(concat(lit("hll:"), col("user_id").cast("string")))
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division
    val hashed = emitted.select(col("period"), h.as("h"))
      .select(col("period"), (col("h") % m).as("idx"), expr("h div 64").as("w"))
    val rho = when(col("w") === 0, lit(43))
      .otherwise(lit(43) - length(conv(col("w"), 10, 2)))
    val regs = hashed.withColumn("rho", rho)
      .groupBy("period", "idx").agg(max(col("rho")).as("r"))
    val sketch = regs.groupBy("period")
      .agg(count(lit(1)).as("n_present"),
        sum(lit(1.0) / expr("shiftleft(1L, r)").cast("double")).as("z_present"))
      .select(col("period"), col("n_present"),
        (col("z_present") + (lit(m) - col("n_present")).cast("double")).as("z"),
        (lit(m) - col("n_present")).as("v"))
    val alpha = 0.709 // α_64 (Flajolet et al. 2007, m = 64)
    val eRaw = lit(alpha * m * m) / col("z")
    val est = round(when(eRaw <= 2.5 * m && col("v") > 0,
      lit(m.toDouble) * log(lit(m).cast("double") / col("v").cast("double")))
      .otherwise(eRaw), 6)
    val exact = emitted.groupBy("period").agg(count(lit(1)).as("exact_distinct"))
    sketch.join(exact, "period")
      .select(col("period"), col("n_present"), col("exact_distinct"),
        est.as("hll_est"),
        (abs(est - col("exact_distinct").cast("double")) <=
          lit(3.0 * 1.04 / math.sqrt(m)) * col("exact_distinct").cast("double"))
          .as("within_3sigma"))
      .orderBy("period")
  }

  /** L221 — WEIGHTED reservoir sampling (Efraimidis & Spirakis 2006,
    * algorithm A-ES): each order draws u ∈ (0,1] from the portable h48
    * hash and competes with key ln(u)/w (the log form of u^{1/w}, same
    * order) — the top-k by key IS an exact weighted-without-replacement
    * sample, fully deterministic and re-derivable (the property that
    * makes hash-seeded A-ES the standard for reproducible corpus
    * subsampling). 100 TB shape: the key is row-local and the top-k is
    * a TakeOrdered (per-partition heaps, no global sort shuffle — the
    * F2/L4 contract). Keys are ×10⁶-scaled and round-9 so both engines
    * rank identical numbers; ties (measure-zero) break by id. The
    * sample provably skews to heavy weights — the spec grades sample
    * mean weight ≫ population mean. */
  def weightedReservoir(spark: SparkSession, dir: String): DataFrame = {
    val k = 50
    val o = orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val u = (h48(concat(lit("res:"), col("o_orderkey").cast("string"))) + 1)
      .cast("double") / lit(math.pow(2.0, 48))
    o.withColumn("key",
        round(log(u) * 1e6 / col("o_totalprice"), 9))
      .orderBy(col("key").desc, col("o_orderkey").asc)
      .limit(k)
      .select(col("o_orderkey"), col("o_totalprice"), col("key"))
  }

  val entries: Map[String, Op] = Map(
    "sample_weighted_reservoir" -> Op(weightedReservoir, {
      val h = h48Sql("'res:' || CAST(o_orderkey AS VARCHAR)")
      s"""SELECT o_orderkey, o_totalprice,
           round(ln((($h) + 1) / ${math.pow(2.0, 48)}) * 1e6 / o_totalprice, 9)
             AS key
         FROM orders
         ORDER BY key DESC, o_orderkey ASC LIMIT 50"""
    }),
    "anomaly_cusum" -> Op(cusumAnomaly,
      s"""WITH t AS (SELECT event_type, $evTs AS ts, event_id,
             CAST(round(value - 55.0, 6) AS DECIMAL(18,6)) AS term
           FROM events),
         p AS (SELECT event_type, ts, event_id,
             SUM(term) OVER (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS p
           FROM t),
         s AS (SELECT event_type, ts,
             CAST(p - LEAST(MIN(p) OVER (PARTITION BY event_type
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING),
               CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS s
           FROM p)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN s > 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
           round(MAX(s), 6) AS max_s,
           COALESCE(CAST(epoch_us(MIN(CASE WHEN s > 200.0 THEN ts END))
             AS BIGINT), -1) AS first_alarm_us
         FROM s GROUP BY event_type ORDER BY event_type"""),
    "ts_autocorr_hourly" -> Op(autocorrHourly,
      s"""WITH ev AS (SELECT date_trunc('hour', $evTs) AS bucket, value FROM events),
         counts AS (SELECT bucket, ${dsumSql("value")} AS v FROM ev GROUP BY 1),
         bounds AS (SELECT MIN(bucket) AS mn, MAX(bucket) AS mx FROM ev),
         dense AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
           FROM bounds),
         series AS (SELECT d.bucket, COALESCE(c.v, 0.0) AS x
           FROM dense d LEFT JOIN counts c ON d.bucket = c.bucket),
         l AS (SELECT 1 AS lag, x,
             LEAD(x, 1) OVER (ORDER BY bucket) AS y FROM series
           UNION ALL
           SELECT 24, x, LEAD(x, 24) OVER (ORDER BY bucket) FROM series),
         agg AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             ${dsumSql("x")} AS sx, ${dsumSql("y")} AS sy,
             ${dsumSql("round(x * y, 6)")} AS sxy,
             ${dsumSql("round(x * x, 6)")} AS sxx,
             ${dsumSql("round(y * y, 6)")} AS syy
           FROM l WHERE y IS NOT NULL GROUP BY lag)
         SELECT lag, n_pairs,
           round((n_pairs * sxy - sx * sy) /
             (sqrt(n_pairs * sxx - sx * sx) * sqrt(n_pairs * syy - sy * sy)), 6)
             AS r
         FROM agg ORDER BY lag"""),
    "mv_incremental_update" -> Op(mvIncrementalUpdate,
      s"""WITH ev AS (SELECT event_type, $evTs AS ts, value FROM events),
         base AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_base,
             SUM(CAST(value AS DECIMAL(18,6))) AS sv_base
           FROM ev WHERE ts < TIMESTAMP '2024-01-25' GROUP BY 1),
         delta AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_delta,
             SUM(CAST(value AS DECIMAL(18,6))) AS sv_delta
           FROM ev WHERE ts >= TIMESTAMP '2024-01-25' GROUP BY 1),
         merged AS (SELECT COALESCE(b.event_type, d.event_type) AS event_type,
             COALESCE(n_base, 0) AS n_base, COALESCE(n_delta, 0) AS n_delta,
             COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_merged,
             COALESCE(sv_base, 0) + COALESCE(sv_delta, 0) AS sv_merged
           FROM base b FULL JOIN delta d ON b.event_type = d.event_type),
         fullv AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_full,
             SUM(CAST(value AS DECIMAL(18,6))) AS sv_full
           FROM ev GROUP BY 1)
         SELECT m.event_type, m.n_base, m.n_delta, m.n_merged,
           round(CAST(m.sv_merged AS DOUBLE), 6) AS sum_merged,
           m.n_merged = f.n_full AND m.sv_merged = f.sv_full AS consistent
         FROM merged m FULL JOIN fullv f ON m.event_type = f.event_type
         ORDER BY m.event_type"""),
    "agg_hll_merge_rollup" -> Op(hllMergeRollup, {
      val h = h48Sql("'hll:' || CAST(user_id AS VARCHAR)")
      s"""WITH du AS (SELECT DISTINCT strftime($evTs, '%Y-%m-%d') AS day, user_id
           FROM events WHERE $evTs < TIMESTAMP '2024-01-08'),
         em AS (SELECT DISTINCT unnest([day, 'week']) AS period, user_id FROM du),
         hashed AS (SELECT period, h % 64 AS idx, h // 64 AS w
           FROM (SELECT period, $h AS h FROM em)),
         rho AS (SELECT period, idx,
             CASE WHEN w = 0 THEN 43
               ELSE 43 - length(format('{:b}', w)) END AS rho
           FROM hashed),
         regs AS (SELECT period, idx, MAX(rho) AS r FROM rho GROUP BY 1, 2),
         sk AS (SELECT period, CAST(COUNT(*) AS BIGINT) AS n_present,
             SUM(1.0 / CAST(1::BIGINT << r AS DOUBLE))
               + CAST(64 - COUNT(*) AS DOUBLE) AS z,
             64 - COUNT(*) AS v
           FROM regs GROUP BY 1),
         ex AS (SELECT period, CAST(COUNT(*) AS BIGINT) AS exact_distinct
           FROM em GROUP BY 1),
         est AS (SELECT s.period, s.n_present, e.exact_distinct,
             round(CASE WHEN (0.709 * 64 * 64) / s.z <= 160.0 AND s.v > 0
               THEN 64.0 * ln(64.0 / CAST(s.v AS DOUBLE))
               ELSE (0.709 * 64 * 64) / s.z END, 6) AS hll_est
           FROM sk s JOIN ex e ON s.period = e.period)
         SELECT period, n_present, exact_distinct, hll_est,
           abs(hll_est - CAST(exact_distinct AS DOUBLE)) <=
             ${3.0 * 1.04 / 8.0} * CAST(exact_distinct AS DOUBLE) AS within_3sigma
         FROM est ORDER BY period"""
    }),
  )
}
