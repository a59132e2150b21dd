package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 continuation: the seasonal completion of the recursive
  * forecasting family (L287 Holt is level+trend; Holt–Winters adds the
  * seasonal state Winters 1960 introduced), its standard evaluation
  * statistic (MASE — Hyndman & Koehler 2006), and a sequential
  * change-detection monitor (Page–Hinkley) whose statistic is
  * closed-form in prefix sums, so unlike Holt it needs NO recursion —
  * the whole monitor is windows over the calendar-bounded hourly
  * frame. */
object Stats4 {

  /** The calendar-bounded daily micro series (the L287 frame). */
  private[ops] def dailyMicros(spark: SparkSession, dir: String): Array[(Long, Long)] = {
    import spark.implicits._
    boundedCollect(
      events(spark, dir)
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg((sum(col("value").cast("decimal(18,6)")) * 1000000)
          .cast("long").as("y_micro"))
        .orderBy("day_us")
        .as[(Long, Long)],
      4000, "daily micro frame (calendar-bounded)")
  }

  private[graft] case class HwRow(rn: Long, day_us: Long, actual: Double,
    level: Double, trend: Double, seasonal: Double,
    forecast: Option[Double], abs_err: Option[Double])

  /** Additive Holt–Winters in INTEGER MICRO-UNITS with α=1/2, β=γ=1/4
    * and FLOOR halvings/quarterings — the L287 exactness contract
    * extended with the weekly (period 7) seasonal ring:
    *   l_t = ⌊(y_t − s_{t−7} + l_{t−1} + b_{t−1})/2⌋
    *   b_t = ⌊(l_t − l_{t−1} + 3b_{t−1})/4⌋
    *   s_t = ⌊(y_t − l_t + 3s_{t−7})/4⌋
    * Init (documented convention): l₀ = ⌊Σ_{1..7} y / 7⌋ (integer div),
    * b₀ = 0, s_i = y_i − l₀ for the first week; recursion from day 8;
    * one-step forecast f_t = l_{t−1} + b_{t−1} + s_{t−7}. Every state
    * is an exact 64-bit integer, so the driver fold and the oracle's
    * WITH RECURSIVE list-carrying twin agree bit-for-bit. */
  private[graft] def hwFold(daily: Array[(Long, Long)]): Seq[HwRow] = {
    require(daily.length >= 8,
      s"holt-winters needs >= 8 days, got ${daily.length}")
    val l0 = daily.take(7).map(_._2).sum / 7
    val ring = collection.mutable.Queue(
      daily.take(7).map(_._2 - l0).toIndexedSeq: _*)
    val head = daily.take(7).zipWithIndex.map { case ((d, y), i) =>
      HwRow(i + 1L, d, round6(y / 1e6), round6(l0 / 1e6), 0.0,
        round6((y - l0) / 1e6), None, None)
    }
    var l = l0
    var b = 0L
    val tail = daily.drop(7).zipWithIndex.map { case ((d, y), i) =>
      val s7 = ring.dequeue()
      val fc = l + b + s7
      val lNew = math.floor((y - s7 + l + b) / 2.0).toLong
      val bNew = math.floor((lNew - l + 3 * b) / 4.0).toLong
      val sNew = math.floor((y - lNew + 3 * s7) / 4.0).toLong
      ring.enqueue(sNew)
      l = lNew; b = bNew
      HwRow(i + 8L, d, round6(y / 1e6), round6(lNew / 1e6), round6(bNew / 1e6),
        round6(sNew / 1e6), Some(round6(fc / 1e6)),
        Some(round6(math.abs(y - fc) / 1e6)))
    }
    (head ++ tail).toSeq
  }

  /** L376 — additive Holt–Winters (triple exponential smoothing,
    * Winters Mgmt Sci 1960) of daily revenue with weekly seasonality —
    * the seasonal model L287's Holt cannot express (its forecasts lag
    * every day-of-week swing; the seasonal ring absorbs them). Scale:
    * the corpus collapses ONCE to the calendar-bounded daily frame
    * (≤4 000 rows at any corpus size), the sequential fold runs on the
    * driver through the sanctioned bounded-collect tier — the L287
    * decision (its measured recursive-CTE alternative pays ~30 fixed
    * per-iteration scheduling costs), with the seasonal ring riding
    * the same fold. */
  def holtWintersDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = dailyMicros(spark, dir)
    // empty corpus → empty result (RobustnessSpec contract); a corpus
    // with 1-7 days is a genuine misuse and hwFold stays loud
    val rows = if (daily.isEmpty) Seq.empty[HwRow] else hwFold(daily)
    rows.toDF("rn", "day_us", "actual", "level", "trend", "seasonal",
      "forecast", "abs_err")
  }

  /** L377 — MASE forecast backtest (Hyndman & Koehler IJF 2006 — the
    * scale-free forecast-accuracy statistic: model MAE over the
    * in-sample seasonal-naive MAE, so MASE < 1 means "beats the
    * no-model baseline y_{t−7}"). Both MAEs fold over the SAME
    * forecastable range t ≥ 8 as exact micro integers; the means are
    * exact half-up integer-micro divisions; MASE is one double
    * division of those exact longs. The seasonal_naive row's MASE is
    * its own ratio (exactly 1.0) — the fixed point that anchors the
    * scale. Honest readout on the fixture: HW scores MASE ≈ 1.4 — on a
    * 30-day series with weak weekly structure the no-model baseline
    * wins, which is exactly the verdict this statistic exists to
    * surface (a backtest that always flattered its model would be the
    * dead-alarm antipattern). */
  def forecastMase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = dailyMicros(spark, dir)
    if (daily.isEmpty)
      return Seq.empty[(String, Long, Double, Double)]
        .toDF("model", "n_forecasts", "mae", "mase")
    val rows = hwFold(daily)
    val yByRn = daily.zipWithIndex.map { case ((_, y), i) => (i + 1L, y) }.toMap
    val hwErrs = rows.filter(_.rn >= 8).map { r =>
      math.round(r.abs_err.get * 1e6)
    }
    val nvErrs = (8L to daily.length.toLong).map { t =>
      math.abs(yByRn(t) - yByRn(t - 7))
    }
    def maeMicro(es: Seq[Long]): Long =
      (2 * es.sum + es.length) / (2 * es.length)
    val (maeHw, maeNv) = (maeMicro(hwErrs), maeMicro(nvErrs))
    require(maeNv > 0, "degenerate fixture: seasonal-naive MAE is zero")
    Seq(
      ("holt_winters", hwErrs.length.toLong, round6(maeHw / 1e6),
        round6(maeHw.toDouble / maeNv)),
      ("seasonal_naive", nvErrs.length.toLong, round6(maeNv / 1e6),
        round6(maeNv.toDouble / maeNv)))
      .toDF("model", "n_forecasts", "mae", "mase")
      .orderBy("model")
  }

  /** L378 — Page–Hinkley sequential change-point monitor (Page
    * Biometrika 1954; Hinkley 1971 — the drift detector streaming-ML
    * stacks like river/MOA run on model-quality series). The statistic
    * needs NO recursion: with S_t the prefix sum, the running mean is
    * x̄_t = S_t/t, m_t = Σ_{i≤t}(x_i − x̄_i − δ), and PH_t = m_t −
    * min_{i≤t} m_i — all prefix shapes, so the whole monitor is windows
    * over the calendar-bounded hourly frame (corpus scanned once by
    * the hourly aggregate at any scale). Exactness: running means are
    * exact half-up integer-micro divisions and δ = ⌊μ/4⌋ an exact
    * integer, so every m_t is an exact 64-bit integer in both engines.
    * The monitored series plants the drift (the L200 PSI twin
    * convention): the second half of the hour sequence is shifted up
    * by the first-half mean μ (a level double), so the alarm path is
    * SEEN to fire. Tuning is measured, not guessed: with δ = μ/4 the
    * pre-drift PH maximum is 5.2μ (sf0.001) / 2.7μ (sf0.01) while the
    * planted shift drives PH past any fixed multiple — λ = 12μ gives
    * ≥2.3× noise headroom and trips 15–20 hours after the boundary
    * (δ = 0 false-alarmed at 15.8μ on the sparse sf0.001 series —
    * Page's δ exists precisely to absorb that drift). Round15eSpec
    * pins silence before the boundary and the contiguous alarm suffix
    * after it. Output = the first 24 alarm rows. */
  def pageHinkley(spark: SparkSession, dir: String): DataFrame =
    pageHinkleyFrameMicro(spark, dir)
      .where(col("ph") > col("mu_micro") * 12)
      .orderBy("rn").limit(24)
      .select(col("rn"), col("bucket_us"), col("boundary_rn"),
        round(col("x_micro") / 1e6, 6).as("x"),
        round(col("x_mon") / 1e6, 6).as("x_mon"),
        round(col("mean_run") / 1e6, 6).as("mean_run"),
        round(col("ph") / 1e6, 6).as("ph"),
        round(col("mu_micro") * 12 / 1e6, 6).as("lambda"))

  /** The full PH frame in exact integer micros (every hour, pre-alarm
    * filter) — shared by [[pageHinkley]] and the twin-table row of
    * [[graft.streaming.Streams3.pageHinkleyTws]]. */
  private[graft] def pageHinkleyFrameMicro(spark: SparkSession,
      dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg((sum(col("value").cast("decimal(18,6)")) * 1000000)
        .cast("long").as("x_micro"))
    val w = Window.orderBy(col("bucket_us"))
    val idx = hourly
      .withColumn("rn", row_number().over(w).cast("long"))
    val nRow = idx.agg(count(lit(1)).as("n_hours"))
    val withN = idx.crossJoin(broadcast(nRow))
      .withColumn("boundary_rn", expr("n_hours div 2"))
    val mu = withN.where(col("rn") <= col("boundary_rn"))
      .agg(sum(col("x_micro")).as("s1"), count(lit(1)).as("n1"))
      .select(expr("(2 * s1 + n1) div (2 * n1)").as("mu_micro"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    withN.crossJoin(broadcast(mu))
      .withColumn("x_mon", col("x_micro") +
        when(col("rn") > col("boundary_rn"), col("mu_micro")).otherwise(0L))
      .withColumn("s_cum", sum(col("x_mon")).over(run))
      .withColumn("mean_run", expr("(2 * s_cum + rn) div (2 * rn)"))
      .withColumn("inc",
        col("x_mon") - col("mean_run") - expr("mu_micro div 4"))
      .withColumn("m", sum(col("inc")).over(run))
      .withColumn("m_min", min(col("m")).over(run))
      .withColumn("ph", col("m") - col("m_min"))
  }

  /** L388 — time-series matrix profile over the hourly series, m = 24
    * (Yeh et al. ICDM 2016 — the all-pairs z-normalized subsequence
    * nearest-neighbor profile whose minima are MOTIFS (Chiu et al. KDD
    * 2003) and maxima are DISCORDS (Keogh et al. ICDM 2005): one
    * structure answers "what repeats?" and "what never repeats?" —
    * the anomaly reading complements L224/L236/ESD, which all score
    * POINTS; a discord is an anomalous day-long SHAPE). Exactness:
    * subsequence stats and pair dot products fold through the decimal
    * lane with round-6 at every defined point; correlation and
    * d² = 2m(1−ρ) are closed forms over identical round-6 operands;
    * per-i nearest neighbor = min(struct(d2, j)) (tie → smaller j).
    * Scale: the corpus collapses ONCE to the calendar-bounded hourly
    * frame; the (i, j, k) pair expansion is bounded×bounded×m (the
    * stats_mann_kendall self-pair contract — never data-sized); the
    * element join keys on the m=24 offset lanes. Exclusion zone
    * |i−j| ≥ m (trivial-match rule). Output: top-3 motif pairs
    * (profile minima) and top-3 discords (profile maxima). */
  def matrixProfile(spark: SparkSession, dir: String): DataFrame = {
    val m = 24
    val hourly = events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(round(dsum(col("value")), 6).as("x"))
    val idx = hourly
      .withColumn("rn", row_number().over(Window.orderBy(col("bucket_us")))
        .cast("long"))
      .select(col("rn"), col("x"))
    val nRow = idx.agg(count(lit(1)).as("n_hours"))
    val el = idx.crossJoin(broadcast(nRow))
      .select(col("rn"), col("x"), col("n_hours"),
        explode(sequence(lit(0), lit(m - 1))).as("k"))
      .withColumn("i", col("rn") - col("k"))
      .where(col("i") >= 1 && col("i") <= col("n_hours") - (m - 1))
      .select(col("i"), col("k"), col("x"))
    val stats = el.groupBy(col("i"))
      .agg(round(dsum(col("x")), 6).as("s"),
        round(dsum(round(col("x") * col("x"), 6)), 6).as("ss"))
      .withColumn("mu", round(col("s") / m, 6))
      .withColumn("sigma", round(sqrt(greatest(lit(0.0),
        round(col("ss") / m - col("mu") * col("mu"), 6))), 6))
      .where(col("sigma") > 0.0)
      .select(col("i"), col("mu"), col("sigma"))
    // pair dot products by the STOMP diagonal decomposition (Zhu et al.
    // ICDM 2016): QT(i, i+d) = Σ_{t=i..i+m-1} x_t·x_{t+d} is a SLIDING
    // WINDOW SUM along diagonal d — one element-product frame (all
    // ordered time pairs, bounded²/2 rows) + one codegen'd per-diagonal
    // running window replaces any per-pair vector fold. Measured at
    // sf0.1: the first cut's (i,j,k) element-join agg took 30 s, a
    // zip_with/aggregate decimal lambda fold 6 s, this form ~2 s — the
    // lambda interpreter was the bottleneck, not the row count. The
    // window sums in DECIMAL (exact, order-free) so sxy equals the
    // oracle's decimal sum of the same rounded products bit-for-bit.
    val prods = idx.join(
        broadcast(idx.select(col("rn").as("rn2"), col("x").as("x2"))),
        col("rn2") > col("rn"))
      .select(col("rn").as("i"), (col("rn2") - col("rn")).as("diag"),
        round(col("x") * col("x2"), 6).cast("decimal(18,6)").as("p"))
    val wDiag = Window.partitionBy(col("diag")).orderBy(col("i"))
      .rowsBetween(0, m - 1)
    val pairs = prods
      .withColumn("n_win", count(lit(1)).over(wDiag))
      .withColumn("sxy", round(sum(col("p")).over(wDiag)
        .cast("double"), 6))
      .where(col("n_win") === m && col("diag") >= m)
      .select(col("i"), (col("i") + col("diag")).as("j"), col("sxy"))
      .join(broadcast(stats), Seq("i"))
      .join(broadcast(stats.select(col("i").as("j"), col("mu").as("mu2"),
        col("sigma").as("sigma2"))), Seq("j"))
      .withColumn("corr",
        round((col("sxy") - lit(m) * col("mu") * col("mu2")) /
          (lit(m) * col("sigma") * col("sigma2")), 6))
      .withColumn("d2", round(lit(2.0 * m) * (lit(1.0) - col("corr")), 6))
      .select(col("i"), col("j"), col("d2"))
      // the flipped union below reads this twice — materialize the
      // fold once (i < j pair grain, bounded)
      .localCheckpoint()
    val both = pairs.unionByName(
      pairs.select(col("j").as("i"), col("i").as("j"), col("d2")))
    // materialize once: the motif and discord branches (and the final
    // union) would otherwise each re-execute the whole pair-fold
    // lineage — the 462-node plan this checkpoint collapses
    val profile = both.groupBy(col("i"))
      .agg(min(struct(col("d2"), col("j"))).as("nn"))
      .select(col("i").as("i_sub"), col("nn.j").as("j_sub"),
        col("nn.d2").as("d2"))
      .localCheckpoint()
    val motifs = profile.orderBy(col("d2").asc, col("i_sub").asc).limit(3)
      .withColumn("kind", lit("motif"))
    val discords = profile.orderBy(col("d2").desc, col("i_sub").asc).limit(3)
      .withColumn("kind", lit("discord"))
    val wKind = Window.partitionBy(col("kind")).orderBy(
      when(col("kind") === "motif", col("d2")).otherwise(-col("d2")),
      col("i_sub"))
    motifs.unionByName(discords)
      .withColumn("rank", row_number().over(wKind).cast("long"))
      .select(col("kind"), col("rank"), col("i_sub"), col("j_sub"),
        col("d2"))
      .orderBy("kind", "rank")
  }

  /** Oracle twin of [[dailyMicros]], numbered: `dr(day_us, y_micro, rn)`. */
  private[ops] def dailyMicrosSql: String =
    s"""daily AS (SELECT
           epoch_us(date_trunc('day', $evTs)) AS day_us,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             AS y_micro
         FROM events GROUP BY 1),
       dr AS (SELECT *, ROW_NUMBER() OVER (ORDER BY day_us) AS rn
         FROM daily)"""

  /** Shared WITH RECURSIVE prefix for the Holt–Winters twin: the
    * seasonal ring rides the recursion as a 7-element LIST column
    * (s[1] = s_{t−7}; each step drops the head and appends s_t). */
  private def hwCte: String =
    s"""WITH RECURSIVE $dailyMicrosSql,
       init AS (SELECT CAST(SUM(y_micro) // 7 AS BIGINT) AS l0
         FROM dr WHERE rn <= 7),
       sinit AS (SELECT list(y_micro - l0 ORDER BY rn) AS s
         FROM dr, init WHERE rn <= 7),
       hw(rn, y, l, b, seas, fc, s) AS (
         SELECT CAST(7 AS BIGINT), CAST(NULL AS BIGINT), l0,
           CAST(0 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), s
         FROM init, sinit
         UNION ALL
         SELECT d.rn, d.y_micro,
           CAST(FLOOR((d.y_micro - h.s[1] + h.l + h.b) / 2.0) AS BIGINT),
           CAST(FLOOR((CAST(FLOOR((d.y_micro - h.s[1] + h.l + h.b) / 2.0)
             AS BIGINT) - h.l + 3 * h.b) / 4.0) AS BIGINT),
           CAST(FLOOR((d.y_micro - CAST(FLOOR((d.y_micro - h.s[1] + h.l
             + h.b) / 2.0) AS BIGINT) + 3 * h.s[1]) / 4.0) AS BIGINT),
           h.l + h.b + h.s[1],
           h.s[2:7] || [CAST(FLOOR((d.y_micro - CAST(FLOOR((d.y_micro
             - h.s[1] + h.l + h.b) / 2.0) AS BIGINT) + 3 * h.s[1]) / 4.0)
             AS BIGINT)]
         FROM hw h JOIN dr d ON d.rn = h.rn + 1)"""

  val entries: Map[String, Op] = Map(
    "ts_holt_winters" -> Op(holtWintersDaily,
      s"""$hwCte
         SELECT rn, day_us, actual, level, trend, seasonal, forecast,
           abs_err FROM (
           SELECT d.rn, d.day_us, round(d.y_micro / 1e6, 6) AS actual,
             round(i.l0 / 1e6, 6) AS level, 0.0 AS trend,
             round((d.y_micro - i.l0) / 1e6, 6) AS seasonal,
             CAST(NULL AS DOUBLE) AS forecast,
             CAST(NULL AS DOUBLE) AS abs_err
           FROM dr d, init i WHERE d.rn <= 7
           UNION ALL
           SELECT h.rn, d.day_us, round(h.y / 1e6, 6),
             round(h.l / 1e6, 6), round(h.b / 1e6, 6),
             round(h.seas / 1e6, 6), round(h.fc / 1e6, 6),
             round(abs(h.y - h.fc) / 1e6, 6)
           FROM hw h JOIN dr d ON d.rn = h.rn WHERE h.rn >= 8)
         ORDER BY rn"""),
    "ts_forecast_mase" -> Op(forecastMase,
      s"""$hwCte,
         err AS (SELECT abs(y - fc) AS e FROM hw WHERE rn >= 8),
         nv AS (SELECT abs(d.y_micro - p.y_micro) AS e
           FROM dr d JOIN dr p ON p.rn = d.rn - 7 WHERE d.rn >= 8),
         mh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             (2 * CAST(SUM(e) AS BIGINT) + COUNT(*)) // (2 * COUNT(*))
               AS mae_m
           FROM err),
         mn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             (2 * CAST(SUM(e) AS BIGINT) + COUNT(*)) // (2 * COUNT(*))
               AS mae_m
           FROM nv)
         SELECT model, n_forecasts, mae, mase FROM (
           SELECT 'holt_winters' AS model, mh.n AS n_forecasts,
             round(mh.mae_m / 1e6, 6) AS mae,
             round(CAST(mh.mae_m AS DOUBLE) / mn.mae_m, 6) AS mase
           FROM mh, mn
           UNION ALL
           SELECT 'seasonal_naive', mn.n, round(mn.mae_m / 1e6, 6),
             round(CAST(mn.mae_m AS DOUBLE) / mn.mae_m, 6)
           FROM mn)
         ORDER BY model"""),
    "ts_matrix_profile" -> Op(matrixProfile,
      s"""WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', $evTs)) AS bucket_us,
             round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS x
           FROM events GROUP BY 1),
         idx AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY bucket_us)
             AS BIGINT) AS rn, x
           FROM hourly),
         nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM idx),
         el AS (SELECT idx.rn - ks.k AS i, ks.k, idx.x
           FROM idx, nh, (SELECT unnest(range(0, 24)) AS k) ks
           WHERE idx.rn - ks.k >= 1 AND idx.rn - ks.k <= nh.n_hours - 23),
         sums AS (SELECT i,
             round(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE), 6) AS s,
             round(CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(18,6)))
               AS DOUBLE), 6) AS ss
           FROM el GROUP BY 1),
         mus AS (SELECT i, s, ss, round(s / 24, 6) AS mu FROM sums),
         sig AS (SELECT i, mu,
             round(sqrt(greatest(0.0, round(ss / 24 - mu * mu, 6))), 6)
               AS sigma
           FROM mus),
         stats AS (SELECT i, mu, sigma FROM sig WHERE sigma > 0.0),
         prs AS (SELECT a.i, b.i AS j,
             round(CAST(SUM(CAST(round(a.x * b.x, 6) AS DECIMAL(18,6)))
               AS DOUBLE), 6) AS sxy
           FROM el a JOIN el b ON a.k = b.k AND b.i - a.i >= 24
           GROUP BY 1, 2),
         d AS (SELECT p.i, p.j,
             round(48.0 * (1.0 - round((p.sxy - 24 * sa.mu * sb.mu)
               / (24 * sa.sigma * sb.sigma), 6)), 6) AS d2
           FROM prs p
           JOIN stats sa ON p.i = sa.i
           JOIN stats sb ON p.j = sb.i),
         bidir AS (SELECT i, j, d2 FROM d
           UNION ALL SELECT j AS i, i AS j, d2 FROM d),
         prof AS (SELECT i AS i_sub, j AS j_sub, d2,
             ROW_NUMBER() OVER (PARTITION BY i ORDER BY d2, j) AS rr
           FROM bidir),
         p1 AS (SELECT i_sub, j_sub, d2 FROM prof WHERE rr = 1),
         mot AS (SELECT 'motif' AS kind,
             CAST(ROW_NUMBER() OVER (ORDER BY d2 ASC, i_sub ASC)
               AS BIGINT) AS rank, i_sub, j_sub, d2
           FROM p1 ORDER BY d2 ASC, i_sub ASC LIMIT 3),
         dis AS (SELECT 'discord' AS kind,
             CAST(ROW_NUMBER() OVER (ORDER BY d2 DESC, i_sub ASC)
               AS BIGINT) AS rank, i_sub, j_sub, d2
           FROM p1 ORDER BY d2 DESC, i_sub ASC LIMIT 3)
         SELECT kind, rank, i_sub, j_sub, d2 FROM mot
         UNION ALL SELECT kind, rank, i_sub, j_sub, d2 FROM dis
         ORDER BY kind, rank"""),
    "drift_page_hinkley" -> Op(pageHinkley,
      s"""WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', $evTs)) AS bucket_us,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
               AS x_micro
           FROM events GROUP BY 1),
         idx AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY bucket_us)
             AS BIGINT) AS rn
           FROM hourly),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) // 2 AS boundary_rn
           FROM idx),
         mu AS (SELECT (2 * CAST(SUM(x_micro) AS BIGINT) + COUNT(*))
               // (2 * COUNT(*)) AS mu_micro
           FROM idx, n WHERE rn <= boundary_rn),
         mon AS (SELECT idx.*, n.boundary_rn, mu.mu_micro,
             x_micro + CASE WHEN rn > boundary_rn THEN mu_micro
               ELSE 0 END AS x_mon
           FROM idx, n, mu),
         run AS (SELECT *,
             CAST((2 * SUM(x_mon) OVER (ORDER BY rn) + rn) // (2 * rn)
               AS BIGINT) AS mean_run
           FROM mon),
         acc AS (SELECT *,
             SUM(x_mon - mean_run - mu_micro // 4) OVER (ORDER BY rn) AS m
           FROM run),
         ph0 AS (SELECT *,
             m - MIN(m) OVER (ORDER BY rn) AS ph
           FROM acc)
         SELECT rn, bucket_us, boundary_rn,
           round(x_micro / 1e6, 6) AS x,
           round(x_mon / 1e6, 6) AS x_mon,
           round(mean_run / 1e6, 6) AS mean_run,
           round(ph / 1e6, 6) AS ph,
           round(mu_micro * 12 / 1e6, 6) AS lambda
         FROM ph0 WHERE ph > mu_micro * 12
         ORDER BY rn LIMIT 24"""),
  )
}
