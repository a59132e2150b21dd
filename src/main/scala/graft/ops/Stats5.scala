package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 continuation: multiple-testing control (Benjamini–Hochberg
  * step-up FDR over a family of drift tests) and distribution-free
  * uncertainty (split-conformal prediction interval for the daily
  * trend) — the two inference disciplines the stats family lacked:
  * everything so far tested ONE hypothesis at a time, and every
  * interval so far was model-based. */
object Stats5 {

  /** Two-sided z critical values for BH ranks 1..5 at α=0.05, m=5:
    * Φ⁻¹(1 − 0.05·i/(2·5)) — JVM-precomputed round-6 literals shared
    * verbatim with the oracle (the L252 Benford convention: no
    * cross-engine Φ), standard normal quantiles at p/2 = .005, .01,
    * .015, .02, .025. */
  private val BhCrit = Seq(2.575829, 2.326348, 2.17009, 2.053749, 1.959964)

  /** L384 — Benjamini–Hochberg step-up FDR over the per-event-type
    * odd-vs-even-day mean-shift family (Benjamini & Hochberg JRSS-B
    * 1995 — THE multiple-testing correction; running five drift tests
    * and flagging any |z| > 1.96 inflates the false-alarm rate to
    * 1−0.95⁵ ≈ 23%, which is exactly the mistake every per-segment
    * monitoring dashboard makes). Family: for each of the 5 event
    * types, a large-sample Welch z of mean value on odd vs even epoch
    * days — a clean A/A family by fixture construction, with a +30
    * shift PLANTED on purchase×odd-days (the L205 mutated-twin
    * pattern) so the discovery path fires. BH: sort |z| descending
    * (= p ascending), reject ranks 1..i* where i* is the LARGEST rank
    * with |z|₍ᵢ₎ ≥ crit(i); crit literals are JVM-precomputed normal
    * quantiles (no Φ in either engine). Arithmetic is the L274 Welch
    * contract (decimal sums, round-6 closed forms); the rank/step-up
    * pass is a window over the 5-row type panel. One conditional-agg
    * corpus scan at any scale. */
  def bhFdr(spark: SparkSession, dir: String): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000")
    val vMon = col("value") +
      when(col("event_type") === "purchase" && day % 2 === 1, lit(30.0))
        .otherwise(lit(0.0))
    val base = events(spark, dir)
      .select(col("event_type"), vMon.as("v"), (day % 2).as("par"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("par") === 1, 1L)).as("n_odd"),
        round(dsum(when(col("par") === 1, col("v"))), 6).as("s_1"),
        round(dsum(when(col("par") === 1, round(col("v") * col("v"), 6))), 6)
          .as("ss_1"),
        sum(when(col("par") === 0, 1L)).as("n_even"),
        round(dsum(when(col("par") === 0, col("v"))), 6).as("s_2"),
        round(dsum(when(col("par") === 0, round(col("v") * col("v"), 6))), 6)
          .as("ss_2"))
    def m(s: String, n: String) = round(col(s) / col(n).cast("double"), 6)
    def va(ss: String, s: String, n: String) = round(
      (col(ss) - col(s) * col(s) / col(n).cast("double")) /
        (col(n) - 1).cast("double"), 6)
    val z = base
      .withColumn("mean_odd", m("s_1", "n_odd"))
      .withColumn("mean_even", m("s_2", "n_even"))
      .withColumn("vn1", round(va("ss_1", "s_1", "n_odd") /
        col("n_odd").cast("double"), 6))
      .withColumn("vn2", round(va("ss_2", "s_2", "n_even") /
        col("n_even").cast("double"), 6))
      .withColumn("z", round((col("mean_odd") - col("mean_even")) /
        sqrt(col("vn1") + col("vn2")), 6))
    val wRank = Window.orderBy(abs(col("z")).desc, col("event_type"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    z.withColumn("rank", row_number().over(wRank).cast("long"))
      // loud family-size guard (round-16 ADVICE): the crit literals are
      // Φ⁻¹ quantiles FOR m=5 — a corpus with a sixth event type would
      // index past the array (ANSI throw) while the oracle's CASE
      // silently reused the rank-5 quantile; fail with the real reason
      // instead of either
      .withColumn("crit",
        when(col("rank") <= BhCrit.length,
          element_at(array(BhCrit.map(lit): _*), col("rank").cast("int")))
          .otherwise(raise_error(format_string(
            s"bh_fdr: family has more than ${BhCrit.length} event types " +
              "(rank %d) — the m=5 crit literals do not apply",
            col("rank"))).cast("double")))
      .withColumn("passes", abs(col("z")) >= col("crit"))
      .withColumn("cutoff",
        max(when(col("passes"), col("rank")).otherwise(0L)).over(wAll))
      .withColumn("rejected", col("rank") <= col("cutoff"))
      .select(col("event_type"), col("n_odd"), col("n_even"),
        col("mean_odd"), col("mean_even"), col("z"), col("rank"),
        col("crit"), col("rejected"))
      .orderBy("rank")
  }

  /** L385 — split-conformal prediction interval for the daily-revenue
    * trend (Vovk et al. 2005; Lei et al. JASA 2018 split form — the
    * DISTRIBUTION-FREE interval: pick q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    * calibration |residual| and ŷ ± q̂ covers ≥ 1−α for exchangeable
    * data, no normality anywhere — the honest upgrade to L225's
    * Gaussian error bars, which L296's Durbin–Watson already showed
    * can be overconfident here). Split by day parity: OLS trend fit on
    * ODD days (the L225 six-sums closed form, decimal-quantized),
    * calibrate on EVEN days; q̂ is an EXACT order statistic (no
    * interpolation — the conformal definition), located by
    * TakeOrdered(k) + max, never a global sort; empirical coverage is
    * then audited on the TRAIN split (held out from calibration).
    * Corpus cost: one daily aggregate, then everything is
    * calendar-bounded. */
  def conformalInterval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val alpha = 0.1
    val daily = events(spark, dir)
      .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
      .agg(round(dsum(col("value")), 6).as("y"))
      .withColumn("rn", row_number().over(Window.orderBy(col("day_us")))
        .cast("long"))
      .localCheckpoint()
    val train = daily.where(col("rn") % 2 === 1)
    val cal = daily.where(col("rn") % 2 === 0)
    val fitRow = train.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("rn")).cast("double").as("sx"),
        round(dsum(col("y")), 6).as("sy"),
        sum(col("rn") * col("rn")).cast("double").as("sxx"),
        round(dsum(round(col("rn").cast("double") * col("y"), 6)), 6)
          .as("sxy"))
      .select(
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        col("n"), col("sx"), col("sy"))
      .select(col("slope"),
        round((col("sy") - col("slope") * col("sx")) / col("n"), 6)
          .as("intercept"),
        col("n").cast("long").as("n_train"))
    val fit = broadcast(fitRow)
    def residual = round(abs(col("y") -
      (col("slope") * col("rn").cast("double") + col("intercept"))), 6)
    val calRes = cal.crossJoin(fit).select(col("rn"), residual.as("r"))
    val nCal = boundedCollect(calRes.agg(count(lit(1)).as("n")).as[Long],
      1, "conformal calibration count")(0)
    if (nCal == 0) // empty corpus → empty result (RobustnessSpec contract)
      return Seq.empty[(Long, Long, Double, Double, Double, Double, Double)]
        .toDF("n_train", "n_cal", "slope", "intercept", "q_hat",
          "coverage_train", "target")
    val k = math.ceil((nCal + 1) * (1.0 - alpha)).toInt
    require(k <= nCal, s"alpha=$alpha needs > ${k - 1} calibration days")
    val qHat = calRes.orderBy(col("r").asc, col("rn").asc).limit(k)
      .agg(max(col("r")).as("q_hat"))
    val trainRes = train.crossJoin(fit)
      .select(col("rn"), residual.as("r"))
      .crossJoin(broadcast(qHat))
    trainRes.agg(
        count(lit(1)).as("n_train"),
        sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L)).as("n_covered"),
        max(col("q_hat")).as("q_hat"))
      .crossJoin(fit.select(col("slope"), col("intercept")))
      .select(col("n_train"), lit(nCal).as("n_cal"), col("slope"),
        col("intercept"), col("q_hat"),
        round(col("n_covered").cast("double") /
          col("n_train").cast("double"), 6).as("coverage_train"),
        lit(0.9).as("target"))
  }

  val entries: Map[String, Op] = Map(
    "stats_bh_fdr" -> Op(bhFdr,
      s"""WITH ev AS (SELECT event_type,
             value + CASE WHEN event_type = 'purchase'
               AND (epoch_us($evTs) // 86400000000) % 2 = 1
               THEN 30.0 ELSE 0.0 END AS v,
             (epoch_us($evTs) // 86400000000) % 2 AS par
           FROM events),
         a AS (SELECT event_type,
             CAST(SUM(CASE WHEN par = 1 THEN 1 END) AS BIGINT) AS n_odd,
             round(${dsumSql("CASE WHEN par = 1 THEN v END")}, 6) AS s_1,
             round(${dsumSql("CASE WHEN par = 1 THEN round(v * v, 6) END")}, 6)
               AS ss_1,
             CAST(SUM(CASE WHEN par = 0 THEN 1 END) AS BIGINT) AS n_even,
             round(${dsumSql("CASE WHEN par = 0 THEN v END")}, 6) AS s_2,
             round(${dsumSql("CASE WHEN par = 0 THEN round(v * v, 6) END")}, 6)
               AS ss_2
           FROM ev GROUP BY 1),
         st AS (SELECT event_type, n_odd, n_even,
             round(s_1 / CAST(n_odd AS DOUBLE), 6) AS mean_odd,
             round(s_2 / CAST(n_even AS DOUBLE), 6) AS mean_even,
             round(round((ss_1 - s_1 * s_1 / CAST(n_odd AS DOUBLE))
               / CAST(n_odd - 1 AS DOUBLE), 6)
               / CAST(n_odd AS DOUBLE), 6) AS vn1,
             round(round((ss_2 - s_2 * s_2 / CAST(n_even AS DOUBLE))
               / CAST(n_even - 1 AS DOUBLE), 6)
               / CAST(n_even AS DOUBLE), 6) AS vn2
           FROM a),
         zz AS (SELECT event_type, n_odd, n_even, mean_odd, mean_even,
             round((mean_odd - mean_even) / sqrt(vn1 + vn2), 6) AS z
           FROM st),
         rk AS (SELECT *,
             CAST(ROW_NUMBER() OVER (ORDER BY abs(z) DESC, event_type)
               AS BIGINT) AS rank
           FROM zz),
         cr AS (SELECT *,
             CASE rank WHEN 1 THEN 2.575829 WHEN 2 THEN 2.326348
               WHEN 3 THEN 2.17009 WHEN 4 THEN 2.053749
               ELSE 1.959964 END AS crit
           FROM rk),
         cut AS (SELECT *,
             MAX(CASE WHEN abs(z) >= crit THEN rank ELSE 0 END) OVER ()
               AS cutoff
           FROM cr)
         SELECT event_type, n_odd, n_even, mean_odd, mean_even, z, rank,
           crit, rank <= cutoff AS rejected
         FROM cut ORDER BY rank"""),
    "ml_conformal_interval" -> Op(conformalInterval,
      s"""WITH daily AS (SELECT
             epoch_us(date_trunc('day', $evTs)) AS day_us,
             round(${dsumSql("value")}, 6) AS y
           FROM events GROUP BY 1),
         idx AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY day_us)
             AS BIGINT) AS rn
           FROM daily),
         train AS (SELECT * FROM idx WHERE rn % 2 = 1),
         cal AS (SELECT * FROM idx WHERE rn % 2 = 0),
         f0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(rn) AS DOUBLE) AS sx,
             round(${dsumSql("y")}, 6) AS sy,
             CAST(SUM(rn * rn) AS DOUBLE) AS sxx,
             round(${dsumSql("round(CAST(rn AS DOUBLE) * y, 6)")}, 6) AS sxy
           FROM train),
         f1 AS (SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS slope, n, sx, sy
           FROM f0),
         fit AS (SELECT slope,
             round((sy - slope * sx) / n, 6) AS intercept,
             CAST(n AS BIGINT) AS n_train
           FROM f1),
         calr AS (SELECT c.rn,
             round(abs(c.y - (f.slope * CAST(c.rn AS DOUBLE)
               + f.intercept)), 6) AS r
           FROM cal c, fit f),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM calr),
         kq AS (SELECT CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT) AS k, n_cal
           FROM nc),
         ranked AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r, rn) AS pos
           FROM calr),
         q AS (SELECT MAX(r) AS q_hat FROM ranked, kq WHERE pos <= k),
         tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train2,
             CAST(SUM(CASE WHEN round(abs(t.y - (f.slope
               * CAST(t.rn AS DOUBLE) + f.intercept)), 6) <= q.q_hat
               THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           FROM train t, fit f, q)
         SELECT f.n_train, kq.n_cal, f.slope, f.intercept, q.q_hat,
           round(CAST(tr.n_covered AS DOUBLE) / tr.n_train2, 6)
             AS coverage_train,
           0.9 AS target
         FROM fit f, kq, q, tr"""),
  )
}
