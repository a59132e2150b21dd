package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 warehouse batch III: frequent 3-itemsets, hour-of-day
  * percentile bands, and the end-to-end pretraining-data funnel. */
object Warehouse6 {

  /** L291 — frequent 3-itemset mining over order baskets (one rung up
    * from L204's pairwise lift: the triple level is where "bundle"
    * recommendations actually come from, and the level at which naive
    * candidate generation first explodes). Same scale contract as the
    * L204/L220 basket trick: triples are generated ROW-LOCALLY from
    * each order's sorted distinct-part array — per-order work C(k,3)
    * bounded by basket size, never a three-way corpus self-join — then
    * one triple-keyed support count. Support ≥ 2, top-15 by (support,
    * triple). */
  def basketTopTriples(spark: SparkSession, dir: String): DataFrame = {
    val triples = lineitem(spark, dir)
      // explicit o-exchange (round 17): AQE coalesces the basket agg by
      // input bytes while the triple explosion below is C(k,3)-fold —
      // pin full parallelism (Tables.keyWidth, round 18: bare keyed
      // repartitions DO get AQE-coalesced); the groupBy reuses this exchange
      .transform(graft.Tables.keyWidth(_, col("l_orderkey")))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(flatten(expr(
        """transform(ps, (a, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1), (b, j) ->
               transform(slice(ps, i + j + 3, size(ps) - i - j - 2), c ->
                 struct(a AS pa, b AS pb, c AS pc))))""")))).as("t"))
    triples
      .groupBy(col("t.pa").as("part_a"), col("t.pb").as("part_b"),
        col("t.pc").as("part_c"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 2)
      .orderBy(col("support").desc, col("part_a"), col("part_b"), col("part_c"))
      .limit(15)
  }

  /** L292 — hour-of-day percentile BANDS of event value (p50/p90/p99 +
    * n per clock hour — the distributional widening of L187's
    * hour-of-day mean baseline: an alerting threshold set at the p99
    * band instead of mean+kσ survives non-Gaussian traffic). Exact
    * interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the L21 identity) over 24 bounded groups; one
    * map-side-combinable aggregate shuffle at any scale. */
  def hourlyPercentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("hod")

  /** L293 — the END-TO-END pretraining-data funnel (the composition a
    * real data pipeline runs nightly, emitted as the per-stage funnel
    * table every data-quality dashboard shows: raw → exact-dedup →
    * length gate → readability band → packed 4096-token windows). Each
    * stage reuses a family primitive (J1 hash dedup, L12-style length
    * gate, L283 Flesch–Kincaid band, L107 packing arithmetic); counts
    * are one conditional aggregate over the keeper frame, window
    * arithmetic in exact integers ((wc+4095) div 4096). The funnel
    * row set is POSITIVE evidence of every stage's effect — the
    * pct_of_prev column is the knob-tuning readout. */
  def e2ePipeline(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"))
    val wc = Llm9.wordCount
    val grade = Llm9.fkGrade
    val keepers = documents(spark, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("text"))
      .withColumn("wc", wc)
      .withColumn("len_ok", col("wc") >= 20 && col("wc") <= 10000)
      .withColumn("grade", grade)
      .withColumn("read_ok", col("grade") >= 2.0 && col("grade") <= 15.0)
    val agg = keepers.agg(
      count(lit(1)).as("n1"),
      sum(when(col("len_ok"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("len_ok") && col("read_ok"), 1L).otherwise(0L)).as("n3"),
      coalesce(sum(when(col("len_ok") && col("read_ok"),
        expr("(wc + 4095) div 4096"))), lit(0L)).as("n4"))
    val n0 = documents(spark, dir).agg(count(lit(1)).as("n0"))
    agg.crossJoin(broadcast(n0))
      .select(expr(
        """stack(5,
             0, 'raw_docs', n0, CAST(NULL AS BIGINT),
             1, 'exact_dedup', n1, n0,
             2, 'length_gate', n2, n1,
             3, 'readability_band', n3, n2,
             4, 'packed_windows_4096', n4, CAST(NULL AS BIGINT))
           AS (stage, label, n_units, prev)"""))
      .select(col("stage"), col("label"), col("n_units"),
        round(col("n_units").cast("double") / col("prev").cast("double"), 6)
          .as("pct_of_prev"))
      .orderBy("stage")
  }

  /** L298 — Markov removal-effect attribution (Anderl et al. 2016's
    * data-driven multi-touch model — the principled alternative to the
    * positional heuristics of L244/L281: build the journey transition
    * chain, ask "how much conversion disappears if channel c is
    * deleted?", and attribute in proportion). Journey grammar: per
    * user, a purchase closes a journey (absorbing 'conv'); a journey's
    * last non-purchase event leaks to 'null'; 'start' opens each
    * segment — all from TWO windows over one user-keyed shuffle, the
    * L281 segmentation trick. Transition probabilities are EXACT
    * INTEGER micros ((2n·10⁶+tot) div (2·tot), half-up with no double
    * anywhere); the absorbing-chain conversion probability runs 40
    * fixed-point iterations ENTIRELY in integer micro arithmetic
    * (term = (p·x + 5·10⁵) div 10⁶) — bit-identical in the JVM fold
    * (driver-side over the ≤|channels|² bounded chain, the L287 tier)
    * and the oracle's recursive CTE, without needing convergence for
    * parity: the emitted cvr is the DEFINED 40-step partial of the
    * monotone-from-zero quantized iteration (per-step tail < 5·10⁻⁵
    * here, Round11iSpec-bounded), so both engines agree exactly even
    * where the true fixed point lies further up the geometric tail. Removal scenarios re-route a channel's inbound edges to
    * 'null'; shares normalize the removal effects. */
  def markovRemoval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wPrev = wUser.rowsBetween(Window.unboundedPreceding, -1)
    val base = events(spark, dir)
      .withColumn("jid", coalesce(sum(when(col("event_type") === "purchase",
        1L).otherwise(0L)).over(wPrev), lit(0L)))
    val wJ = Window.partitionBy(col("user_id"), col("jid"))
      .orderBy(col("ts"), col("event_id"))
    val wJd = Window.partitionBy(col("user_id"), col("jid"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val stepped = base
      .withColumn("f", coalesce(lag(col("event_type"), 1).over(wJ),
        lit("start")))
      .withColumn("t", when(col("event_type") === "purchase", "conv")
        .otherwise(col("event_type")))
      .withColumn("last_rn", row_number().over(wJd))
    val steps = stepped.select(col("f"), col("t"))
    val terminals = stepped
      .where(col("last_rn") === 1 && col("event_type") =!= "purchase")
      .select(col("event_type").as("f"), lit("null").as("t"))
    val wFrom = Window.partitionBy(col("f"))
    val trans = steps.unionAll(terminals)
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(wFrom))
      .withColumn("pm", expr("(2 * n * 1000000 + tot) div (2 * tot)"))
      .select(col("f"), col("t"), col("pm"))
    val tr = graft.Tables.boundedCollect(
      trans.as[(String, String, Long)], 1000,
      "markov transition chain (|channels|^2-bounded)")
    val channels = tr.map(_._2).filter(c => c != "conv" && c != "null")
      .distinct.sorted
    def solve(removed: Option[String]): Long = {
      val edges = tr.map { case (f, t, pm) =>
        (f, if (removed.contains(t)) "null" else t, pm) }
      val states = edges.map(_._1).distinct
      var x = states.map(_ -> 0L).toMap
      (1 to 40).foreach { _ =>
        x = states.map { s =>
          s -> edges.filter(_._1 == s).map { case (_, t, pm) =>
            val xv = if (t == "conv") 1000000L else if (t == "null") 0L
              else x.getOrElse(t, 0L)
            (pm * xv + 500000L) / 1000000L
          }.sum
        }.toMap
      }
      x.getOrElse("start", 0L)
    }
    val baseCvr = solve(None)
    val rows = channels.map { c =>
      val cvr = solve(Some(c))
      (c, round6(baseCvr / 1e6), round6(cvr / 1e6),
        round6(1.0 - cvr.toDouble / baseCvr.toDouble))
    }
    val totEffect = rows.map(r => BigDecimal.decimal(r._4)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    rows.map(r => (r._1, r._2, r._3, r._4, round6(r._4 / totEffect))).toSeq
      .toDF("channel", "cvr_base", "cvr_removed", "removal_effect",
        "attribution_share")
      .orderBy("channel")
  }

  /** L299 — seasonal and trend STRENGTH of the hourly revenue series
    * (Wang, Smith & Hyndman 2006: F_s = max(0, 1 − Var(R)/Var(S+R)),
    * F_t likewise against T+R — the two numbers that say whether
    * L236's decomposition actually FOUND structure, read before
    * trusting any seasonal forecast or L187 deseasonalized alert).
    * Reads the L236 decomposition frame (centered 25-hour trend,
    * full windows only; hour-of-day seasonal; residual), then
    * two-pass variances: round-6 means first, decimal sums of round-6
    * squared deviations second — small-magnitude casts only, the
    * L275 rule. Corpus cost: one hourly aggregate; everything after
    * is the calendar-bounded frame. */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = Warehouse5.hourlyDecomposition(spark, dir)
      .withColumnRenamed("resid", "r")
      .withColumn("sr", round(col("seasonal") + col("r"), 6))
      .withColumn("tr2", round(col("trend") + col("r"), 6))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val withMeans = Seq("r", "sr", "tr2").foldLeft(parts) { (df, c) =>
      df.withColumn(s"m_$c",
        round(sum(col(c).cast("decimal(18,6)")).over(wAll).cast("double")
          / count(lit(1)).over(wAll).cast("double"), 6))
    }
    val sums = withMeans.agg(
      count(lit(1)).as("n_hours"),
      sum(round((col("r") - col("m_r")) * (col("r") - col("m_r")), 6)
        .cast("decimal(18,6)")).cast("double").as("ss_r"),
      sum(round((col("sr") - col("m_sr")) * (col("sr") - col("m_sr")), 6)
        .cast("decimal(18,6)")).cast("double").as("ss_sr"),
      sum(round((col("tr2") - col("m_tr2")) * (col("tr2") - col("m_tr2")), 6)
        .cast("decimal(18,6)")).cast("double").as("ss_tr"))
    sums.select(col("n_hours"),
      round(col("ss_r") / col("n_hours").cast("double"), 6).as("var_resid"),
      round(col("ss_sr") / col("n_hours").cast("double"), 6)
        .as("var_seas_resid"),
      round(col("ss_tr") / col("n_hours").cast("double"), 6)
        .as("var_trend_resid"),
      round(greatest(lit(0.0), lit(1.0) - col("ss_r") / col("ss_sr")), 6)
        .as("seasonal_strength"),
      round(greatest(lit(0.0), lit(1.0) - col("ss_r") / col("ss_tr")), 6)
        .as("trend_strength"))
  }

  val entries: Map[String, Op] = Map(
    "ts_seasonal_strength" -> Op(seasonalStrength,
      s"""WITH hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS x
           FROM events GROUP BY 1),
         tw AS (SELECT *,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) OVER (ORDER BY bucket
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS DOUBLE) AS tsum,
             COUNT(*) OVER (ORDER BY bucket
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tn
           FROM hourly),
         tr AS (SELECT bucket, x,
             round(tsum / 25.0, 6) AS trend,
             round(x - round(tsum / 25.0, 6), 6) AS detr,
             hour(bucket) AS hod
           FROM tw WHERE tn = 25),
         se AS (SELECT hod, round(${dsumSql("detr")} / COUNT(detr), 6)
             AS seasonal
           FROM tr GROUP BY 1),
         parts AS (SELECT tr.*, seasonal,
             round(detr - seasonal, 6) AS r,
             round(seasonal + round(detr - seasonal, 6), 6) AS sr,
             round(trend + round(detr - seasonal, 6), 6) AS tr2
           FROM tr JOIN se USING (hod)),
         wm AS (SELECT *,
             round(${"CAST(SUM(CAST(r AS DECIMAL(18,6))) OVER () AS DOUBLE)"}
               / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS m_r,
             round(${"CAST(SUM(CAST(sr AS DECIMAL(18,6))) OVER () AS DOUBLE)"}
               / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS m_sr,
             round(${"CAST(SUM(CAST(tr2 AS DECIMAL(18,6))) OVER () AS DOUBLE)"}
               / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS m_tr2
           FROM parts),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
             ${dsumSql("round((r - m_r) * (r - m_r), 6)")} AS ss_r,
             ${dsumSql("round((sr - m_sr) * (sr - m_sr), 6)")} AS ss_sr,
             ${dsumSql("round((tr2 - m_tr2) * (tr2 - m_tr2), 6)")} AS ss_tr
           FROM wm)
         SELECT n_hours,
           round(ss_r / CAST(n_hours AS DOUBLE), 6) AS var_resid,
           round(ss_sr / CAST(n_hours AS DOUBLE), 6) AS var_seas_resid,
           round(ss_tr / CAST(n_hours AS DOUBLE), 6) AS var_trend_resid,
           round(GREATEST(0.0, 1.0 - ss_r / ss_sr), 6) AS seasonal_strength,
           round(GREATEST(0.0, 1.0 - ss_r / ss_tr), 6) AS trend_strength
         FROM s"""),
    "attribution_markov_removal" -> Op(markovRemoval,
      s"""WITH RECURSIVE base AS (
           SELECT user_id, $evTs AS tss, event_id, event_type,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY $evTs, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
           FROM events),
         st AS (SELECT *,
             COALESCE(LAG(event_type) OVER (PARTITION BY user_id, jid
               ORDER BY tss, event_id), 'start') AS f,
             CASE WHEN event_type = 'purchase' THEN 'conv'
               ELSE event_type END AS t,
             ROW_NUMBER() OVER (PARTITION BY user_id, jid
               ORDER BY tss DESC, event_id DESC) AS last_rn
           FROM base),
         tra AS (SELECT f, t FROM st
           UNION ALL SELECT event_type, 'null' FROM st
           WHERE last_rn = 1 AND event_type != 'purchase'),
         cnt AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
           FROM tra GROUP BY 1, 2),
         tr AS (SELECT f, t,
             (2 * n * 1000000 + SUM(n) OVER (PARTITION BY f))
               // (2 * SUM(n) OVER (PARTITION BY f)) AS pm
           FROM cnt),
         chans AS (SELECT DISTINCT t AS c FROM tr
           WHERE t NOT IN ('conv', 'null')),
         scen AS (SELECT 'base' AS scenario, f, t, pm FROM tr
           UNION ALL
           SELECT c.c, tr.f,
             CASE WHEN tr.t = c.c THEN 'null' ELSE tr.t END, pm
           FROM tr, chans c),
         states AS (SELECT DISTINCT scenario, f AS state FROM scen),
         it(iter, scenario, state, xm) AS (
           SELECT 0, scenario, state, CAST(0 AS BIGINT) FROM states
           UNION ALL
           SELECT it.iter + 1, it.scenario, s.f,
             CAST(SUM((s.pm * (CASE WHEN s.t = 'conv' THEN 1000000
                 WHEN s.t = 'null' THEN 0
                 ELSE COALESCE(x2.xm, 0) END) + 500000) // 1000000) AS BIGINT)
           FROM it JOIN scen s
             ON it.scenario = s.scenario AND it.state = s.f
           LEFT JOIN it x2
             ON x2.scenario = it.scenario AND x2.state = s.t
           WHERE it.iter < 40
           GROUP BY 1, 2, 3),
         fin AS (SELECT scenario, xm FROM it
           WHERE iter = 40 AND state = 'start'),
         eff AS (SELECT c.c AS channel,
             round(CAST(b.xm AS DOUBLE) / 1e6, 6) AS cvr_base,
             round(CAST(f.xm AS DOUBLE) / 1e6, 6) AS cvr_removed,
             round(1.0 - CAST(f.xm AS DOUBLE) / CAST(b.xm AS DOUBLE), 6)
               AS removal_effect
           FROM chans c JOIN fin f ON f.scenario = c.c,
             (SELECT xm FROM fin WHERE scenario = 'base') b),
         tot AS (SELECT CAST(SUM(CAST(removal_effect AS DECIMAL(18,6)))
             AS DOUBLE) AS te FROM eff)
         SELECT channel, cvr_base, cvr_removed, removal_effect,
           round(removal_effect / te, 6) AS attribution_share
         FROM eff, tot ORDER BY channel"""),
    "basket_top_triples" -> Op(basketTopTriples,
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem)
         SELECT a.p AS part_a, b.p AS part_b, c.p AS part_c,
           CAST(COUNT(*) AS BIGINT) AS support
         FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
           JOIN op c ON b.o = c.o AND b.p < c.p
         GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
         ORDER BY support DESC, part_a, part_b, part_c LIMIT 15"""),
    "ts_hourly_percentiles" -> Op(hourlyPercentiles,
      s"""SELECT hour($evTs) AS hod, CAST(COUNT(*) AS BIGINT) AS n,
         round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS p50,
         round(quantile_cont(CAST(value AS DOUBLE), 0.9), 6) AS p90,
         round(quantile_cont(CAST(value AS DOUBLE), 0.99), 6) AS p99
         FROM events GROUP BY 1 ORDER BY 1"""),
    "llm_e2e_pipeline" -> Op(e2ePipeline,
      """WITH k AS (SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
               ORDER BY doc_id) AS rn FROM documents)
           WHERE rn = 1),
         f AS (SELECT *,
             wc >= 20 AND wc <= 10000 AS len_ok,
             round(0.39 * round(CAST(wc AS DOUBLE)
                 / CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS DOUBLE), 6)
               + 11.8 * round(CAST(GREATEST(len(regexp_extract_all(lower(text),
                   '[aeiouy]+')), 1) AS DOUBLE)
                 / CAST(wc AS DOUBLE), 6)
               - 15.59, 6) AS grade
           FROM k),
         a AS (SELECT
             CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN len_ok AND grade >= 2.0 AND grade <= 15.0
               THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             COALESCE(CAST(SUM(CASE WHEN len_ok AND grade >= 2.0
                 AND grade <= 15.0 THEN (wc + 4095) // 4096 END) AS BIGINT), 0)
               AS n4
           FROM f),
         n0t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM documents),
         funnel AS (
           SELECT 0 AS stage, 'raw_docs' AS label, n0 AS n_units,
             CAST(NULL AS BIGINT) AS prev FROM n0t
           UNION ALL SELECT 1, 'exact_dedup', n1, n0 FROM a, n0t
           UNION ALL SELECT 2, 'length_gate', n2, n1 FROM a
           UNION ALL SELECT 3, 'readability_band', n3, n2 FROM a
           UNION ALL SELECT 4, 'packed_windows_4096', n4,
             CAST(NULL AS BIGINT) FROM a)
         SELECT stage, label, n_units,
           round(CAST(n_units AS DOUBLE) / CAST(prev AS DOUBLE), 6)
             AS pct_of_prev
         FROM funnel ORDER BY stage"""),
  )
}
