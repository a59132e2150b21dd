package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 arrival-process statistics. */
object Stats3 {

  /** L363 — burstiness and memory of the per-user arrival process, by
    * event type (Goh & Barabási EPL 2008 "Burstiness and memory in
    * complex systems": B = (σ−μ)/(σ+μ) over the inter-event-time
    * distribution — 0 for Poisson, →1 for bursty, <0 for
    * pacemaker-regular — and M = the Pearson correlation between
    * CONSECUTIVE gaps; the (B, M) pair is the standard two-axis map of
    * an arrival process, and the quantitative sequel to L332's
    * inter-arrival band table, which shows the distribution's shape
    * but not its correlation structure). Gaps come from one
    * (type, user)-keyed lag window in whole seconds (the L332
    * quantization — exact integer div), consecutive-gap pairs from one
    * more lead over the same key; moments are EXACT integer sums
    * (gap ≤ ~10⁶ s ⇒ gap² fits i64; sums decimal(38,0) — the
    * t-closeness overflow rule), converted to double once at the
    * closed form. Variances clamp at 0 before the sqrt (fp
    * cancellation must not NaN the gate) and both ratios NULL out on a
    * zero denominator identically in both engines. Everything is
    * map-combinable after the two keyed windows; output is
    * type-grain. */
  def burstinessMemory(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap",
        expr("(us - lag(us, 1) OVER (PARTITION BY event_type, user_id " +
          "ORDER BY us, event_id)) div 1000000"))
    val gaps = g.where(col("gap").isNotNull)
    val pairs = gaps
      .withColumn("nxt",
        expr("lead(gap, 1) OVER (PARTITION BY event_type, user_id " +
          "ORDER BY us, event_id)"))
      .where(col("nxt").isNotNull)
    def dsum38(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)")).cast("double")
    val bs = gaps.groupBy("event_type").agg(
      count(lit(1)).as("n_gaps"),
      dsum38(col("gap")).as("s1"),
      dsum38(col("gap") * col("gap")).as("s2"))
    val ms = pairs.groupBy("event_type").agg(
      count(lit(1)).as("n_pairs"),
      dsum38(col("gap")).as("mx"),
      dsum38(col("nxt")).as("my"),
      dsum38(col("gap") * col("nxt")).as("mxy"),
      dsum38(col("gap") * col("gap")).as("mxx"),
      dsum38(col("nxt") * col("nxt")).as("myy"))
    val mean = col("s1") / col("n_gaps")
    val sigma = sqrt(greatest(col("s2") / col("n_gaps") - mean * mean,
      lit(0.0)))
    val mDen = sqrt(
      greatest(col("n_pairs") * col("mxx") - col("mx") * col("mx"), lit(0.0)) *
        greatest(col("n_pairs") * col("myy") - col("my") * col("my"), lit(0.0)))
    bs.join(ms, Seq("event_type"), "left")
      .select(col("event_type"), col("n_gaps"), col("n_pairs"),
        round(mean, 6).as("mean_gap_s"),
        round(sigma, 6).as("sd_gap_s"),
        when(sigma + mean === 0.0, lit(null))
          .otherwise(round((sigma - mean) / (sigma + mean), 6))
          .as("burstiness"),
        when(mDen === 0.0, lit(null))
          .otherwise(round((col("n_pairs") * col("mxy") -
            col("mx") * col("my")) / mDen, 6))
          .as("memory"))
      .orderBy("event_type")
  }

  /** L371 — count-min sketch re-expressed RELATIONALLY at key grain
    * (Cormode & Muthukrishnan J.Alg 2005). The companion to L174's
    * `llm_cms_heavy_hitters`, which is the Expression-level form (a
    * custom `TypedImperativeAggregate` at token grain with its own
    * affine hash family): THIS one is the pure-DataFrame formulation —
    * counter cells as a group-by, estimates as a broadcast join — the
    * form a SQL-only engine ships, showing the sketch needs no custom
    * aggregate once the input is already key-grain.
    * Depth 4 × width 64 counters over
    * per-user event counts: counter(r, c) = Σ counts of users with
    * h48(r:user) mod 64 = c — one map-combinable agg over the
    * KEY-grain frame (the sketch is 256 cells at ANY corpus size; at
    * 100 TB the counter agg is the only pass and the estimate join
    * broadcasts 256 rows). Readout: top-10 true-heaviest users with
    * true count, CMS estimate = min over the 4 rows' cells, and the
    * overestimate — which the CMS guarantee says is ≥ 0 always (the
    * estimate NEVER undercounts; Round15dSpec pins est ≥ true over
    * EVERY key, not just the top 10) and ≤ ε·N with probability
    * 1−δ. Hashes via the shared bit-parity-tested h48. */
  /** Full per-key estimate frame — the query's top-10 readout comes
    * from here; Round15dSpec sweeps EVERY key's overestimate ≥ 0 (the
    * CMS one-sided guarantee). */
  private[graft] def cmsEstimates(spark: SparkSession, dir: String): DataFrame = {
    val keyCounts = events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val rows = keyCounts.select(col("user_id"), col("cnt"),
      explode(sequence(lit(0), lit(3))).as("r"))
      .withColumn("c", pmod(h48(concat_ws(":", col("r"), col("user_id"))),
        lit(64L)))
    val cells = rows.groupBy(col("r"), col("c"))
      .agg(sum(col("cnt")).as("cell"))
    rows.join(broadcast(cells), Seq("r", "c"))
      .groupBy(col("user_id"), col("cnt"))
      .agg(min(col("cell")).as("cms_est"))
      .select(col("user_id"), col("cnt").as("true_count"), col("cms_est"),
        (col("cms_est") - col("cnt")).as("overestimate"))
  }

  def countMinSketch(spark: SparkSession, dir: String): DataFrame =
    cmsEstimates(spark, dir)
      .orderBy(col("true_count").desc, col("user_id").asc)
      .limit(10)

  val entries: Map[String, Op] = Map(
    "stats_burstiness_memory" -> Op(burstinessMemory,
      s"""WITH g0 AS (SELECT event_type, user_id,
             epoch_us($evTs) AS us, event_id
           FROM events),
         g AS (SELECT event_type, user_id, us, event_id,
             (us - lag(us, 1) OVER (PARTITION BY event_type, user_id
               ORDER BY us, event_id)) // 1000000 AS gap
           FROM g0),
         gaps AS (SELECT * FROM g WHERE gap IS NOT NULL),
         prs AS (SELECT event_type, gap,
             lead(gap, 1) OVER (PARTITION BY event_type, user_id
               ORDER BY us, event_id) AS nxt
           FROM gaps),
         pairs AS (SELECT * FROM prs WHERE nxt IS NOT NULL),
         bs AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(gap * gap AS DECIMAL(38,0))) AS DOUBLE) AS s2
           FROM gaps GROUP BY 1),
         ms AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS mx,
             CAST(SUM(CAST(nxt AS DECIMAL(38,0))) AS DOUBLE) AS my,
             CAST(SUM(CAST(gap * nxt AS DECIMAL(38,0))) AS DOUBLE) AS mxy,
             CAST(SUM(CAST(gap * gap AS DECIMAL(38,0))) AS DOUBLE) AS mxx,
             CAST(SUM(CAST(nxt * nxt AS DECIMAL(38,0))) AS DOUBLE) AS myy
           FROM pairs GROUP BY 1),
         j AS (SELECT bs.event_type, bs.n_gaps, ms.n_pairs,
             bs.s1 / bs.n_gaps AS mean,
             sqrt(GREATEST(bs.s2 / bs.n_gaps
               - (bs.s1 / bs.n_gaps) * (bs.s1 / bs.n_gaps), 0.0)) AS sigma,
             sqrt(GREATEST(ms.n_pairs * ms.mxx - ms.mx * ms.mx, 0.0)
               * GREATEST(ms.n_pairs * ms.myy - ms.my * ms.my, 0.0)) AS mden,
             ms.n_pairs * ms.mxy - ms.mx * ms.my AS mnum
           FROM bs LEFT JOIN ms ON bs.event_type = ms.event_type)
         SELECT event_type, n_gaps, n_pairs,
           round(mean, 6) AS mean_gap_s,
           round(sigma, 6) AS sd_gap_s,
           CASE WHEN sigma + mean = 0.0 THEN NULL
             ELSE round((sigma - mean) / (sigma + mean), 6) END AS burstiness,
           CASE WHEN mden = 0.0 THEN NULL
             ELSE round(mnum / mden, 6) END AS memory
         FROM j ORDER BY event_type"""),
    "sketch_count_min" -> Op(countMinSketch,
      s"""WITH kc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1),
         rws AS (SELECT user_id, cnt, r,
             ${h48Sql("concat_ws(':', r, user_id)")} % 64 AS c
           FROM kc, (SELECT unnest(range(0, 4)) AS r)),
         cells AS (SELECT r, c, CAST(SUM(cnt) AS BIGINT) AS cell
           FROM rws GROUP BY 1, 2),
         est AS (SELECT user_id, cnt, MIN(cell) AS cms_est
           FROM rws JOIN cells USING (r, c) GROUP BY 1, 2)
         SELECT user_id, cnt AS true_count, cms_est,
           cms_est - cnt AS overestimate
         FROM est ORDER BY true_count DESC, user_id ASC LIMIT 10"""),
  )
}
