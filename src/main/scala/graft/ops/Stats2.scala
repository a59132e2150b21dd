package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical statistics III (round 11): Welch's unequal-variance
  * t-test, one-way ANOVA, Spearman rank correlation, and pairwise
  * Jensen–Shannon divergence between source language profiles. Same
  * family contract as [[Stats]]: the corpus is touched only by
  * map-combinable aggregates; anything that classically "needs a
  * global sort" (Spearman's ranks) is re-expressed over the bounded
  * DISTINCT-VALUE frame; every transcendental is round-6 at the call
  * site and every double sum goes through [[graft.Tables.dsum]]. */
object Stats2 {

  /** The L274 conditional-agg sums, click vs purchase event values: one
    * scan gives each side's (n, Σx, Σx²); mean and sample variance are
    * recovered in closed form. Shared by Welch's t and Cohen's d. */
  private def clickPurchaseMoments(spark: SparkSession, dir: String): DataFrame = {
    val v = col("value")
    def side(t: String, tag: String) = Seq(
      sum(when(col("event_type") === t, 1L)).as(s"n_$tag"),
      round(dsum(when(col("event_type") === t, v)), 6).as(s"s_$tag"),
      round(dsum(when(col("event_type") === t, round(v * v, 6))), 6)
        .as(s"ss_$tag"))
    val aggs = side("click", "1") ++ side("purchase", "2")
    val base = events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .agg(aggs.head, aggs.tail: _*)
    def m(i: Int) = round(col(s"s_$i") / col(s"n_$i").cast("double"), 6)
    def va(i: Int) = round(
      (col(s"ss_$i") - col(s"s_$i") * col(s"s_$i") / col(s"n_$i").cast("double")) /
        (col(s"n_$i") - 1).cast("double"), 6)
    base.select(col("n_1").as("n_click"), col("n_2").as("n_purchase"),
      m(1).as("mean_click"), m(2).as("mean_purchase"),
      va(1).as("var_click"), va(2).as("var_purchase"))
  }

  /** DuckDB twin of [[clickPurchaseMoments]]: CTEs `a` (the sums) and
    * `st` (n, mean, variance per side). */
  private val clickPurchaseMomentsSql =
    s"""a AS (SELECT
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
               AS n_1,
             round(${dsumSql("CASE WHEN event_type = 'click' THEN value END")}, 6)
               AS s_1,
             round(${dsumSql("CASE WHEN event_type = 'click' THEN round(value * value, 6) END")}, 6)
               AS ss_1,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
               AS n_2,
             round(${dsumSql("CASE WHEN event_type = 'purchase' THEN value END")}, 6)
               AS s_2,
             round(${dsumSql("CASE WHEN event_type = 'purchase' THEN round(value * value, 6) END")}, 6)
               AS ss_2
           FROM events WHERE event_type IN ('click', 'purchase')),
         st AS (SELECT n_1 AS n_click, n_2 AS n_purchase,
             round(s_1 / CAST(n_1 AS DOUBLE), 6) AS mean_click,
             round(s_2 / CAST(n_2 AS DOUBLE), 6) AS mean_purchase,
             round((ss_1 - s_1 * s_1 / CAST(n_1 AS DOUBLE))
               / CAST(n_1 - 1 AS DOUBLE), 6) AS var_click,
             round((ss_2 - s_2 * s_2 / CAST(n_2 AS DOUBLE))
               / CAST(n_2 - 1 AS DOUBLE), 6) AS var_purchase
           FROM a)"""

  /** L274 — Welch's two-sample t-test, click vs purchase event values
    * (the unequal-variance form that is the safe default when group
    * variances differ — the pairwise sibling of the L205 proportion
    * z-test, which compares rates, not means). One conditional-agg
    * scan produces both groups' (n, Σx, Σx²); mean/variance recovered
    * in closed form, t = (m₁−m₂)/√(s₁²/n₁ + s₂²/n₂), df by
    * Welch–Satterthwaite. No shuffle beyond the single 1-row partial
    * aggregate; corpus cost is one filtered scan at any scale. The
    * verdict column uses the z critical value 1.96 (df is in the
    * thousands here, where t ≈ z; df is emitted so a reader can apply
    * an exact table). */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    val stats = clickPurchaseMoments(spark, dir)
    val vn1 = round(col("var_click") / col("n_click").cast("double"), 6)
    val vn2 = round(col("var_purchase") / col("n_purchase").cast("double"), 6)
    stats
      .withColumn("vn1", vn1).withColumn("vn2", vn2)
      .withColumn("t_stat", round((col("mean_click") - col("mean_purchase")) /
        sqrt(col("vn1") + col("vn2")), 6))
      .withColumn("df_welch", round(
        (col("vn1") + col("vn2")) * (col("vn1") + col("vn2")) /
          (col("vn1") * col("vn1") / (col("n_click") - 1).cast("double") +
            col("vn2") * col("vn2") / (col("n_purchase") - 1).cast("double")), 6))
      .withColumn("significant_95", abs(col("t_stat")) > 1.96)
      .drop("vn1", "vn2")
  }

  /** The L275 scaled-deviation one-way ANOVA over `rows` (a value `x`
    * per row, grouped by `keys`): per group n_g and mean_g (2-decimal
    * money grain), the grand n, k and mean_t, and the exact-decimal
    * within/total sums of squares as ssw_k and ssb_k = SST − SSW, in
    * (thousand)² units. Shared by ANOVA F and Brown–Forsythe. */
  private def scaledAnova(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val g = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_g"), round(dsum(col("x")), 6).as("s_g"))
      .withColumn("mean_g", round(col("s_g") / col("n_g").cast("double"), 2))
      .withColumn("n", sum(col("n_g")).over(wAll))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("mean_t", round(sum(col("s_g").cast("decimal(18,6)"))
        .over(wAll).cast("double") / sum(col("n_g")).over(wAll).cast("double"), 2))
    val devg = (col("x") - col("mean_g")) / 1000.0
    val devt = (col("x") - col("mean_t")) / 1000.0
    rows.join(broadcast(g), keys)
      .groupBy((keys ++ Seq("n_g", "mean_g", "n", "k")).map(col): _*)
      .agg(sum(round(devg * devg, 6).cast("decimal(28,6)")).as("ssw_g"),
        sum(round(devt * devt, 6).cast("decimal(28,6)")).as("sst_g"))
      .withColumn("ssw_dec", sum(col("ssw_g")).over(wAll))
      .withColumn("sst_dec", sum(col("sst_g")).over(wAll))
      .withColumn("ssw_k", col("ssw_dec").cast("double"))
      .withColumn("ssb_k", (col("sst_dec") - col("ssw_dec")).cast("double"))
  }

  /** DuckDB twins of [[scaledAnova]]'s grand-mean step (`w`, over the
    * group frame `g`) and its sums-of-squares step (`f`, over `pg`). */
  private val anovaMeansSql =
    """w AS (SELECT *,
             round(s_g / CAST(n_g AS DOUBLE), 2) AS mean_g,
             CAST(SUM(n_g) OVER () AS BIGINT) AS n,
             CAST(COUNT(*) OVER () AS BIGINT) AS k,
             round(CAST(SUM(CAST(s_g AS DECIMAL(18,6))) OVER () AS DOUBLE)
               / CAST(SUM(n_g) OVER () AS DOUBLE), 2) AS mean_t
           FROM g)"""
  private val anovaSumsSql =
    """f AS (SELECT *,
             CAST(SUM(ssw_g) OVER () AS DOUBLE) AS ssw_k,
             CAST(SUM(sst_g) OVER () - SUM(ssw_g) OVER () AS DOUBLE) AS ssb_k
           FROM pg)"""

  /** L275 — one-way ANOVA F-test of order value across the five order
    * priorities (does ANY group mean differ? — the k-group
    * generalization L274 can't ask). Two passes: the 5-row mean frame
    * (group + grand, means pinned to the money grain of 2 decimals),
    * then one deviation scan with SSW/SST accumulated as exact decimal
    * sums of round-6 SCALED squared deviations — devs are divided by
    * 1000 first so every decimal cast is small-magnitude (≤2.5×10⁵,
    * far inside both engines' lossless round-6 range; the raw Σx²
    * route pushes 10¹⁴⁺ doubles through decimal casts, which the two
    * engines round differently). The scaling also kills the midpoint
    * class outright: devs are exact multiples of 10⁻⁵, and no integer
    * square is ≡ 5000 (mod 10⁴) — 5000 ≡ 8 (mod 16) is a quadratic
    * non-residue — so a round-6 tie cannot occur by construction.
    * SSB = SST − SSW in exact decimal; ssb/ssw emitted in (thousand)²
    * units, which F and η² are invariant to. Corpus cost: two scans +
    * a 5-row broadcast join, map-combinable at any scale. */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    val rows = orders(spark, dir)
      .select(col("o_orderpriority").as("priority"), col("o_totalprice").as("x"))
    scaledAnova(rows, Seq("priority")).select(col("priority"), col("n_g"), col("mean_g"),
        col("ssb_k"), col("ssw_k"),
        (col("k") - 1).as("df_between"), (col("n") - col("k")).as("df_within"),
        round((col("ssb_k") / (col("k") - 1).cast("double")) /
          (col("ssw_k") / (col("n") - col("k")).cast("double")), 6).as("f_stat"),
        round(col("ssb_k") / (col("ssb_k") + col("ssw_k")), 6).as("eta_sq"))
      .orderBy("priority")
  }

  /** L276 — Spearman rank correlation between line quantity and
    * extended price (the monotone-association statistic that survives
    * outliers and nonlinearity where Pearson's r does not). The
    * classical form needs a GLOBAL rank of each column — here both
    * rank maps are built on the bounded DISTINCT-VALUE frames (≤50
    * quantities; round-6 prices, ≤10⁶ distinct at any corpus size per
    * the L242 quantization argument) with tie MIDRANKS in closed form
    * from cumulative counts, normalized to (0,1] as the exact rational
    * (2·cum_prev + c + 1)/(2N) before one round-6. The corpus is then
    * touched only by two equi-joins against those frames (quantity map
    * broadcast; price map a plain hash join) and one six-sum Pearson
    * pass over the normalized ranks — products are ≤1 so decimal
    * quantization never overflows. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select(col("l_quantity").as("q"), round(col("l_extendedprice"), 6).as("v"))
    // midrank maps over the distinct-value frames via PrefixScan (the
    // price frame is ~row-cardinality until round-6 saturation — the r11
    // single-partition-window defect if ranked with Window.orderBy); N
    // comes back as the exact scan total, not a whole-frame window
    def rankMap(c: String) = {
      val grouped = li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      val (cum, tot) = PrefixScan(grouped, Seq(c),
        sumsLong = Seq("cnt" -> "cum"))
      val n = tot.longs("cnt")
      cum.select(col(c),
        round((lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L)
          .cast("double") / lit(2L * n).cast("double"), 6)
          .as(s"r_$c"))
    }
    val ranked = li
      .join(broadcast(rankMap("q")), "q")
      .join(rankMap("v"), "v")
    val sums = ranked.agg(count(lit(1)).as("n"),
      round(dsum(col("r_q")), 6).as("sx"),
      round(dsum(col("r_v")), 6).as("sy"),
      round(dsum(round(col("r_q") * col("r_q"), 6)), 6).as("sxx"),
      round(dsum(round(col("r_v") * col("r_v"), 6)), 6).as("syy"),
      round(dsum(round(col("r_q") * col("r_v"), 6)), 6).as("sxy"))
    sums.select(col("n"),
      round((col("n").cast("double") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n").cast("double") * col("sxx") - col("sx") * col("sx")) *
          (col("n").cast("double") * col("syy") - col("sy") * col("sy"))), 6)
        .as("rho_spearman"))
  }

  /** L277 — pairwise Jensen–Shannon divergence between the LANGUAGE
    * profiles of document sources (Lin 1991; the symmetric, bounded
    * [0, ln 2] corpus-similarity measure a mixture designer reads
    * before setting L133's temperature weights — unlike KL it never
    * divides by an absent language). Laplace-smoothed profiles
    * p = (n+1)/(t+|L|) on the full source×language grid; the grid
    * comes from a 1-row collected language ARRAY broadcast-crossed
    * into the per-source totals (the allowlisted 1-row-broadcast
    * pattern — never a data-sized cartesian), the pair frame from an
    * equi-join on language filtered to src_a < src_b: |S|²·|L| rows of
    * which only dim-sized frames ever shuffle. JSD per pair is a
    * |L|-term decimal fold, ln round-6 at the call site. Top-20 most
    * divergent pairs. */
  def jsdSources(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val langsRow = docs.agg(sort_array(collect_set(col("lang"))).as("langs"))
    val srcTot = docs.groupBy(col("source")).agg(count(lit(1)).as("t"))
    val grid = srcTot.crossJoin(broadcast(langsRow))
      .select(col("source"), col("t"), size(col("langs")).as("nl"),
        explode(col("langs")).as("lang"))
    val cnt = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
    val p = grid.join(cnt, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"),
        round((coalesce(col("cnt"), lit(0L)) + 1L).cast("double") /
          (col("t") + col("nl")).cast("double"), 6).as("p"))
    val a = p.select(col("source").as("src_a"), col("lang"), col("p").as("pa"))
    val b = p.select(col("source").as("src_b"), col("lang"), col("p").as("pb"))
    // p/m written as 2p/(pa+pb): halving first would manufacture exact
    // decimal midpoints (6dp sums ending .5e-6) where Spark's
    // BigDecimal HALF_UP and the oracle's double round diverge
    val den = col("pa") + col("pb")
    a.join(b, Seq("lang")).where(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(col("pa") * round(log(lit(2.0) * col("pa") / den), 6), 6).as("ta"),
        round(col("pb") * round(log(lit(2.0) * col("pb") / den), 6), 6).as("tb"))
      .groupBy(col("src_a"), col("src_b"))
      // the ½ of JSD = ½(KL(p‖m)+KL(q‖m)) is taken in exact integer
      // micro-units with explicit half-up: 0.5 × a 6dp decimal sum is
      // an exact 7th-digit-5 midpoint whenever the sum's last digit is
      // odd, precisely where the two engines' double rounding diverges
      .agg(((sum(col("ta").cast("decimal(18,6)")) +
        sum(col("tb").cast("decimal(18,6)"))) * 1000000)
        .cast("long").as("x_micro"))
      .select(col("src_a"), col("src_b"),
        (expr("(x_micro + 1) div 2").cast("double") / 1e6).as("jsd"))
      .orderBy(col("jsd").desc, col("src_a"), col("src_b"))
      .limit(20)
  }

  /** L294 — Kruskal–Wallis H test of event value across the five event
    * types (the RANK-based k-group test that needs no normality — the
    * nonparametric sibling of L275's ANOVA, and the k-group extension
    * of L242's Mann–Whitney machinery, whose distinct-value midrank
    * frame it reuses verbatim). Doubled midranks are exact INTEGERS
    * (2·cum_prev + c + 1) so per-group rank sums are exact
    * decimal(38,0); the between-group term is decimal-summed as the
    * SCALED s_g = round((r̄_g/N)²·n_g, 6) — order-independent, small-
    * magnitude, the L275/L277 parity rules — and only the final H
    * touches the (deterministic, identical-IEEE) large-magnitude
    * algebra. Tie-corrected by C = 1 − Σ(t³−t)/(N³−N); significance
    * against the χ²(4) 95% critical value (JVM literal 9.487729,
    * frozen into both engines). */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val vals = events(spark, dir)
      .select(col("event_type"), round(col("value"), 6).as("v"))
    val byV = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
    // doubled-midrank frame via PrefixScan — the distinct-value frame
    // grows with the corpus until round-6 saturation, so the cumsum must
    // be the distributed two-pass scan, never Window.orderBy(v)
    val (cumV, _) = PrefixScan(byV, Seq("v"), sumsLong = Seq("c" -> "cum"))
    val ranked = cumV.select(col("v"), col("c"),
      (lit(2L) * (col("cum") - col("c")) + col("c") + 1L).as("r2"))
    val grp = vals.join(ranked.select(col("v"), col("r2")), "v")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("r2").cast("decimal(38,0)")).cast("double").as("s2_g"))
    val ties = byV.agg(
      sum((col("c") * col("c") * col("c") - col("c")).cast("decimal(38,0)"))
        .cast("double").as("t_adj"))
    // group-grain totals (k = 5 event types) as a 1-row broadcast cross —
    // the whole-frame window was the same single-partition shape
    val nk = grp.agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"))
    val sg = grp.crossJoin(broadcast(nk))
      .withColumn("s_g", round(
        (col("s2_g") / (lit(2.0) * col("n").cast("double") *
          col("n_g").cast("double"))) *
        (col("s2_g") / (lit(2.0) * col("n").cast("double") *
          col("n_g").cast("double"))) * col("n_g").cast("double"), 6))
    val sumS = sg.agg(round(sum(col("s_g").cast("decimal(18,6)"))
      .cast("double"), 6).as("sum_s"))
    val withN = sg.crossJoin(broadcast(sumS))
    val n = col("n").cast("double")
    withN.crossJoin(broadcast(ties))
      .withColumn("h", lit(12.0) * n / (n + 1.0) * col("sum_s") -
        lit(3.0) * (n + 1.0))
      .withColumn("tie_c", lit(1.0) - col("t_adj") / (n * n * n - n))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        round(max(col("h")), 6).as("h"),
        round(max(col("tie_c")), 6).as("tie_correction"),
        round(max(col("h") / col("tie_c")), 6).as("h_corrected"))
      .withColumn("df", col("k") - 1)
      .withColumn("significant_95",
        col("h_corrected") > 9.487729 && col("df") === 4)
  }

  /** L295 — Brown–Forsythe (median-centered Levene) test of variance
    * homogeneity across order priorities — the PRECONDITION check for
    * L275's ANOVA (classic ANOVA assumes equal group variances; this
    * is the robust way to find out). W = the one-way ANOVA F statistic
    * computed on z = |y − median_g|: group medians at the 2-decimal
    * money grain (the L21 percentile identity), then the L275
    * scaled-deviation machinery ([[scaledAnova]]) applied to z. */
  def brownForsythe(spark: SparkSession, dir: String): DataFrame = {
    val med = orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 2).as("med_g"))
    val z = orders(spark, dir)
      .join(broadcast(med), col("o_orderpriority") === col("priority"))
      .select(col("priority"), col("med_g"),
        abs(col("o_totalprice") - col("med_g")).as("x"))
    scaledAnova(z, Seq("priority", "med_g"))
      .select(col("priority"), col("n_g"), col("med_g"), col("mean_g")
          .as("mean_absdev"),
        (col("k") - 1).as("df_between"), (col("n") - col("k")).as("df_within"),
        round((col("ssb_k") / (col("k") - 1).cast("double")) /
          (col("ssw_k") / (col("n") - col("k")).cast("double")), 6)
          .as("w_stat"))
      .orderBy("priority")
  }

  /** The L225 six-sums OLS fit of hourly event revenue `y` on the hour
    * index `t`: slope/intercept over the calendar-bounded hourly frame and
    * the round-6 residual `e`. Shared by Durbin–Watson and the runs test. */
  private def hourlyTrendResiduals(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(round(dsum(col("value")), 6).as("y"))
      .withColumn("t", (row_number().over(Window.orderBy(col("bucket"))) - 1)
        .cast("double"))
      .withColumn("n", count(lit(1)).over(wAll).cast("double"))
      .withColumn("sx", sum(col("t").cast("decimal(18,6)")).over(wAll)
        .cast("double"))
      .withColumn("sy", sum(col("y").cast("decimal(18,6)")).over(wAll)
        .cast("double"))
      .withColumn("sxx", sum((col("t") * col("t")).cast("decimal(18,6)"))
        .over(wAll).cast("double"))
      .withColumn("sxy", sum(round(col("t") * col("y"), 6)
        .cast("decimal(28,6)")).over(wAll).cast("double"))
      .withColumn("slope", (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("icept", (col("sy") - col("slope") * col("sx")) / col("n"))
      .withColumn("e", round(col("y") - (col("icept") +
        col("slope") * col("t")), 6))
  }

  /** DuckDB twin of [[hourlyTrendResiduals]] up to the fit: CTEs ending in
    * `f2` (y, t, slope, icept). */
  private val hourlyTrendFitSql =
    s"""hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS y
           FROM events GROUP BY 1),
         tt AS (SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY bucket) - 1 AS DOUBLE) AS t
           FROM hourly),
         s AS (SELECT *,
             CAST(COUNT(*) OVER () AS DOUBLE) AS n,
             CAST(SUM(CAST(t AS DECIMAL(18,6))) OVER () AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) OVER () AS DOUBLE) AS sy,
             CAST(SUM(CAST(t * t AS DECIMAL(18,6))) OVER () AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(t * y, 6) AS DECIMAL(28,6))) OVER ()
               AS DOUBLE) AS sxy
           FROM tt),
         ff AS (SELECT *,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
           FROM s),
         f2 AS (SELECT *, (sy - slope * sx) / n AS icept FROM ff)"""

  /** L296 — Durbin–Watson autocorrelation diagnostic on the residuals
    * of the hourly OLS revenue trend (the classic "can I trust my
    * regression's error bars?" check — DW ≈ 2 means independent
    * residuals, < 1.5 positive autocorrelation, the regime where L225's
    * trend CIs would be overconfident). The L225 six-sums fit supplies
    * slope/intercept; residuals round-6 on the calendar-bounded hourly
    * frame; DW = Σ(e_t − e_{t−1})²/Σe_t² via one lag window over that
    * bounded frame, decimal-summed. Corpus cost: one hourly aggregate
    * scan at any scale. */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val dw = hourlyTrendResiduals(spark, dir)
      .withColumn("de", col("e") - lag(col("e"), 1).over(Window.orderBy(col("t"))))
      .agg(count(lit(1)).as("n_hours"),
        round(max(col("slope")), 6).as("slope"),
        round(max(col("icept")), 6).as("intercept"),
        round(dsum(round(col("de") * col("de"), 6)) /
          dsum(round(col("e") * col("e"), 6)), 6).as("dw"))
    dw.withColumn("verdict",
      when(col("dw") < 1.5, "positive_autocorr")
        .when(col("dw") > 2.5, "negative_autocorr")
        .otherwise("none"))
  }

  /** L301 — Friedman test over the day×event-type daily-revenue design
    * (the repeated-measures nonparametric k-group test: each DAY is a
    * block, ranks are WITHIN-day — so day-level traffic shifts, which
    * would drown L294's pooled ranks, cancel by construction; the
    * blocked sibling of Kruskal–Wallis). Complete blocks only (days
    * with all k treatments). Doubled within-block midranks are exact
    * integers (2·rank + ties − 1, the L294 convention at block scope);
    * per-treatment rank sums are exact; everything to χ²_F is the
    * bounded 5-row frame. χ²(4) 95% literal shared with L294. */
  def friedman(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
        .as("day"), col("event_type"))
      .agg(round(dsum(col("value")), 6).as("r"))
    val k = daily.select(countDistinct(col("event_type")).as("k"))
    val wDayCnt = Window.partitionBy(col("day"))
    val complete = daily
      .withColumn("n_in_day", count(lit(1)).over(wDayCnt))
      .crossJoin(broadcast(k))
      .where(col("n_in_day") === col("k"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("r"))
    val wTie = Window.partitionBy(col("day"), col("r"))
    val ranked = complete
      .withColumn("rk", rank().over(wDay))
      .withColumn("ties", count(lit(1)).over(wTie))
      .withColumn("mr2", lit(2) * col("rk") + col("ties") - 1)
    val perType = ranked.groupBy(col("event_type"), col("k"))
      .agg(countDistinct(col("day")).as("b"), sum(col("mr2")).as("s2"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val kD = col("k").cast("double")
    val bD = col("b").cast("double")
    perType
      .withColumn("r_j", col("s2").cast("double") / 2.0)
      .withColumn("mean_rank", round(col("r_j") / bD, 6))
      .withColumn("sum_rr", round(sum(round(col("r_j") * col("r_j") /
          (bD * kD * (kD + 1.0)), 6).cast("decimal(18,6)")).over(wAll)
        .cast("double"), 6))
      .withColumn("chi2_f", round(lit(12.0) * col("sum_rr") -
        lit(3.0) * bD * (kD + 1.0), 6))
      .select(col("event_type"), col("b").as("n_blocks"), col("r_j"),
        col("mean_rank"), col("chi2_f"), (col("k") - 1).as("df"),
        (col("chi2_f") > 9.487729 && col("k") === 5).as("significant_95"))
      .orderBy("event_type")
  }

  /** L302 — Wald–Wolfowitz runs test on the signs of the hourly-trend
    * residuals (is the residual SEQUENCE random, or do signs clump? —
    * the distribution-free companion to L296's Durbin–Watson, which
    * measures the same clumping parametrically). Residuals from
    * [[hourlyTrendResiduals]], the L296 six-sums fit; signs (e ≥ 0), the run
    * count via one lag window over the calendar-bounded frame, then
    * the exact-integer run moments μ = 2n₊n₋/n + 1 and the classical
    * σ²; z round-6. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.orderBy(col("t"))
    val runs = hourlyTrendResiduals(spark, dir)
      .withColumn("pos", (col("e") >= 0).cast("long"))
      .withColumn("flip", when(lag(col("pos"), 1).over(wOrd).isNull, 1L)
        .otherwise((col("pos") =!= lag(col("pos"), 1).over(wOrd)).cast("long")))
      .agg(count(lit(1)).as("n"),
        sum(col("pos")).as("n_pos"),
        (count(lit(1)) - sum(col("pos"))).as("n_neg"),
        sum(col("flip")).as("n_runs"))
    val n = col("n").cast("double")
    val p = col("n_pos").cast("double")
    val q = col("n_neg").cast("double")
    runs
      .withColumn("mu", round(lit(2.0) * p * q / n + 1.0, 6))
      .withColumn("z", round((col("n_runs").cast("double") -
          (lit(2.0) * p * q / n + 1.0)) /
        sqrt(lit(2.0) * p * q * (lit(2.0) * p * q - n) /
          (n * n * (n - 1.0))), 6))
      .withColumn("random_at_95", abs(col("z")) <= 1.96)
  }

  /** L305 — Jarque–Bera normality test per event type (Jarque & Bera
    * 1980: JB = n/6·(S² + (K−3)²/4) from sample skewness S and
    * kurtosis K — the moment-based normality screen that says whether
    * z/t verdicts like L274's can be trusted). Skewness and kurtosis
    * are SCALE-INVARIANT, so the corpus value is divided by 100 first
    * (x′ ≤ 4.91): every power term round(x′ᵏ, 6) is then
    * small-magnitude (≤582) and decimal-summable losslessly at any
    * corpus size — the raw Σx⁴ route pushes 10¹⁰⁺ per-row doubles
    * through the decimal grid, where the two engines' round-6 can
    * disagree. One map-combinable conditional-agg scan produces
    * (n, Σx′..Σx′⁴) per group; central moments recovered in closed
    * form; χ²₂ 95% critical value 5.991 gives the verdict. */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame = {
    val x = col("value") / 100.0
    val agged = events(spark, dir)
      .select(col("event_type"), x.as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(dsum(col("x")), 6).as("s1"),
        round(dsum(round(col("x") * col("x"), 6)), 6).as("s2"),
        round(dsum(round(col("x") * col("x") * col("x"), 6)), 6).as("s3"),
        round(dsum(round(col("x") * col("x") * col("x") * col("x"), 6)), 6)
          .as("s4"))
    val nd = col("n").cast("double")
    val mu = col("s1") / nd
    val m2 = col("s2") / nd - mu * mu
    val m3 = col("s3") / nd - lit(3.0) * mu * col("s2") / nd +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4") / nd - lit(4.0) * mu * col("s3") / nd +
      lit(6.0) * mu * mu * col("s2") / nd - lit(3.0) * mu * mu * mu * mu
    val out = agged
      .withColumn("skewness", round(m3 / sqrt(m2 * m2 * m2), 6))
      .withColumn("kurtosis", round(m4 / (m2 * m2), 6))
    out
      .withColumn("jb_stat", round(nd / 6.0 *
        (col("skewness") * col("skewness") +
          (col("kurtosis") - 3.0) * (col("kurtosis") - 3.0) / 4.0), 6))
      .withColumn("normal_at_95", col("jb_stat") <= 5.991465)
      .select("event_type", "n", "skewness", "kurtosis", "jb_stat",
        "normal_at_95")
      .orderBy("event_type")
  }

  /** L317 — Wilcoxon signed-rank test on paired daily (click, purchase)
    * revenue (Wilcoxon 1945 — the PAIRED nonparametric test completing
    * the family: L294 Kruskal–Wallis compares independent groups, L301
    * Friedman blocked designs; this one matched pairs, where pairing
    * by DAY cancels daily traffic shifts the pooled tests absorb as
    * noise). Pairs from one conditional agg on the calendar-bounded
    * daily frame; zero diffs dropped per the classical procedure;
    * |d| midranks in the exact DOUBLED-rank space over the bounded
    * distinct-|d| frame (the L294 convention); W₂⁺ = Σ 2·rank over
    * positive diffs and its moments are EXACT integers — z is the one
    * round-6 division, with the standard tie adjustment Σ(t³−t)/12 in
    * doubled-variance space. */
  def wilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(round(dsum(when(col("event_type") === "click", col("value"))), 6)
        .as("xc"),
        round(dsum(when(col("event_type") === "purchase", col("value"))), 6)
          .as("xp"))
      .where(col("xc").isNotNull && col("xp").isNotNull)
      .withColumn("d", (col("xc").cast("decimal(18,6)") -
        col("xp").cast("decimal(18,6)")).cast("double"))
      .where(col("d") =!= 0.0)
      .withColumn("ad", abs(col("d")))
    val byV = daily.groupBy(col("ad")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV
      .withColumn("cum", sum(col("c")).over(wCum))
      .select(col("ad"),
        (lit(2L) * (col("cum") - col("c")) + col("c") + 1L).as("r2"))
    val ties = byV.agg(
      sum((col("c") * col("c") * col("c") - col("c"))).as("t_adj"))
    val agg = daily.join(ranked, "ad")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("d") > 0, col("r2")).otherwise(0L)).as("w2_plus"))
      .crossJoin(broadcast(ties))
    val n = col("n_pairs").cast("double")
    agg
      .withColumn("mu2", expr("n_pairs * (n_pairs + 1) div 2"))
      .withColumn("z", round((col("w2_plus") - col("mu2")).cast("double") /
        sqrt(n * (n + 1.0) * (lit(2.0) * n + 1.0) / 6.0 -
          col("t_adj").cast("double") / 12.0), 6))
      .withColumn("significant_95", abs(col("z")) > 1.96)
      .select("n_pairs", "w2_plus", "mu2", "t_adj", "z", "significant_95")
  }

  /** L319 — Cohen's d / Hedges' g standardized effect size, click vs
    * purchase event values (Cohen 1988; Hedges 1981 small-sample
    * correction — the MAGNITUDE number read beside L274's Welch t,
    * which only says whether a difference exists, not whether anyone
    * should care; at corpus scale everything is "significant" and
    * effect size is the only informative statistic left). The L274
    * conditional-agg sums ([[clickPurchaseMoments]]); pooled SD from the two
    * sample variances in closed form; g = d·(1 − 3/(4N−9)); the
    * conventional |d| ∈ {0.2, 0.5, 0.8} magnitude label emitted as a
    * column. One map-combinable scan, 1-row output. */
  def cohensD(spark: SparkSession, dir: String): DataFrame = {
    val stats = clickPurchaseMoments(spark, dir)
    val n1 = col("n_click").cast("double")
    val n2 = col("n_purchase").cast("double")
    val pooled = sqrt(((n1 - 1.0) * col("var_click") +
      (n2 - 1.0) * col("var_purchase")) / (n1 + n2 - 2.0))
    val d = (col("mean_click") - col("mean_purchase")) / pooled
    stats
      .withColumn("pooled_sd", round(pooled, 6))
      .withColumn("cohens_d", round(d, 6))
      .withColumn("hedges_g", round(d * (lit(1.0) -
        lit(3.0) / (lit(4.0) * (n1 + n2) - 9.0)), 6))
      .withColumn("magnitude",
        when(abs(col("cohens_d")) < 0.2, lit("negligible"))
          .when(abs(col("cohens_d")) < 0.5, lit("small"))
          .when(abs(col("cohens_d")) < 0.8, lit("medium"))
          .otherwise(lit("large")))
  }

  /** L347 — Theil–Sen robust trend of daily revenue (Theil 1950; Sen
    * JASA 1968 — the median-of-pairwise-slopes estimator, ~29.3%
    * breakdown point where OLS has zero: the line a fat-tailed day
    * cannot steer; read beside L297's `ml_ols_daily_trend`, which
    * shares this exact daily frame so the two slopes are directly
    * comparable). Slopes live on the CALENDAR-bounded day frame: pair
    * volume is C(|days|, 2) — a function of the HORIZON, not the
    * corpus (~3.3M pairs for a 7-year window at any event count) —
    * and the corpus is touched exactly once, by the daily aggregate.
    * The quadratic slope enumeration + median selection then folds
    * DRIVER-SIDE through the sanctioned bounded-collect tier — the
    * L287 holtDaily argument: the day frame is ≤4 000 rows at ANY
    * corpus size, and the engine formulations measured 3–4 s at sf0.1
    * (an exact percentile funnels every slope into one aggregation
    * buffer; a PrefixScan order-statistic selection stays distributed
    * but pays range-shuffle + two row-wise passes over the ~3.3M-row
    * slope frame — constant in corpus size but ~10× the driver fold,
    * which runs the same 3.3M primitive-double slopes in ~0.3 s).
    * Horizons past the cap want Matoušek-style O(n log n) slope
    * selection — documented, not needed below 11 years of days.
    * Median interpolation mirrors quantile_cont exactly (lower +
    * (upper−lower)·0.5 on the two middle order stats); intercept =
    * median(y − sen·x) (Conover's form) over the rounded residuals.
    * Empty-corpus guard: no pairs → empty result, both engines. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = graft.Tables.boundedCollect(
      orders(spark, dir)
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).as("xd"))
        .agg(round(dsum(col("o_totalprice")) / 1e6, 6).as("y"))
        .select(col("xd").cast("long").as("x"), col("y"))
        .as[(Long, Double)],
      4000, "theil-sen daily frame (calendar-bounded)")
      .sortBy(_._1)
    def medianOf(sorted: Array[Double]): Double = {
      val n = sorted.length
      val x1 = sorted((n + 1) / 2 - 1)
      val x2 = sorted((n + 2) / 2 - 1)
      x1 + (x2 - x1) * 0.5
    }
    val n = days.length
    if (n < 2) return Seq.empty[(Long, Long, Double, Double)]
      .toDF("n_days", "n_pairs", "sen_slope", "sen_intercept")
    // Round-18 driver-kernel fix (measured: ~1.5 s of the key's 2.0 s was
    // 245k BigDecimal.decimal(v).setScale(6) calls — each pays a slow
    // Double.toString — on the single-threaded driver). r6 (decimal
    // HALF_UP) is MONOTONE NON-DECREASING, so rounding every slope before
    // the sort and selecting the two middle order statistics is
    // bit-identical to sorting the RAW slopes and rounding only the two
    // selected elements: sorted(map(r6, xs))(k) == round6(sorted(xs)(k)).
    // The median interpolation then runs on the same two rounded values.
    val slopes = new Array[Double](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        slopes(k) = (days(j)._2 - days(i)._2) /
          (days(j)._1 - days(i)._1).toDouble
        k += 1; j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(slopes)
    def medianOfRoundedAt(sorted: Array[Double]): Double = {
      val m = sorted.length
      val x1 = round6(sorted((m + 1) / 2 - 1))
      val x2 = round6(sorted((m + 2) / 2 - 1))
      x1 + (x2 - x1) * 0.5
    }
    val sen = round6(medianOfRoundedAt(slopes))
    val resid = days.map { case (x, y) => round6(y - sen * x) }.sorted
    val intercept = round6(medianOf(resid))
    Seq((n.toLong, slopes.length.toLong, sen, intercept))
      .toDF("n_days", "n_pairs", "sen_slope", "sen_intercept")
  }

  /** L352 — Mann–Whitney U / Wilcoxon rank-sum test between click and
    * purchase event values (Mann & Whitney 1947 — the UNPAIRED
    * two-sample location test; completes the rank-test family: L317
    * Kruskal–Wallis is its k-group generalization, L318 the PAIRED
    * signed-rank, and U = AUC·n₁·n₂ ties it to L242). Midranks with
    * the standard tie treatment, via the L242 bounded-histogram
    * contract: round-6 values collapse the corpus to a per-value
    * count frame, [[PrefixScan]] supplies the cumulative counts (no
    * unpartitioned window), and 2·R₁ = Σ n₁(v)·(2·cumBefore(v) +
    * n(v) + 1) stays an EXACT integer — decimal(38,0)-summed (the
    * privacy_t_closeness overflow rule: at 10¹² rows the product
    * tops long). z from the tie-corrected normal approximation
    * σ² = n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1))), no continuity
    * correction (both engines compute the identical closed form,
    * round-6 once). */
  def mannWhitneyU(spark: SparkSession, dir: String): DataFrame = {
    val per = events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(round(col("value"), 6).as("v"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n2"))
      .withColumn("n", col("n1") + col("n2"))
      .localCheckpoint(true)
    val (ranked, tot) = PrefixScan(per, Seq("v"),
      sumsLong = Seq("n" -> "cum"))
    val bigN = tot.longs("n")
    val s = ranked.agg(
      sum(col("n1")).as("n_click"),
      sum(col("n2")).as("n_purchase"),
      sum(((lit(2L) * (col("cum") - col("n")) + col("n") + 1L))
        .cast("decimal(38,0)") * col("n1")).as("r1x2"),
      sum((col("n") * col("n") * col("n") - col("n"))
        .cast("decimal(38,0)")).as("ties"))
    s.where(col("n_click") >= 1 && col("n_purchase") >= 1)
      .withColumn("u1x2", col("r1x2").cast("decimal(38,0)") -
        col("n_click").cast("decimal(38,0)") *
          (col("n_click") + 1L).cast("decimal(38,0)"))
      .withColumn("u1", col("u1x2").cast("double") / 2.0)
      .withColumn("u2", col("n_click").cast("double") *
        col("n_purchase").cast("double") - col("u1"))
      .withColumn("sigma", sqrt(
        col("n_click").cast("double") * col("n_purchase").cast("double")
          / 12.0 *
          ((lit(bigN).cast("double") + 1.0) - col("ties").cast("double") /
            (lit(bigN).cast("double") * (lit(bigN).cast("double") - 1.0)))))
      .withColumn("z", when(col("sigma") =!= 0.0,
        round((col("u1") - col("n_click").cast("double") *
          col("n_purchase").cast("double") / 2.0) / col("sigma"), 6)))
      .select(col("n_click"), col("n_purchase"),
        round(col("u1"), 6).as("u_click"),
        round(col("u2"), 6).as("u_purchase"),
        col("z"),
        // flag from the ROUNDED z (the ab_test_ztest engine-stability rule)
        coalesce(abs(col("z")) > 1.96, lit(false)).as("significant"))
  }

  val entries: Map[String, Op] = Map(
    "stats_mann_whitney_u" -> Op(mannWhitneyU,
      """WITH per AS (SELECT round(value, 6) AS v,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS n2
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1),
         c AS (SELECT v, n1, n2, n1 + n2 AS n,
             SUM(n1 + n2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM per),
         s AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_click,
             CAST(SUM(n2) AS BIGINT) AS n_purchase,
             SUM(CAST(2 * (cum - n) + n + 1 AS DECIMAL(38,0)) * n1) AS r1x2,
             SUM(CAST(n * n * n - n AS DECIMAL(38,0))) AS ties,
             CAST(SUM(n) AS BIGINT) AS nn
           FROM c),
         t AS (SELECT n_click, n_purchase,
             CAST(r1x2 - CAST(n_click AS DECIMAL(38,0)) *
               CAST(n_click + 1 AS DECIMAL(38,0)) AS DOUBLE) / 2.0 AS u1,
             sqrt(CAST(n_click AS DOUBLE) * CAST(n_purchase AS DOUBLE)
               / 12.0 * ((CAST(nn AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))))
               AS sigma
           FROM s WHERE n_click >= 1 AND n_purchase >= 1),
         z AS (SELECT *, CASE WHEN sigma != 0.0 THEN
             round((u1 - CAST(n_click AS DOUBLE) *
               CAST(n_purchase AS DOUBLE) / 2.0) / sigma, 6) END AS z
           FROM t)
         SELECT n_click, n_purchase,
           round(u1, 6) AS u_click,
           round(CAST(n_click AS DOUBLE) * CAST(n_purchase AS DOUBLE) - u1,
             6) AS u_purchase,
           z,
           COALESCE(abs(z) > 1.96, FALSE) AS significant
         FROM z"""),
    "stats_theil_sen" -> Op(theilSen,
      s"""WITH daily AS (SELECT CAST(date_diff('day', DATE '1995-01-01',
             CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             round(${dsumSql("o_totalprice")} / 1e6, 6) AS y
           FROM orders GROUP BY 1),
         sl AS (SELECT round((b.y - a.y) / CAST(b.x - a.x AS DOUBLE), 6) AS s
           FROM daily a JOIN daily b ON a.x < b.x),
         sen AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             round(quantile_cont(s, 0.5), 6) AS sen_slope FROM sl),
         r AS (SELECT n_pairs, sen_slope,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             round(quantile_cont(round(y - sen_slope * x, 6), 0.5), 6)
               AS sen_intercept
           FROM daily, sen GROUP BY 1, 2)
         SELECT n_days, n_pairs, sen_slope, sen_intercept
         FROM r WHERE n_pairs >= 1"""),
    "stats_cohens_d" -> Op(cohensD,
      s"""WITH $clickPurchaseMomentsSql,
         p AS (SELECT *,
             sqrt(((CAST(n_click AS DOUBLE) - 1.0) * var_click
               + (CAST(n_purchase AS DOUBLE) - 1.0) * var_purchase)
               / (CAST(n_click AS DOUBLE) + CAST(n_purchase AS DOUBLE) - 2.0))
               AS pooled_raw
           FROM st)
         SELECT n_click, n_purchase, mean_click, mean_purchase,
           var_click, var_purchase,
           round(pooled_raw, 6) AS pooled_sd,
           round((mean_click - mean_purchase) / pooled_raw, 6) AS cohens_d,
           round((mean_click - mean_purchase) / pooled_raw
             * (1.0 - 3.0 / (4.0 * (CAST(n_click AS DOUBLE)
               + CAST(n_purchase AS DOUBLE)) - 9.0)), 6) AS hedges_g,
           CASE
             WHEN abs(round((mean_click - mean_purchase) / pooled_raw, 6))
               < 0.2 THEN 'negligible'
             WHEN abs(round((mean_click - mean_purchase) / pooled_raw, 6))
               < 0.5 THEN 'small'
             WHEN abs(round((mean_click - mean_purchase) / pooled_raw, 6))
               < 0.8 THEN 'medium'
             ELSE 'large' END AS magnitude
         FROM p"""),
    "stats_wilcoxon_signed_rank" -> Op(wilcoxonSignedRank,
      s"""WITH daily AS (SELECT date_trunc('day', $evTs) AS day,
             round(${dsumSql("CASE WHEN event_type = 'click' THEN value END")}, 6)
               AS xc,
             round(${dsumSql("CASE WHEN event_type = 'purchase' THEN value END")}, 6)
               AS xp
           FROM events GROUP BY 1),
         dd AS (SELECT
             CAST(CAST(xc AS DECIMAL(18,6)) - CAST(xp AS DECIMAL(18,6))
               AS DOUBLE) AS d
           FROM daily WHERE xc IS NOT NULL AND xp IS NOT NULL),
         nz AS (SELECT d, abs(d) AS ad FROM dd WHERE d != 0.0),
         byv AS (SELECT ad, CAST(COUNT(*) AS BIGINT) AS c FROM nz GROUP BY 1),
         rk AS (SELECT ad,
             2 * (SUM(c) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) - c) + c + 1 AS r2
           FROM byv),
         t AS (SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS t_adj FROM byv),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
               AS w2_plus
           FROM nz JOIN rk USING (ad))
         SELECT n_pairs, w2_plus,
           CAST(n_pairs * (n_pairs + 1) // 2 AS BIGINT) AS mu2, t_adj,
           round(CAST(w2_plus - n_pairs * (n_pairs + 1) // 2 AS DOUBLE)
             / sqrt(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
               * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 6.0
               - CAST(t_adj AS DOUBLE) / 12.0), 6) AS z,
           abs(round(CAST(w2_plus - n_pairs * (n_pairs + 1) // 2 AS DOUBLE)
             / sqrt(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
               * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 6.0
               - CAST(t_adj AS DOUBLE) / 12.0), 6)) > 1.96 AS significant_95
         FROM a, t"""),
    "stats_jarque_bera" -> Op(jarqueBera,
      s"""WITH t AS (SELECT event_type, value / 100.0 AS x FROM events),
         a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             round(${dsumSql("x")}, 6) AS s1,
             round(${dsumSql("round(x * x, 6)")}, 6) AS s2,
             round(${dsumSql("round(x * x * x, 6)")}, 6) AS s3,
             round(${dsumSql("round(x * x * x * x, 6)")}, 6) AS s4
           FROM t GROUP BY 1),
         m AS (SELECT event_type, n,
             round((s3 / CAST(n AS DOUBLE)
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * s2 / CAST(n AS DOUBLE)
                 + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)))
               / sqrt((s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                 * (s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                 * (s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))),
               6) AS skewness,
             round((s4 / CAST(n AS DOUBLE)
                 - 4.0 * (s1 / CAST(n AS DOUBLE)) * s3 / CAST(n AS DOUBLE)
                 + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * s2 / CAST(n AS DOUBLE)
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
               / ((s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                 * (s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))),
               6) AS kurtosis
           FROM a)
         SELECT event_type, n, skewness, kurtosis,
           round(CAST(n AS DOUBLE) / 6.0 * (skewness * skewness
             + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0), 6) AS jb_stat,
           round(CAST(n AS DOUBLE) / 6.0 * (skewness * skewness
             + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0), 6) <= 5.991465
             AS normal_at_95
         FROM m ORDER BY event_type"""),
    "stats_friedman" -> Op(friedman,
      s"""WITH daily AS (SELECT
             epoch_us(date_trunc('day', $evTs)) // 86400000000 AS day,
             event_type, round(${dsumSql("value")}, 6) AS r
           FROM events GROUP BY 1, 2),
         kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM daily),
         complete AS (SELECT daily.*, k FROM daily, kk
           WHERE day IN (SELECT day FROM daily GROUP BY 1
             HAVING COUNT(*) = (SELECT k FROM kk))),
         ranked AS (SELECT *,
             RANK() OVER (PARTITION BY day ORDER BY r) AS rk,
             COUNT(*) OVER (PARTITION BY day, r) AS ties
           FROM complete),
         pt AS (SELECT event_type, k,
             CAST(COUNT(DISTINCT day) AS BIGINT) AS b,
             CAST(SUM(2 * rk + ties - 1) AS BIGINT) AS s2
           FROM ranked GROUP BY 1, 2),
         rj AS (SELECT *, CAST(s2 AS DOUBLE) / 2.0 AS r_j FROM pt),
         agg AS (SELECT *,
             round(CAST(SUM(CAST(round(r_j * r_j
               / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
                 * (CAST(k AS DOUBLE) + 1.0)), 6) AS DECIMAL(18,6)))
               OVER () AS DOUBLE), 6) AS sum_rr
           FROM rj),
         f AS (SELECT *,
             round(12.0 * sum_rr - 3.0 * CAST(b AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1.0), 6) AS chi2_f
           FROM agg)
         SELECT event_type, b AS n_blocks, r_j,
           round(r_j / CAST(b AS DOUBLE), 6) AS mean_rank, chi2_f,
           k - 1 AS df, chi2_f > 9.487729 AND k = 5 AS significant_95
         FROM f ORDER BY event_type"""),
    "stats_runs_test" -> Op(runsTest,
      s"""WITH $hourlyTrendFitSql,
         sg AS (SELECT t,
             CAST(round(y - (icept + slope * t), 6) >= 0 AS BIGINT) AS pos
           FROM f2),
         fl AS (SELECT *,
             CASE WHEN LAG(pos) OVER (ORDER BY t) IS NULL THEN 1
               WHEN pos != LAG(pos) OVER (ORDER BY t) THEN 1 ELSE 0 END
               AS flip
           FROM sg),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(COUNT(*) AS BIGINT) - CAST(SUM(pos) AS BIGINT) AS n_neg,
             CAST(SUM(flip) AS BIGINT) AS n_runs
           FROM fl)
         SELECT n, n_pos, n_neg, n_runs,
           round(2.0 * n_pos * n_neg / CAST(n AS DOUBLE) + 1.0, 6) AS mu,
           round((CAST(n_runs AS DOUBLE)
               - (2.0 * n_pos * n_neg / CAST(n AS DOUBLE) + 1.0))
             / sqrt(2.0 * n_pos * n_neg
               * (2.0 * n_pos * n_neg - CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) - 1.0))), 6) AS z,
           abs(round((CAST(n_runs AS DOUBLE)
               - (2.0 * n_pos * n_neg / CAST(n AS DOUBLE) + 1.0))
             / sqrt(2.0 * n_pos * n_neg
               * (2.0 * n_pos * n_neg - CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) - 1.0))), 6)) <= 1.96 AS random_at_95
         FROM agg"""),
    "stats_kruskal_wallis" -> Op(kruskalWallis,
      s"""WITH vals AS (SELECT event_type, round(value, 6) AS v FROM events),
         byv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY 1),
         rk AS (SELECT v, c,
             2 * (SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1
               AS r2
           FROM byv),
         grp AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DOUBLE) AS s2_g
           FROM vals JOIN rk USING (v) GROUP BY 1),
         ties AS (SELECT CAST(SUM(CAST(c * c * c - c AS DECIMAL(38,0)))
             AS DOUBLE) AS t_adj FROM byv),
         wn AS (SELECT *,
             CAST(SUM(n_g) OVER () AS BIGINT) AS n,
             CAST(COUNT(*) OVER () AS BIGINT) AS k,
             round((s2_g / (2.0 * CAST(SUM(n_g) OVER () AS DOUBLE)
                 * CAST(n_g AS DOUBLE)))
               * (s2_g / (2.0 * CAST(SUM(n_g) OVER () AS DOUBLE)
                 * CAST(n_g AS DOUBLE))) * CAST(n_g AS DOUBLE), 6) AS s_g
           FROM grp),
         ws AS (SELECT *,
             round(CAST(SUM(CAST(s_g AS DECIMAL(18,6))) OVER () AS DOUBLE), 6)
               AS sum_s
           FROM wn),
         hh AS (SELECT *,
             12.0 * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) + 1.0) * sum_s
               - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
             1.0 - t_adj / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS tie_c
           FROM ws, ties),
         a AS (SELECT MAX(n) AS n, MAX(k) AS k, round(MAX(h), 6) AS h,
             round(MAX(tie_c), 6) AS tie_correction,
             round(MAX(h / tie_c), 6) AS h_corrected
           FROM hh)
         SELECT n, k, h, tie_correction, h_corrected, k - 1 AS df,
           h_corrected > 9.487729 AND k - 1 = 4 AS significant_95
         FROM a"""),
    "stats_brown_forsythe" -> Op(brownForsythe,
      s"""WITH med AS (SELECT o_orderpriority AS priority,
             round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 2)
               AS med_g
           FROM orders GROUP BY 1),
         z AS (SELECT priority, med_g, abs(o_totalprice - med_g) AS z
           FROM orders JOIN med ON o_orderpriority = priority),
         g AS (SELECT priority, med_g, CAST(COUNT(*) AS BIGINT) AS n_g,
             round(${dsumSql("z")}, 6) AS s_g
           FROM z GROUP BY 1, 2),
         $anovaMeansSql,
         pg AS (SELECT z.priority, w.med_g, n_g, mean_g, n, k,
             SUM(CAST(round(((z - mean_g) / 1000.0)
               * ((z - mean_g) / 1000.0), 6) AS DECIMAL(28,6))) AS ssw_g,
             SUM(CAST(round(((z - mean_t) / 1000.0)
               * ((z - mean_t) / 1000.0), 6) AS DECIMAL(28,6))) AS sst_g
           FROM z JOIN w ON z.priority = w.priority
           GROUP BY 1, 2, 3, 4, 5, 6),
         $anovaSumsSql
         SELECT priority, n_g, med_g, mean_g AS mean_absdev,
           k - 1 AS df_between, n - k AS df_within,
           round((ssb_k / CAST(k - 1 AS DOUBLE))
             / (ssw_k / CAST(n - k AS DOUBLE)), 6) AS w_stat
         FROM f ORDER BY priority"""),
    "stats_durbin_watson" -> Op(durbinWatson,
      s"""WITH $hourlyTrendFitSql,
         e AS (SELECT t, slope, icept,
             round(y - (icept + slope * t), 6) AS e
           FROM f2),
         d AS (SELECT *, e - LAG(e) OVER (ORDER BY t) AS de FROM e)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           round(MAX(slope), 6) AS slope,
           round(MAX(icept), 6) AS intercept,
           round(${dsumSql("round(de * de, 6)")}
             / ${dsumSql("round(e * e, 6)")}, 6) AS dw,
           CASE WHEN round(${dsumSql("round(de * de, 6)")}
               / ${dsumSql("round(e * e, 6)")}, 6) < 1.5
             THEN 'positive_autocorr'
             WHEN round(${dsumSql("round(de * de, 6)")}
               / ${dsumSql("round(e * e, 6)")}, 6) > 2.5
             THEN 'negative_autocorr' ELSE 'none' END AS verdict
         FROM d"""),
    "stats_welch_ttest" -> Op(welchTTest,
      s"""WITH $clickPurchaseMomentsSql,
         vn AS (SELECT *,
             round(var_click / CAST(n_click AS DOUBLE), 6) AS vn1,
             round(var_purchase / CAST(n_purchase AS DOUBLE), 6) AS vn2
           FROM st)
         SELECT n_click, n_purchase, mean_click, mean_purchase,
           var_click, var_purchase,
           round((mean_click - mean_purchase) / sqrt(vn1 + vn2), 6) AS t_stat,
           round((vn1 + vn2) * (vn1 + vn2)
             / (vn1 * vn1 / CAST(n_click - 1 AS DOUBLE)
               + vn2 * vn2 / CAST(n_purchase - 1 AS DOUBLE)), 6) AS df_welch,
           abs(round((mean_click - mean_purchase) / sqrt(vn1 + vn2), 6)) > 1.96
             AS significant_95
         FROM vn"""),
    "stats_anova_f" -> Op(anovaF,
      s"""WITH g AS (SELECT o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             round(${dsumSql("o_totalprice")}, 6) AS s_g
           FROM orders GROUP BY 1),
         $anovaMeansSql,
         pg AS (SELECT priority, n_g, mean_g, n, k,
             SUM(CAST(round(((o_totalprice - mean_g) / 1000.0)
               * ((o_totalprice - mean_g) / 1000.0), 6) AS DECIMAL(28,6)))
               AS ssw_g,
             SUM(CAST(round(((o_totalprice - mean_t) / 1000.0)
               * ((o_totalprice - mean_t) / 1000.0), 6) AS DECIMAL(28,6)))
               AS sst_g
           FROM orders JOIN w ON o_orderpriority = priority
           GROUP BY 1, 2, 3, 4, 5),
         $anovaSumsSql
         SELECT priority, n_g, mean_g, ssb_k, ssw_k,
           k - 1 AS df_between, n - k AS df_within,
           round((ssb_k / CAST(k - 1 AS DOUBLE))
             / (ssw_k / CAST(n - k AS DOUBLE)), 6) AS f_stat,
           round(ssb_k / (ssb_k + ssw_k), 6) AS eta_sq
         FROM f ORDER BY priority"""),
    "stats_spearman" -> Op(spearman,
      s"""WITH li AS (SELECT l_quantity AS q, round(l_extendedprice, 6) AS v
           FROM lineitem),
         rq AS (SELECT q,
             round(CAST(2 * (SUM(cnt) OVER (ORDER BY q) - cnt) + cnt + 1
                 AS DOUBLE)
               / CAST(2 * SUM(cnt) OVER () AS DOUBLE), 6) AS r_q
           FROM (SELECT q, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY 1)),
         rv AS (SELECT v,
             round(CAST(2 * (SUM(cnt) OVER (ORDER BY v) - cnt) + cnt + 1
                 AS DOUBLE)
               / CAST(2 * SUM(cnt) OVER () AS DOUBLE), 6) AS r_v
           FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY 1)),
         rr AS (SELECT r_q, r_v FROM li JOIN rq USING (q) JOIN rv USING (v)),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             round(${dsumSql("r_q")}, 6) AS sx,
             round(${dsumSql("r_v")}, 6) AS sy,
             round(${dsumSql("round(r_q * r_q, 6)")}, 6) AS sxx,
             round(${dsumSql("round(r_v * r_v, 6)")}, 6) AS syy,
             round(${dsumSql("round(r_q * r_v, 6)")}, 6) AS sxy
           FROM rr)
         SELECT n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
               * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS rho_spearman
         FROM s"""),
    "stats_jsd_sources" -> Op(jsdSources,
      s"""WITH tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t
           FROM documents GROUP BY 1),
         nl AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl
           FROM documents),
         grid AS (SELECT source, t, nl, lang
           FROM tot, nl, (SELECT DISTINCT lang FROM documents)),
         cnt AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM documents GROUP BY 1, 2),
         p AS (SELECT grid.source, grid.lang,
             round(CAST(COALESCE(cnt, 0) + 1 AS DOUBLE)
               / CAST(t + nl AS DOUBLE), 6) AS p
           FROM grid LEFT JOIN cnt
             ON grid.source = cnt.source AND grid.lang = cnt.lang),
         pr AS (SELECT a.source AS src_a, b.source AS src_b,
             round(a.p * round(ln(2.0 * a.p / (a.p + b.p)), 6), 6) AS ta,
             round(b.p * round(ln(2.0 * b.p / (a.p + b.p)), 6), 6) AS tb
           FROM p a JOIN p b ON a.lang = b.lang AND a.source < b.source),
         mic AS (SELECT src_a, src_b,
             CAST((SUM(CAST(ta AS DECIMAL(18,6)))
               + SUM(CAST(tb AS DECIMAL(18,6)))) * 1000000 AS BIGINT)
               AS x_micro
           FROM pr GROUP BY 1, 2)
         SELECT src_a, src_b,
           CAST((x_micro + 1) // 2 AS DOUBLE) / 1e6 AS jsd
         FROM mic ORDER BY jsd DESC, src_a, src_b LIMIT 20"""),
  )
}
