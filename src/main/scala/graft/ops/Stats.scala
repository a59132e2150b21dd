package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical statistics / econometrics operators (round 11): Gini +
  * Lorenz inequality curve, Benford first-digit audit, two-sample
  * Kolmogorov–Smirnov, and the Kaplan–Meier survival estimator. The
  * family's shared scale contract is the one the midrank-AUC row (L242)
  * established: every "needs a global sort" statistic is re-expressed
  * over the DISTINCT-VALUE frame (round-6 quantization bounds it at
  * ≤10⁶+ rows however large the corpus), so the corpus itself is
  * touched only by map-combinable aggregates; the single-partition
  * window runs on the bounded frame, never the data.
  *
  * Determinism: exact integers wherever possible; ratios of integers
  * round-6; every transcendental (ln / exp) rounded to 6 decimals at
  * the call site per the repo's cross-libm contract; double sums via
  * [[graft.Tables.dsum]] decimal quantization. */
object Stats {

  /** L251 — Gini coefficient + Lorenz curve of customer revenue (the
    * canonical inequality readout; completes the concentration family
    * beside L211's top-decile share). Revenue per customer = round-6
    * decimal sum of order totals, customers with no orders included at
    * 0 — the honest population. The rank-sum formula
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n needs ascending ranks, but ranks
    * are computed on the VALUE-GROUPED frame: a group of c equal values
    * v with cumulative count C contributes v·(c·(C−c) + c(c+1)/2) —
    * Σ i over the group in closed form, invariant to intra-tie order.
    * The Lorenz curve is sampled at the 10 decile grid points by
    * locating the ⌊n·d/10⌋-th smallest customer inside its value group
    * (cum_rev = cumS_prev + (k − C_prev)·v — again tie-order-free).
    * Corpus cost: one orders scan + one dim-sized left join; the
    * cumulative counts/sums over the distinct-revenue frame run through
    * [[PrefixScan]] (range-partitioned two-pass scan) — the frame is
    * customer-cardinality-grain, so a single-partition window here would
    * be the r11 verdict's scale defect. */
  def giniLorenz(spark: SparkSession, dir: String): DataFrame = {
    val rev = customer(spark, dir).select(col("c_custkey"))
      .join(orders(spark, dir).groupBy(col("o_custkey"))
          .agg(round(dsum(col("o_totalprice")), 6).as("r0")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("r0"), lit(0.0)).as("v"))
    val grouped = rev.groupBy("v").agg(count(lit(1)).as("c"))
      .withColumn("vc", round(col("v") * col("c"), 6).cast("decimal(18,6)"))
    val (frame, _) = PrefixScan(grouped, Seq("v"),
      sumsLong = Seq("c" -> "cum_c"), sumsDec = Seq("vc" -> "cum_s"))
    val agg = frame.agg(
      max(col("cum_c")).as("n"),
      round(dsum(round(col("v") * col("c"), 6)), 6).as("t"),
      round(dsum(round(col("v") *
        (col("c") * (col("cum_c") - col("c")) +
          expr("c * (c + 1) div 2")).cast("double"), 6)), 6).as("sum_ix"))
    val gini = agg.select(col("n"), col("t"),
      round(lit(2.0) * col("sum_ix") / (col("n").cast("double") * col("t")) -
        (col("n") + 1).cast("double") / col("n").cast("double"), 6).as("gini"))
    val deciles = gini.select(col("n"), col("t"), col("gini"),
        explode(sequence(lit(1), lit(10))).as("decile"))
      .withColumn("k", expr("n * decile div 10"))
    frame.join(broadcast(deciles),
        col("cum_c") - col("c") < col("k") && col("k") <= col("cum_c"))
      .select(col("decile"), col("k").as("n_cust"),
        round((col("cum_s") - round((col("cum_c") - col("k")).cast("double") *
          col("v"), 6)) / col("t"), 6).as("cum_rev_share"),
        col("gini"))
      .orderBy("decile")
  }

  /** L252 — Benford first-significant-digit audit of order totals
    * (Newcomb 1881 / Benford 1938; the classic fraud/synthetic-data
    * screen: natural multi-scale amounts follow P(d) = log₁₀(1+1/d)).
    * First digit via integer floor → string head (never log10 of a
    * double near a power-of-10 boundary — the cross-libm trap); the
    * nine expected probabilities are JVM-precomputed round-6 LITERALS
    * shared verbatim with the oracle SQL, so both engines grade
    * against bit-identical expectations. One map-combinable 9-group
    * agg; χ² per digit + the 9-row total via a frame window. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val obs = orders(spark, dir)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val withP = obs.join(broadcast(benfordP(spark)), "digit")
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    withP
      .withColumn("n", sum(col("n_obs")).over(w))
      .withColumn("expected", round(col("n").cast("double") * col("p_benford"), 6))
      .withColumn("chi2_term",
        round((col("n_obs").cast("double") - col("expected")) *
          (col("n_obs").cast("double") - col("expected")) / col("expected"), 6))
      .withColumn("chi2_total", round(sum(col("chi2_term")).over(w), 6))
      .select(col("digit"), col("n_obs"), col("p_benford"), col("expected"),
        col("chi2_term"), col("chi2_total"))
      .orderBy("digit")
  }

  /** The nine Benford probabilities as round-6 literals (JVM log10,
    * frozen at authoring time into both engines' plans). */
  private val BenfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> round6(math.log10(1.0 + 1.0 / d)))
  private def benfordP(spark: SparkSession): DataFrame = {
    import spark.implicits._
    BenfordP.toDF("digit", "p_benford")
  }

  /** L253 — two-sample Kolmogorov–Smirnov test between the click and
    * purchase value distributions (the nonparametric drift test that
    * reads the WHOLE distribution, complementing L126's binned PSI).
    * D = max |F₁−F₂| evaluated on the merged distinct-value frame; the
    * max is taken over the INTEGER |c₁·N₂ − c₂·N₁| (cumulative counts
    * cross-scaled) so the statistic is exact until one final division.
    * p-value via the asymptotic two-sided bound 2·exp(−2D²·nₑ),
    * nₑ = N₁N₂/(N₁+N₂), clamped to 1 — exp round-6 on the 1-row
    * reduce. Corpus cost: one value-grouped agg; cumulative counts over
    * the distinct-value frame via [[PrefixScan]] (the frame grows with
    * the corpus until the round-6 grid saturates — never a
    * single-partition window), with the two sample sizes coming back as
    * exact scan totals instead of a whole-frame window. */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val per = events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(round(col("value"), 6).as("v"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n2"))
    val (cum, tot) = PrefixScan(per, Seq("v"),
      sumsLong = Seq("n1" -> "c1", "n2" -> "c2"))
    val t1 = tot.longs("n1")
    val t2 = tot.longs("n2")
    cum.agg(
        max(lit(t1)).as("n_click"), max(lit(t2)).as("n_purchase"),
        max(abs(col("c1") * lit(t2) - col("c2") * lit(t1))).as("d_num"))
      .select(col("n_click"), col("n_purchase"),
        round(col("d_num").cast("double") /
          (col("n_click") * col("n_purchase")).cast("double"), 6).as("d_stat"))
      .withColumn("p_value", least(lit(1.0), round(lit(2.0) *
        round(exp(lit(-2.0) * col("d_stat") * col("d_stat") *
          (col("n_click") * col("n_purchase")).cast("double") /
          (col("n_click") + col("n_purchase")).cast("double")), 6), 6)))
  }

  /** L254 — Kaplan–Meier survival estimator (Kaplan & Meier JASA 1958)
    * over user "lifetimes" (hours between a user's first and last
    * event), right-censored for users still active in the final 24 h
    * of the observation window — the product-limit curve every
    * churn/retention analysis starts from. The sequential product
    * Π(1 − dᵢ/nᵢ) is de-sequentialized as exp(Σ ln(1 − dᵢ/nᵢ)) with
    * ln round-6 → decimal cumsum → exp round-6 (the CUSUM
    * prefix-trick's multiplicative sibling). At-risk nᵢ counts BOTH
    * event and censored lifetimes ≥ tᵢ (same-hour censorings count as
    * at risk — the standard discrete-time convention, documented
    * because it is a convention). Corpus cost: one user-keyed agg; the
    * survival window runs over ≤|span-in-hours| distinct lifetimes. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val horizon = ev.agg(max(unix_micros(col("ts"))).as("t_max"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"))
      .crossJoin(broadcast(horizon))
      .select(expr("(t1 - t0) div 3600000000").as("t_h"),
        (col("t1") > col("t_max") - lit(24L * 3600000000L)).as("censored"))
    val perT = users.groupBy("t_h")
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("c_all"))
    val w = Window.orderBy(col("t_h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perT
      .withColumn("n_risk", sum(col("c_all")).over(wAll) -
        (sum(col("c_all")).over(w) - col("c_all")))
      .withColumn("log_s", sum(round(log(lit(1.0) -
          col("d").cast("double") / col("n_risk").cast("double")), 6)
        .cast("decimal(18,6)")).over(w).cast("double"))
      .where(col("d") >= 1)
      .select(col("t_h").as("t_hours"), col("n_risk"), col("d").as("n_events"),
        (col("c_all") - col("d")).as("n_censored_at_t"),
        round(exp(col("log_s")), 6).as("survival"))
      .orderBy("t_hours")
  }

  /** L260 — Theil-T inequality index with within/between-nation
    * decomposition (Theil 1967; the property Gini famously LACKS:
    * T_total = T_between + Σ s_g·T_g exactly, so a 100-TB job can
    * attribute inequality to geography vs within-market spread in one
    * pass). Population = customers with revenue (x > 0, as the index
    * requires). Every ln is round-6 (cross-libm contract); each
    * group's stats are a 25-row broadcast joined back onto the
    * customer frame, so the corpus cost is two dim-scale aggregates.
    * Output: one row per nation (share, within-group T, between
    * contribution) with the three corpus totals riding every row; the
    * decomposition identity is spec-pinned to ~1e-5 (exact in ℝ,
    * rounding-limited in round-6 space). */
  def theilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val x = orders(spark, dir).groupBy(col("o_custkey"))
      .agg(round(dsum(col("o_totalprice")), 6).as("x"))
      .join(customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("x"))
    val tot = x.agg(round(dsum(col("x")), 6).as("xt"),
      count(lit(1)).as("n"))
    val grp = x.groupBy("n_name")
      .agg(round(dsum(col("x")), 6).as("xg"), count(lit(1)).as("ng"))
    val withinG = x.join(broadcast(grp), "n_name")
      .groupBy("n_name")
      .agg(round(dsum(round((col("x") / col("xg")) *
        round(log(col("x") * col("ng").cast("double") / col("xg")), 6), 6)), 6)
        .as("t_g"))
    val totalT = x.crossJoin(broadcast(tot))
      .agg(round(dsum(round((col("x") / col("xt")) *
        round(log(col("x") * col("n").cast("double") / col("xt")), 6), 6)), 6)
        .as("theil_total"))
    val perNation = grp.join(withinG, "n_name").crossJoin(broadcast(tot))
      .select(col("n_name"), col("ng").as("n_cust"),
        round(col("xg") / col("xt"), 6).as("rev_share"),
        col("t_g").as("theil_within_g"),
        round((col("xg") / col("xt")) *
          round(log((col("xg") / col("xt")) *
            (col("n").cast("double") / col("ng").cast("double"))), 6), 6)
          .as("between_g"),
        round((col("xg") / col("xt")) * col("t_g"), 6).as("within_g_weighted"))
    val parts = perNation.agg(
      round(dsum(col("between_g")), 6).as("theil_between"),
      round(dsum(col("within_g_weighted")), 6).as("theil_within"))
    perNation.crossJoin(broadcast(parts)).crossJoin(broadcast(totalT))
      .select(col("n_name"), col("n_cust"), col("rev_share"),
        col("theil_within_g"), col("between_g"), col("theil_between"),
        col("theil_within"), col("theil_total"))
      .orderBy("n_name")
  }

  /** L261 — Mann–Kendall trend test over the hourly revenue series
    * (Mann 1945 / Kendall 1975; the nonparametric "is there a monotone
    * trend" screen run where L218's OLS slope would be distorted by
    * outliers). S = Σ_{i<j} sgn(yⱼ−yᵢ) — exact integers over the
    * CALENDAR-BOUNDED hourly frame (H hours → H²/2 pairs of a ≤10⁴-row
    * frame at any corpus size; the corpus itself is touched by one
    * hour-keyed agg). Tie-corrected variance (n(n−1)(2n+5) −
    * Σ t(t−1)(2t+5))/18 from the value-grouped tie table; z uses the
    * ±1 continuity correction; verdict at |z| > 1.96. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(round(dsum(col("value")), 6).as("y"))
    val pairs = hourly.as("a").join(hourly.as("b"),
        col("a.bucket") < col("b.bucket"))
      .agg(sum(when(col("b.y") > col("a.y"), 1L)
        .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s"))
    val ties = hourly.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_adj"),
        sum(col("t")).as("n"))
    pairs.crossJoin(broadcast(ties))
      .select(col("n").as("n_hours"), col("s"), col("tie_adj"),
        round((expr("n * (n - 1) * (2 * n + 5)") - col("tie_adj"))
          .cast("double") / 18.0, 6).as("var_s"))
      .withColumn("z", round(
        when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)), 6))
      .withColumn("trend",
        when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing")).otherwise(lit("none")))
  }

  /** L262 — χ² test of independence, event type × hour-of-day, with
    * Cramér's V (Pearson 1900 / Cramér 1946; the "is behavior
    * time-of-day dependent" audit on a contingency table). The 5×24
    * cell table comes from ONE map-combinable agg; marginals and N are
    * window sums over the 120-row frame — no joins at all. Expected
    * counts are exact-integer ratios; per-cell terms round-6 →
    * decimal-summed; V = √(χ²/(N·min(r−1,c−1))). */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("o"))
    val wr = Window.partitionBy(col("event_type"))
    val wc = Window.partitionBy(col("hr"))
    val wAll = Window.partitionBy()
    cells
      .withColumn("ro", sum(col("o")).over(wr))
      .withColumn("co", sum(col("o")).over(wc))
      .withColumn("nn", sum(col("o")).over(wAll))
      .withColumn("e", col("ro").cast("double") * col("co").cast("double") /
        col("nn").cast("double"))
      .withColumn("term", round((col("o").cast("double") - col("e")) *
        (col("o").cast("double") - col("e")) / col("e"), 6))
      .agg(max(col("nn")).as("n"),
        countDistinct(col("event_type")).as("n_rows"),
        countDistinct(col("hr")).as("n_cols"),
        round(dsum(col("term")), 6).as("chi2"))
      .withColumn("dof", (col("n_rows") - 1) * (col("n_cols") - 1))
      .withColumn("cramers_v", round(sqrt(col("chi2") /
        (col("n").cast("double") *
          least(col("n_rows") - 1, col("n_cols") - 1).cast("double"))), 6))
      .select(col("n"), col("n_rows"), col("n_cols"), col("dof"),
        col("chi2"), col("cramers_v"))
  }

  /** Poisson(1) inverse-CDF thresholds c_k = e⁻¹·Σ_{j≤k} 1/j!, k=0..7,
    * frozen as round-12 JVM literals shared verbatim with the oracle —
    * both engines compare the exact-dyadic u against bit-identical
    * constants. */
  private val PoissonC: Seq[Double] = {
    var fact = 1.0; var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cum += 1.0 / fact
      BigDecimal(cum * math.exp(-1.0))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }
  private val BootB = 32

  /** L263 — Poisson bootstrap confidence interval for the mean purchase
    * value (Chamandy et al. 2012, "Estimating uncertainty for massive
    * data streams" — THE resampling scheme for one-pass distributed
    * data: per replica b, each row enters with weight w ~ Poisson(1),
    * so all B=32 resamples ride ONE corpus scan as B counters; no
    * shuffling of resampled rows ever exists). Weights are DETERMINISTIC
    * here: u = (h48(event_id:b)+0.5)/2⁴⁸ — an exact dyadic in (0,1) —
    * inverted through the frozen round-12 threshold table (cap 8), so
    * every draw replays bit-for-bit in CI and the oracle; production
    * swaps a sealed PRNG, same plumbing. CI = the (2nd, 31st) order
    * statistics of the 32 replica means — the ~93.75% order-statistic
    * interval; the point estimate rides every row. */
  def poissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val full = ev.agg(round(davg(col("value")), 6).as("mean_full"))
    val cArr = array(PoissonC.map(lit): _*)
    val reps = ev
      .select(col("event_id"), col("value"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u", (h48(concat_ws(":", col("event_id"), col("b"))) +
        lit(0.5)) / lit(281474976710656.0))
      .withColumn("w", size(filter(cArr, c => col("u") > c)).cast("long"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        round(dsum(round(col("w") * col("value"), 6)) /
          sum(col("w")).cast("double"), 6).as("mean_b"))
    val wRank = Window.orderBy(col("mean_b"), col("b"))
    val wAll = Window.partitionBy()
    reps
      .withColumn("rn", row_number().over(wRank))
      .withColumn("ci_lo", max(when(col("rn") === 2, col("mean_b"))).over(wAll))
      .withColumn("ci_hi", max(when(col("rn") === BootB - 1, col("mean_b")))
        .over(wAll))
      .crossJoin(broadcast(full))
      .select(col("b").as("replica"), col("n_eff"), col("mean_b"),
        col("mean_full"), col("ci_lo"), col("ci_hi"))
      .orderBy("replica")
  }

  /** L268 — Hill estimator of the heavy-tail exponent of order values
    * (Hill Ann. Stat. 1975: α̂ = [k⁻¹ Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎)]⁻¹ over
    * the k largest order statistics — the number that says whether the
    * revenue tail is Pareto-fat, read before trusting any mean-based
    * forecast; the heavy-tail sibling of L228's Zipf slope, which fits
    * ranks of FREQUENCIES, not values). The scale story is the whole
    * point: the k+1 top order statistics come from
    * TakeOrderedAndProject on the total (value desc, key) order — a
    * per-partition heap + driver merge of k+1 rows, NO global sort at
    * any corpus size; everything after is a 201-row local frame. ln
    * round-6 → decimal mean → one reciprocal. */
  def hillTail(spark: SparkSession, dir: String): DataFrame = {
    val k = 200
    val top = orders(spark, dir)
      .select(col("o_totalprice").as("x"), col("o_orderkey").as("okey"))
      .orderBy(col("x").desc, col("okey")).limit(k + 1)
    val w = Window.orderBy(col("x").desc, col("okey"))
    val ranked = top.withColumn("rn", row_number().over(w))
    val thr = ranked.where(col("rn") === k + 1)
      .select(col("x").as("x_threshold"))
    ranked.where(col("rn") <= k).crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("k"), max(col("x_threshold")).as("x_threshold"),
        round(dsum(round(log(col("x") / col("x_threshold")), 6)) /
          lit(k.toDouble), 6).as("mean_log_excess"))
      .withColumn("alpha", round(lit(1.0) / col("mean_log_excess"), 6))
  }

  /** L309 — Kendall's τ-b between daily order count and daily revenue
    * (Kendall 1938 with the 1945 tie correction — the concordance
    * statistic whose pairwise form survives any monotone transform;
    * the cross-SERIES companion to L247's Mann–Kendall, which runs the
    * same pair logic against time itself). The corpus collapses to the
    * calendar-bounded daily frame first (map-combinable agg; ≤a few
    * thousand rows at ANY corpus size), so the O(n²) pair join is
    * bounded-frame × bounded-frame, never data-sized — the
    * L247/L251 self-pair contract. Concordant/discordant/tied counts
    * are exact integers; τ-b = (nc−nd)/√((n₀−tx)(n₀−ty)) is the one
    * round-6 division at the end. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val daily = orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("x"), round(dsum(col("o_totalprice")), 6).as("y"))
    val pairs = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("b.x") > col("a.x") && col("b.y") > col("a.y")) ||
          (col("b.x") < col("a.x") && col("b.y") < col("a.y")), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("b.x") > col("a.x") && col("b.y") < col("a.y")) ||
          (col("b.x") < col("a.x") && col("b.y") > col("a.y")), 1L)
          .otherwise(0L)).as("nd"),
        sum(when(col("b.x") === col("a.x"), 1L).otherwise(0L)).as("tied_x"),
        sum(when(col("b.y") === col("a.y"), 1L).otherwise(0L)).as("tied_y"))
    val n0 = col("n_pairs").cast("double")
    pairs
      .withColumn("tau_b", round((col("nc") - col("nd")).cast("double") /
        sqrt((n0 - col("tied_x").cast("double")) *
          (n0 - col("tied_y").cast("double"))), 6))
      .select("n_pairs", "nc", "nd", "tied_x", "tied_y", "tau_b")
  }

  /** L327 — Q–Q decile table, click vs purchase event values (Wilk &
    * Gnanadesikan 1968 — the quantile-quantile comparison every
    * distribution-shift review plots; the tabular form of the picture,
    * and the WHERE to L218's KS statistic, which only says how far the
    * worst gap is). Both groups' nine deciles from ONE conditional
    * percentile agg (exact interpolated percentile — the L21/L207
    * contract — over round-6-quantized values, so the sort frame is
    * bounded at any corpus size); gaps in exact decimal space. */
  def qqDeciles(spark: SparkSession, dir: String): DataFrame = {
    val ps = (1 to 9).map(i => s"CAST($i AS DOUBLE) / 10").mkString(", ")
    val agged = events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .agg(
        expr(s"percentile(CASE WHEN event_type = 'click' THEN value END, array($ps))")
          .as("qc"),
        expr(s"percentile(CASE WHEN event_type = 'purchase' THEN value END, array($ps))")
          .as("qp"))
    agged
      .select(posexplode(arrays_zip(col("qc"), col("qp"))))
      .select(((col("pos") + 1).cast("double") / 10.0).as("p"),
        round(col("col.qc"), 6).as("q_click"),
        round(col("col.qp"), 6).as("q_purchase"))
      .withColumn("qq_gap", (col("q_click").cast("decimal(18,6)") -
        col("q_purchase").cast("decimal(18,6)")).cast("double"))
      .orderBy("p")
  }

  val entries: Map[String, Op] = Map(
    "stats_qq_deciles" -> Op(qqDeciles, {
      val ps = (1 to 9).map(i => s"CAST($i AS DOUBLE) / 10").mkString(", ")
      s"""WITH q AS (SELECT
             quantile_cont(CASE WHEN event_type = 'click' THEN value END,
               [$ps]) AS qc,
             quantile_cont(CASE WHEN event_type = 'purchase' THEN value END,
               [$ps]) AS qp
           FROM events WHERE event_type IN ('click', 'purchase')),
         x AS (SELECT CAST(UNNEST(range(1, 10)) AS BIGINT) AS i, qc, qp
           FROM q)
         SELECT CAST(i AS DOUBLE) / 10.0 AS p,
           round(qc[i], 6) AS q_click,
           round(qp[i], 6) AS q_purchase,
           CAST(CAST(round(qc[i], 6) AS DECIMAL(18,6))
             - CAST(round(qp[i], 6) AS DECIMAL(18,6)) AS DOUBLE) AS qq_gap
         FROM x ORDER BY p"""
    }),
    "stats_kendall_tau" -> Op(kendallTau,
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS x,
             round(${dsumSql("o_totalprice")}, 6) AS y
           FROM orders GROUP BY 1),
         p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y)
               OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
             CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y)
               OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END) AS BIGINT)
               AS nd,
             CAST(SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS BIGINT)
               AS tied_x,
             CAST(SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT)
               AS tied_y
           FROM daily a JOIN daily b ON a.d < b.d)
         SELECT n_pairs, nc, nd, tied_x, tied_y,
           round(CAST(nc - nd AS DOUBLE) /
             sqrt((CAST(n_pairs AS DOUBLE) - CAST(tied_x AS DOUBLE))
               * (CAST(n_pairs AS DOUBLE) - CAST(tied_y AS DOUBLE))), 6)
             AS tau_b
         FROM p"""),
    "stats_hill_tail" -> Op(hillTail,
      s"""WITH top AS (SELECT o_totalprice AS x, o_orderkey AS okey
           FROM orders ORDER BY x DESC, okey LIMIT 201),
         rk AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, okey) AS rn
           FROM top),
         thr AS (SELECT x AS x_threshold FROM rk WHERE rn = 201),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             MAX(x_threshold) AS x_threshold,
             round(${dsumSql("round(ln(x / x_threshold), 6)")} / 200.0, 6)
               AS mean_log_excess
           FROM rk, thr WHERE rn <= 200)
         SELECT k, x_threshold, mean_log_excess,
           round(1.0 / mean_log_excess, 6) AS alpha
         FROM a"""),
    "stats_theil_decomposition" -> Op(theilDecomposition,
      s"""WITH x AS (SELECT n.n_name,
             round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS x
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           GROUP BY o.o_custkey, n.n_name),
         tot AS (SELECT round(${dsumSql("x")}, 6) AS xt,
             CAST(COUNT(*) AS BIGINT) AS n FROM x),
         grp AS (SELECT n_name, round(${dsumSql("x")}, 6) AS xg,
             CAST(COUNT(*) AS BIGINT) AS ng FROM x GROUP BY 1),
         wg AS (SELECT x.n_name,
             round(${dsumSql("round((x / xg) * round(ln(x * CAST(ng AS DOUBLE) / xg), 6), 6)")}, 6)
               AS t_g
           FROM x JOIN grp USING (n_name) GROUP BY 1),
         tt AS (SELECT
             round(${dsumSql("round((x / xt) * round(ln(x * CAST(n AS DOUBLE) / xt), 6), 6)")}, 6)
               AS theil_total
           FROM x, tot),
         pn AS (SELECT grp.n_name, ng AS n_cust,
             round(xg / xt, 6) AS rev_share,
             t_g AS theil_within_g,
             round((xg / xt) * round(ln((xg / xt)
               * (CAST(n AS DOUBLE) / CAST(ng AS DOUBLE))), 6), 6) AS between_g,
             round((xg / xt) * t_g, 6) AS within_g_weighted
           FROM grp JOIN wg USING (n_name), tot),
         parts AS (SELECT round(${dsumSql("between_g")}, 6) AS theil_between,
             round(${dsumSql("within_g_weighted")}, 6) AS theil_within
           FROM pn)
         SELECT n_name, n_cust, rev_share, theil_within_g, between_g,
           theil_between, theil_within, theil_total
         FROM pn, parts, tt ORDER BY n_name"""),
    "stats_mann_kendall" -> Op(mannKendall,
      s"""WITH hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS y
           FROM events GROUP BY 1),
         p AS (SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
               WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
           FROM hourly a JOIN hourly b ON a.bucket < b.bucket),
         tg AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS t
           FROM hourly GROUP BY 1),
         ties AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
               AS tie_adj,
             CAST(SUM(t) AS BIGINT) AS n
           FROM tg),
         f AS (SELECT n AS n_hours, s, tie_adj,
             round(CAST(n * (n - 1) * (2 * n + 5) - tie_adj AS DOUBLE) / 18.0, 6)
               AS var_s
           FROM p, ties),
         z AS (SELECT *,
             round(CASE WHEN s > 0
                 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
               WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
               ELSE 0.0 END, 6) AS z
           FROM f)
         SELECT n_hours, s, tie_adj, var_s, z,
           CASE WHEN z > 1.96 THEN 'increasing'
             WHEN z < -1.96 THEN 'decreasing' ELSE 'none' END AS trend
         FROM z"""),
    "stats_chi2_independence" -> Op(chi2Independence,
      s"""WITH cells AS (SELECT event_type, hour($evTs) AS hr,
             CAST(COUNT(*) AS BIGINT) AS o
           FROM events GROUP BY 1, 2),
         m AS (SELECT *,
             SUM(o) OVER (PARTITION BY event_type) AS ro,
             SUM(o) OVER (PARTITION BY hr) AS co,
             SUM(o) OVER () AS nn
           FROM cells),
         t AS (SELECT *,
             round((CAST(o AS DOUBLE) - CAST(ro AS DOUBLE) * CAST(co AS DOUBLE)
                 / CAST(nn AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(ro AS DOUBLE) * CAST(co AS DOUBLE)
                 / CAST(nn AS DOUBLE))
               / (CAST(ro AS DOUBLE) * CAST(co AS DOUBLE) / CAST(nn AS DOUBLE)),
               6) AS term
           FROM m),
         a AS (SELECT CAST(MAX(nn) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT hr) AS BIGINT) AS n_cols,
             round(${dsumSql("term")}, 6) AS chi2
           FROM t)
         SELECT n, n_rows, n_cols, (n_rows - 1) * (n_cols - 1) AS dof, chi2,
           round(sqrt(chi2 / (CAST(n AS DOUBLE)
             * CAST(LEAST(n_rows - 1, n_cols - 1) AS DOUBLE))), 6) AS cramers_v
         FROM a"""),
    "stats_poisson_bootstrap" -> Op(poissonBootstrap, {
      val cList = PoissonC.map(c => f"$c%.12f").mkString("[", ", ", "]")
      val seed = "CAST(event_id AS VARCHAR) || ':' || CAST(g.b AS VARCHAR)"
      s"""WITH ev AS (SELECT event_id, value FROM events
           WHERE event_type = 'purchase'),
         full_m AS (SELECT round(${dsumSql("value")} / COUNT(value), 6)
             AS mean_full FROM ev),
         r AS (SELECT value,
             g.b,
             (${graft.Tables.h48Sql(seed)} + 0.5) / 281474976710656.0 AS u
           FROM ev CROSS JOIN
             (SELECT unnest(generate_series(0, ${BootB - 1})) AS b) g),
         w AS (SELECT b, value,
             CAST(len(list_filter($cList, hx_c -> u > hx_c)) AS BIGINT) AS w
           FROM r),
         reps AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
             round(${dsumSql("round(w * value, 6)")} / CAST(SUM(w) AS DOUBLE), 6)
               AS mean_b
           FROM w GROUP BY 1),
         rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rn
           FROM reps),
         ci AS (SELECT
             MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
             MAX(CASE WHEN rn = ${BootB - 1} THEN mean_b END) AS ci_hi
           FROM rk)
         SELECT CAST(b AS INT) AS replica, n_eff, mean_b, mean_full,
           ci_lo, ci_hi
         FROM rk, ci, full_m ORDER BY replica""" }),
    "stats_gini_lorenz" -> Op(giniLorenz,
      """WITH rev AS (SELECT c.c_custkey,
             COALESCE(r.r0, 0.0) AS v
           FROM customer c LEFT JOIN (
             SELECT o_custkey,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS r0 FROM orders GROUP BY 1) r ON c.c_custkey = r.o_custkey),
         g AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM rev GROUP BY 1),
         f AS (SELECT v, c,
             SUM(c) OVER (ORDER BY v) AS cum_c,
             CAST(SUM(CAST(round(v * c, 6) AS DECIMAL(18,6)))
               OVER (ORDER BY v) AS DOUBLE) AS cum_s
           FROM g),
         a AS (SELECT MAX(cum_c) AS n,
             round(CAST(SUM(CAST(round(v * c, 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS t,
             round(CAST(SUM(CAST(round(v * CAST(c * (cum_c - c)
               + c * (c + 1) // 2 AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS sum_ix
           FROM f),
         gi AS (SELECT n, t,
             round(2.0 * sum_ix / (CAST(n AS DOUBLE) * t)
               - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
           FROM a),
         dec AS (SELECT n, t, gini, d.decile,
             CAST(n * d.decile // 10 AS BIGINT) AS k
           FROM gi, (SELECT unnest(generate_series(1, 10)) AS decile) d)
         SELECT CAST(decile AS INT) AS decile, k AS n_cust,
           round((cum_s - round(CAST(cum_c - k AS DOUBLE) * v, 6)) / t, 6)
             AS cum_rev_share,
           gini
         FROM dec JOIN f ON cum_c - c < k AND k <= cum_c
         ORDER BY decile"""),
    "stats_benford" -> Op(benford, {
      val pRows = BenfordP.map { case (d, p) => f"($d, $p%.6f)" }.mkString(", ")
      s"""WITH p(digit, p_benford) AS (VALUES $pRows),
         obs AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
               AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_obs
           FROM orders GROUP BY 1),
         j AS (SELECT obs.digit, n_obs, p_benford,
             SUM(n_obs) OVER () AS n
           FROM obs JOIN p ON obs.digit = p.digit),
         t AS (SELECT digit, n_obs, p_benford,
             round(CAST(n AS DOUBLE) * p_benford, 6) AS expected
           FROM j),
         c AS (SELECT *, round((CAST(n_obs AS DOUBLE) - expected)
             * (CAST(n_obs AS DOUBLE) - expected) / expected, 6) AS chi2_term
           FROM t)
         SELECT digit, n_obs, p_benford, expected, chi2_term,
           round(SUM(chi2_term) OVER (), 6) AS chi2_total
         FROM c ORDER BY digit""" }),
    "stats_ks_test" -> Op(ksTest,
      """WITH per AS (SELECT round(value, 6) AS v,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS n2
           FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
         cum AS (SELECT v, n1, n2,
             SUM(n1) OVER (ORDER BY v) AS c1,
             SUM(n2) OVER (ORDER BY v) AS c2,
             SUM(n1) OVER () AS t1, SUM(n2) OVER () AS t2
           FROM per),
         a AS (SELECT CAST(MAX(t1) AS BIGINT) AS n_click,
             CAST(MAX(t2) AS BIGINT) AS n_purchase,
             MAX(abs(c1 * t2 - c2 * t1)) AS d_num
           FROM cum),
         d AS (SELECT n_click, n_purchase,
             round(CAST(d_num AS DOUBLE)
               / (CAST(n_click AS DOUBLE) * CAST(n_purchase AS DOUBLE)), 6)
               AS d_stat
           FROM a)
         SELECT n_click, n_purchase, d_stat,
           LEAST(1.0, round(2.0 * round(exp(-2.0 * d_stat * d_stat
             * CAST(n_click AS DOUBLE) * CAST(n_purchase AS DOUBLE)
             / CAST(n_click + n_purchase AS DOUBLE)), 6), 6)) AS p_value
         FROM d"""),
    "stats_kaplan_meier" -> Op(kaplanMeier,
      s"""WITH h AS (SELECT MAX(epoch_us($evTs)) AS t_max FROM events),
         u AS (SELECT (MAX(epoch_us($evTs)) - MIN(epoch_us($evTs)))
               // 3600000000 AS t_h,
             MAX(epoch_us($evTs)) > (SELECT t_max FROM h) - 86400000000
               AS censored
           FROM events GROUP BY user_id),
         perT AS (SELECT t_h,
             CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
               AS d,
             CAST(COUNT(*) AS BIGINT) AS c_all
           FROM u GROUP BY 1),
         f AS (SELECT t_h, d, c_all,
             SUM(c_all) OVER () - (SUM(c_all) OVER (ORDER BY t_h) - c_all)
               AS n_risk
           FROM perT),
         s AS (SELECT t_h, d, c_all, n_risk,
             CAST(SUM(CAST(round(ln(1.0 - CAST(d AS DOUBLE)
               / CAST(n_risk AS DOUBLE)), 6) AS DECIMAL(18,6)))
               OVER (ORDER BY t_h) AS DOUBLE) AS log_s
           FROM f)
         SELECT t_h AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events, c_all - d AS n_censored_at_t,
           round(exp(log_s), 6) AS survival
         FROM s WHERE d >= 1 ORDER BY t_hours"""),
  )
}
