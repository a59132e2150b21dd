package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 second warehouse batch: EWMA smoothing/deviation alerts,
  * closed-form OLS trend fitting, and MAD-based robust outlier
  * detection — the remaining everyday time-series/statistics blocks. */
object Warehouse5 {

  private val EwmaLags = 12 // hard horizon: 2^-12 tail mass < 0.025%

  /** L224 — EWMA smoothing + deviation alerting on the hourly series
    * (Roberts 1959 geometric smoothing — the anomaly baseline every
    * monitoring stack runs; Hunter's EWMA control chart framing).
    * α = 1/2 with a hard 12-lag horizon, so every weight 2^−k is an
    * EXACT dyadic double and each term round6(x_{t−k})·2^−k is an exact
    * scaling — the sum is a FIXED left-associated 13-term chain, so both
    * engines execute the identical sequence of double adds and the
    * smoothed value is bit-stable with no decimal quantization at all
    * (the L210 exact-binary-fraction contract, extended from weights to
    * the whole dot product). Missing head lags drop out of numerator
    * AND denominator (the standard adjusted-EWMA initialization).
    * 100 TB shape: the corpus collapses to the |hours|-row series in one
    * map-combinable agg; the 13 lags are ONE window pass over that
    * calendar-bounded frame; top-20 |deviation| rows are a TakeOrdered.
    * Deviations are SEEN to be non-trivial on the fixtures (spec pins
    * the top excursion against a JVM replay). */
  def ewmaDeviation(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(round(dsum(col("value")), 6).as("x"))
    val w = Window.orderBy(col("bucket"))
    val lagged = hourly.select(
      col("bucket") +: col("x") +:
        (1 to EwmaLags).map(k => lag(col("x"), k).over(w).as(s"x$k")): _*)
    // fixed left-assoc chains → identical add order in both engines
    val num = (1 to EwmaLags).foldLeft(col("x")) { (acc, k) =>
      acc + coalesce(col(s"x$k"), lit(0.0)) * lit(math.pow(0.5, k)) }
    val den = (1 to EwmaLags).foldLeft(lit(1.0)) { (acc, k) =>
      acc + when(col(s"x$k").isNotNull, lit(math.pow(0.5, k))).otherwise(lit(0.0)) }
    lagged
      .withColumn("ewma", round(num / den, 6))
      .withColumn("dev", round(col("x") - col("ewma"), 6))
      .select(unix_micros(col("bucket")).as("bucket_us"),
        col("x"), col("ewma"), col("dev"))
      .orderBy(abs(col("dev")).desc, col("bucket_us").asc)
      .limit(20)
  }

  private def ewmaSqlChain: (String, String) = {
    val num = (1 to EwmaLags).foldLeft("x") { (acc, k) =>
      s"($acc + COALESCE(x$k, 0.0) * ${math.pow(0.5, k)})" }
    val den = (1 to EwmaLags).foldLeft("1.0") { (acc, k) =>
      s"($acc + CASE WHEN x$k IS NOT NULL THEN ${math.pow(0.5, k)} ELSE 0.0 END)" }
    (num, den)
  }

  /** L225 — closed-form OLS trend fit of daily revenue vs day index
    * (the one-pass product-moment regression — the same six-sums shape
    * as L217 autocorrelation, pointed at trend instead of self-lag).
    * x = days since 1995-01-01 (small exact ints — centered so the
    * normal-equation cancellation stays far from the double cliff),
    * y = per-day decimal revenue IN MILLIONS (keeps y² and x·y terms
    * inside DECIMAL(18,6) — raw daily revenue squared overflows the
    * 12 integer digits). All six sums are order-free (ints or
    * DECIMAL(18,6)); slope/intercept/r² are one closed-form double
    * expression over identical operands in both engines, round-6.
    * 100 TB: one map-combinable daily agg (calendar-bounded) + a 1-row
    * reduce — the corpus is scanned exactly once. */
  def olsDailyTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = orders(spark, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")).as("xd"))
      .agg(round(dsum(col("o_totalprice")) / 1e6, 6).as("y"))
      .select(col("xd").cast("long").as("x"), col("y"))
    val s = daily.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      dsum(col("y")).as("sy"),
      dsum(round(col("x") * col("y"), 6)).as("sxy"),
      dsum(round(col("y") * col("y"), 6)).as("syy"))
    s.select(
        col("n").as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"),
        round((col("sy") - col("sx").cast("double") *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))) /
          col("n").cast("double"), 6).as("intercept"),
        round(
          ((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
          (((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** L226 — MAD robust outlier detection per event type (Hampel's
    * median-absolute-deviation scale; the Iglewicz–Hoaglin modified
    * z-score \|0.6745(x−med)/MAD\| > 3.5 rule — the robust sibling of
    * the L59 z-score, immune to the outliers it hunts). Medians are the
    * exact interpolated percentile (the L21/L207 contract), rounded 6dp
    * and broadcast as per-type rows; the deviation pass and the MAD
    * percentile reuse the same type-keyed shape; flagging is row-local.
    * 100 TB: two passes over the corpus (med, then MAD+flags) — the
    * unavoidable data dependence of nested medians — each one
    * percentile-agg, nothing global. Outliers fire on the fixtures
    * (spec pins counts against a JVM replica). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", round(abs(col("value") - col("med")), 6))
    val mad = dev.groupBy("event_type")
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("z", lit(0.6745) * (col("value") - col("med")) / col("mad"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(abs(col("z")) > 3.5, 1L).otherwise(0L)).as("n_outliers"),
        round(max(abs(col("z"))), 6).as("max_abs_z"))
      .orderBy("event_type")
  }

  /** L236 — classical seasonal-trend decomposition of the hourly series
    * (the moving-average STL ancestor — Macaulay 1931 ratio-to-moving-
    * average; what every forecasting pipeline runs to separate "what is
    * trend", "what is daily rhythm", "what is anomaly"): trend = the
    * centered 25-hour moving average (FULL windows only — edge hours
    * are excluded exactly as the classical method prescribes), seasonal
    * = per hour-of-day mean of the detrended series, residual = x −
    * trend − seasonal. Determinism: window sums in DECIMAL(18,6) (25
    * exact terms → /25.0 in doubles over identical operands), seasonal
    * via the davg decimal contract, every stage round-6. 100 TB shape:
    * the corpus collapses to the calendar-bounded hourly series once;
    * the moving average is one window pass; the seasonal profile is a
    * 24-row agg; top-20 |residual| rows are a TakeOrdered. The L224
    * EWMA flags level shifts; this flags rhythm violations. */
  def stlDecompose(spark: SparkSession, dir: String): DataFrame =
    hourlyDecomposition(spark, dir)
      .select(unix_micros(col("bucket")).as("bucket_us"), col("hod"),
        col("x"), col("trend"), col("seasonal"), col("resid"))
      .orderBy(abs(col("resid")).desc, col("bucket_us").asc)
      .limit(20)

  /** The L236 decomposition frame of the hourly revenue series `x`: the
    * centered 25-hour `trend` (full windows only), the detrended `detr`,
    * the hour-of-day (`hod`) `seasonal` mean and the `resid`, all
    * round-6. Shared by the decomposition and its strength measures. */
  private[ops] def hourlyDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(round(dsum(col("value")), 6).as("x"))
    val w = Window.orderBy(col("bucket")).rowsBetween(-12, 12)
    val trended = hourly
      .withColumn("tsum", sum(col("x").cast("decimal(18,6)")).over(w))
      .withColumn("tn", count(lit(1)).over(w))
      .where(col("tn") === 25)
      .withColumn("trend", round(col("tsum").cast("double") / 25.0, 6))
      .withColumn("detr", round(col("x") - col("trend"), 6))
      .withColumn("hod", hour(col("bucket")))
    val seasonal = trended.groupBy("hod")
      .agg(round(davg(col("detr")), 6).as("seasonal"))
    trended.join(broadcast(seasonal), "hod")
      .withColumn("resid", round(col("detr") - col("seasonal"), 6))
  }

  /** L244 — last-touch revenue attribution (the marketing-analytics
    * primitive behind every channel report: credit each conversion to
    * the most recent preceding touch). The scale-correct formulation is
    * the L84 as-of trick, not a join: interleave ALL events in ONE
    * per-user time-ordered window, carry the last non-purchase type
    * forward with last_value(ignoreNulls), and read it off at each
    * purchase — a single user-keyed shuffle regardless of corpus size
    * (a purchase⋈touch join + argmax would shuffle twice and blow up
    * pairs). Purchases with no prior touch credit 'direct'. Revenue
    * decimal-summed; share = exact division of decimal totals. */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attributed = events(spark, dir)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(coalesce(col("touch"), lit("direct")).as("touch"), col("value"))
    val byTouch = attributed.groupBy("touch")
      .agg(count(lit(1)).as("n_purchases"),
        round(dsum(col("value")), 6).as("revenue"))
    val total = byTouch.agg(sum(col("revenue").cast("decimal(18,6)"))
      .cast("double").as("rev_total"))
    byTouch.crossJoin(broadcast(total))
      .withColumn("share", round(col("revenue") / col("rev_total"), 6))
      .select(col("touch"), col("n_purchases"), col("revenue"), col("share"))
      .orderBy("touch")
  }

  /** L248 — DISTINCT-count over a sliding row window (behavioral
    * variety-in-recent-activity — the bot-vs-human signal of "how many
    * different actions in the last 5 events"). Spark has NO
    * `COUNT(DISTINCT) OVER` (SPARK-30228 territory) — the idiomatic
    * workaround is `size(array_distinct(collect_list over frame))`,
    * exact for bounded frames (state = the ≤5-element frame, O(frame)
    * per row); DuckDB runs its native distinct window aggregate, and
    * the gate proves the two formulations agree row-for-row. One
    * user-keyed window shuffle; output bounded to user_id < 10 (the
    * sample-panel contract — per-user cost is identical corpus-wide). */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
    events(spark, dir)
      .where(col("user_id") < 10)
      .withColumn("n_distinct_5",
        size(array_distinct(collect_list(col("event_type")).over(w))).cast("long"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("n_distinct_5"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** L249 — CROSS-correlation between two event types' hourly series
    * at lags −6..+6 (the lead/lag probe run after L217's
    * AUTO-correlation: does series A move BEFORE series B? — the
    * cheap causal-direction screen for metric pairs). Both series are
    * densified over the shared global hour span (the L217 derivation)
    * and zero-filled; per lag k, r(k) is the six-sums product-moment
    * over (A_t, B_{t+k}) pairs built by a window lead on the SAME
    * |hours|-row frame — 13 lags = 13 window-shifted copies of one
    * calendar-bounded aggregate, the corpus is scanned once. The
    * best-|r| lag is flagged in-result. */
  def crossCorrTypes(spark: SparkSession, dir: String): DataFrame = {
    val lags = -6 to 6
    val ev = events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(
        round(dsum(when(col("event_type") === "click", col("value"))), 6).as("a0"),
        round(dsum(when(col("event_type") === "purchase", col("value"))), 6).as("b0"))
    val span = ev.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val dense = span.select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
      .join(ev, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("a0"), lit(0.0)).as("a"),
        coalesce(col("b0"), lit(0.0)).as("b"))
    val w = Window.orderBy(col("bucket"))
    val shifted = dense.select(
      col("a") +: lags.map { k =>
        (if (k >= 0) lead(col("b"), k) else lag(col("b"), -k))
          .over(w).as(s"b$k")
      }: _*)
    val pairs = shifted.select(explode(array(lags.map { k =>
      struct(lit(k).as("lag_h"), col("a").as("x"), col(s"b$k").as("y"))
    }: _*)).as("p"))
      .select(col("p.lag_h").as("lag_h"), col("p.x").as("x"), col("p.y").as("y"))
      .where(col("y").isNotNull)
    val s = pairs.groupBy("lag_h").agg(
      count(lit(1)).as("n"),
      dsum(col("x")).as("sx"), dsum(round(col("x") * col("x"), 6)).as("sxx"),
      dsum(col("y")).as("sy"), dsum(round(col("y") * col("y"), 6)).as("syy"),
      dsum(round(col("x") * col("y"), 6)).as("sxy"))
    val r = s.select(col("lag_h"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r"))
    val best = r.agg(max(abs(col("r"))).as("best_abs"))
    r.crossJoin(broadcast(best))
      .withColumn("is_best", abs(col("r")) === col("best_abs"))
      .select(col("lag_h"), col("n"), col("r"), col("is_best"))
      .orderBy("lag_h")
  }

  /** L259 — hourly OHLC candles per event type (the open/high/low/
    * close + volume rollup every metrics/trading pipeline materializes
    * from a tick stream): open/close are the values at the min/max
    * SEQUENCE NUMBER in the bucket (event_id — unique, so the pick is
    * deterministic; the standard exchange convention where arrival
    * sequence, not wall-clock ties, orders the tape), high/low are
    * plain extrema, volume = count + round-6 decimal value sum. ONE
    * map-combinable aggregate — min_by/max_by fold in the combiner
    * exactly like min/max, so no window, no sort, no second pass at
    * any scale. */
  def ohlcHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n_events"),
        round(dsum(col("value")), 6).as("v_sum"))
      .withColumn("range", round(col("high") - col("low"), 6))
      .orderBy("bucket", "event_type")

  /** L264 — deterministic MODE aggregate: the most active user per
    * event type (exact mode with a TOTAL tiebreak — max count, then
    * smallest user id — because `mode()`'s
    * arbitrary-among-ties answer is exactly what a hash-compared
    * pipeline cannot ship). Two map-combinable aggs: (type, user)
    * counts, then a per-type max_by on the composite (n, −user) key —
    * the struct order encodes the tiebreak, so the pick folds in the
    * combiner like any max; no window, no sort. Share = modal user's
    * fraction of the type's events, exact-integer division round-6. */
  def modeTopUser(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(
        max_by(col("user_id"), struct(col("n"), -col("user_id"))).as("modal_user"),
        max(struct(col("n"), -col("user_id"))).getField("n").as("n_modal"),
        sum(col("n")).as("n_type"))
      .select(col("event_type"), col("modal_user"), col("n_modal"),
        col("n_type"),
        round(col("n_modal").cast("double") / col("n_type").cast("double"), 6)
          .as("share"))
      .orderBy("event_type")

  /** L265 — day-of-week × hour-of-day activity profile (the "punch
    * card" every ops dashboard opens with, and the seasonality prior
    * L236's decomposition assumes): per (ISO dow, hour) cell — counts,
    * decimal mean value, share of the weekly total (a window over the
    * ≤168-row frame), weekend flag. ONE map-combinable agg; the frame
    * is calendar-bounded at 168 rows at any corpus size. Spark's
    * `weekday()+1` is pinned to DuckDB's `isodow` (Mon=1..7) — the
    * dow-numbering trap called out instead of stepped in. */
  def dowHourProfile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    events(spark, dir)
      .groupBy((weekday(col("ts")) + 1).as("dow"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_events"),
        round(davg(col("value")), 6).as("avg_value"),
        round(dsum(col("value")), 6).as("sum_value"))
      .withColumn("share_of_total",
        round(col("n_events").cast("double") /
          sum(col("n_events")).over(w).cast("double"), 6))
      .withColumn("is_weekend", col("dow") >= 6)
      .orderBy("dow", "hr")
  }

  /** L270 — gaps-and-islands: longest consecutive-day activity streak
    * per user (the retention engineer's "current streak" feature, and
    * the canonical SQL islands problem): distinct active days, then
    * the island key day − row_number — constant exactly while days
    * are consecutive, so one (user-keyed) window + one group-by turns
    * runs into rows WITHOUT any self-join or iteration. Top 20
    * streaks on the total (length desc, user, start) order via
    * TakeOrderedAndProject. Days are epoch-day integers end to end
    * (no timezone re-derivation ambiguity between engines). */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("day_num"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
    days
      .withColumn("grp", col("day_num") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("streak_days"),
        min(col("day_num")).as("start_day"),
        max(col("day_num")).as("end_day"))
      .select(col("user_id"), col("streak_days"), col("start_day"),
        col("end_day"))
      .orderBy(col("streak_days").desc, col("user_id"), col("start_day"))
      .limit(20)
  }

  /** L272 — open-orders concurrency curve (the sweep-line "how many
    * are in flight" question asked of every order/session/ticket
    * table): an order opens at o_orderdate and closes at its LAST
    * line's shipdate; the curve is cumulative(opened − closed) on the
    * day grid. The sweep never materializes per-order intervals
    * against each other (the O(n²) overlap-join trap): two
    * map-combinable day aggregates + a calendar densify, with the
    * running sum over the CALENDAR-BOUNDED day frame (≤2 500 rows
    * here, never corpus-proportional). Orders with no lines yet are
    * honestly still open at end of horizon. Peak day flagged
    * in-result. */
  def openOrdersCurve(spark: SparkSession, dir: String): DataFrame = {
    val opened = orders(spark, dir)
      .groupBy(expr("unix_micros(date_trunc('day', o_orderdate)) div 86400000000")
        .as("day_num"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(expr("unix_micros(date_trunc('day', l_shipdate)) div 86400000000"))
        .as("day_num"))
      .groupBy("day_num").agg(count(lit(1)).as("n_closed"))
    val span = opened.select(col("day_num"))
      .unionAll(closed.select(col("day_num")))
      .agg(min(col("day_num")).as("lo"), max(col("day_num")).as("hi"))
    val cal = span.select(explode(sequence(col("lo"), col("hi"))).as("day_num"))
    val w = Window.orderBy(col("day_num"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cal
      .join(opened, Seq("day_num"), "left")
      .join(closed, Seq("day_num"), "left")
      .select(col("day_num"),
        coalesce(col("n_opened"), lit(0L)).as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("open_after",
        sum(col("n_opened") - col("n_closed")).over(w))
      .withColumn("is_peak",
        col("open_after") === max(col("open_after")).over(wAll))
      .orderBy("day_num")
  }

  /** L281 — position-based (U-shaped) multi-touch attribution (the
    * 40/20/40 split every marketing stack offers beside L244's
    * last-touch: first and last touch get 40% each, the middles share
    * 20% — k=1 takes 100%, k=2 splits 50/50). The scale shape extends
    * the L244 single-window trick: a REVERSE running count of
    * purchases in the same per-user ordered frame assigns every touch
    * to its NEXT purchase with no touch⋈purchase join (touches after a
    * user's final purchase stay unattributed by definition, counted in
    * the audit column of nothing — they simply drop); one more window
    * over the (user, purchase) group ranks positions. Two passes over
    * one user-keyed shuffle partitioning, nothing pairwise. Credits
    * are round-6 rationals times the purchase value, decimal-summed
    * per touch type. */
  def positionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val wRev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tagged = events(spark, dir)
      .withColumn("g", sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).over(wRev))
    val purchases = tagged.where(col("event_type") === "purchase")
      .select(col("user_id"), col("g"), col("value").as("purchase_value"))
    val touches = tagged.where(col("event_type").isin("view", "click") &&
        col("g") > 0)
      .select(col("user_id"), col("g"), col("ts"), col("event_id"),
        col("event_type"))
    val wGrp = Window.partitionBy(col("user_id"), col("g"))
      .orderBy(col("ts"), col("event_id"))
    val wGrpAll = Window.partitionBy(col("user_id"), col("g"))
    val credited = touches
      .withColumn("rn", row_number().over(wGrp))
      .withColumn("k", count(lit(1)).over(wGrpAll))
      .withColumn("credit",
        when(col("k") === 1, 1.0)
          .when(col("k") === 2, 0.5)
          .when(col("rn") === 1 || col("rn") === col("k"), 0.4)
          .otherwise(round(lit(0.2) / (col("k") - 2).cast("double"), 6)))
      .join(purchases, Seq("user_id", "g"))
      .select(col("event_type").as("touch"),
        round(col("credit") * col("purchase_value"), 6).as("credited"))
    credited.groupBy("touch")
      .agg(count(lit(1)).as("n_credited_touches"),
        round(dsum(col("credited")), 6).as("credited_revenue"))
      .orderBy("touch")
  }

  /** L287 — Holt double exponential smoothing (level + trend) of the
    * daily revenue series, α = β = ½, one-step-ahead forecasts (the
    * first genuinely RECURSIVE time-series model in the suite — EWMA
    * (L224) de-sequentialized because one geometric state admits a
    * closed form; Holt's COUPLED level/trend recursion does not, so
    * this row exercises the other engine capability: WITH RECURSIVE
    * over the calendar-bounded frame, 30 steps here, never
    * corpus-proportional — the corpus is touched once by the daily
    * aggregate, which is materialized (localCheckpoint) so the
    * recursion's ~n self-references re-read a 30-row table instead of
    * re-running the scan n times, the L95 lesson). Parity design:
    * state lives in INTEGER MICRO-UNITS and every halving is
    * FLOOR((·)/2.0) — floor of an exact-by-construction double, the
    * one halving both engines implement identically (bigint div
    * truncates toward zero in one engine and floors in the other, and
    * trend goes negative).
    *
    * Two formulations, proven row-identical by Round11fSpec:
    * [[holtDaily]] (the registered query) folds the CALENDAR-BOUNDED
    * daily frame driver-side through the sanctioned bounded-collect
    * tier (the L100/MMR argument: ≤2 500 rows at ANY corpus size —
    * the corpus is touched only by the daily aggregate), because the
    * engine recursion pays ~30 fixed per-iteration scheduling costs
    * (4.7 s at sf0.1 vs 0.5 s, measured) for a 30-row sequential
    * fold; [[holtDailyRecursive]] keeps the WITH RECURSIVE
    * formulation exercised against the same oracle semantics. */
  def holtDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Stats4.dailyMicros(spark, dir)
    var l = 0L; var b = 0L
    val rows = daily.zipWithIndex.map { case ((d, y), i) =>
      val (pl, pb) = (l, b)
      val forecast = if (i == 0) None else Some(round6((pl + pb) / 1e6))
      // error from the exact micro difference, as the SQL twin computes it
      val absErr = if (i == 0) None
        else Some(round6(math.abs(y - (pl + pb)).toDouble / 1e6))
      if (i == 0) { l = y; b = 0L }
      else {
        val lNew = math.floor((y + l + b) / 2.0).toLong
        b = math.floor((lNew - l + b) / 2.0).toLong
        l = lNew
      }
      (i + 1, d, round6(y / 1e6), round6(l / 1e6), round6(b / 1e6), forecast, absErr)
    }
    rows.toSeq.toDF("rn", "day_us", "actual", "level", "trend", "forecast",
      "abs_err")
  }

  /** The WITH RECURSIVE twin of [[holtDaily]] (see its scaladoc). */
  def holtDailyRecursive(spark: SparkSession, dir: String): DataFrame = {
    val wDay = Window.orderBy(col("day_us"))
    val daily = events(spark, dir)
      .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
      .agg((sum(col("value").cast("decimal(18,6)")) * 1000000)
        .cast("long").as("y_micro"))
      .withColumn("rn", row_number().over(wDay))
    daily.localCheckpoint().createOrReplaceTempView("graft_holt_daily")
    spark.sql(
      """WITH RECURSIVE holt(rn, day_us, y, l, b) AS (
           SELECT rn, day_us, y_micro, y_micro, CAST(0 AS BIGINT)
           FROM graft_holt_daily WHERE rn = 1
           UNION ALL
           SELECT d.rn, d.day_us, d.y_micro,
             CAST(FLOOR((d.y_micro + h.l + h.b) / 2.0) AS BIGINT),
             CAST(FLOOR((CAST(FLOOR((d.y_micro + h.l + h.b) / 2.0) AS BIGINT)
               - h.l + h.b) / 2.0) AS BIGINT)
           FROM holt h JOIN graft_holt_daily d ON d.rn = h.rn + 1)
         SELECT rn, day_us,
           round(y / 1e6, 6) AS actual,
           round(l / 1e6, 6) AS level,
           round(b / 1e6, 6) AS trend,
           round((LAG(l) OVER (ORDER BY rn) + LAG(b) OVER (ORDER BY rn))
             / 1e6, 6) AS forecast,
           round(abs(y - (LAG(l) OVER (ORDER BY rn) + LAG(b) OVER (ORDER BY rn)))
             / 1e6, 6) AS abs_err
         FROM holt ORDER BY rn""")
  }

  /** L289 — key-skew profiler (the diagnosis that PRECEDES every
    * salting/AQE decision the L68 salted join and the AQE skew-split
    * demo assume was already made: how hot is the hottest key, and
    * what salt factor would level it?). Per-key counts → the
    * count-VALUE frame (bounded by distinct frequencies, not keys) for
    * p99 via cumulative key coverage; max/avg/skew-ratio and the
    * recommended salt = ⌈max/avg⌉ on the 1-row stats frame; top-10
    * hottest keys carried alongside. One key-shuffled aggregate + a
    * frequency-frame window at any scale. */
  def keySkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val perKey = events(spark, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val byC = perKey.groupBy(col("c")).agg(count(lit(1)).as("k"))
    val wC = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val stats = byC
      .withColumn("cum_k", sum(col("k")).over(wC))
      .withColumn("n_keys", sum(col("k")).over(wAll))
      .withColumn("n_rows", sum(col("c") * col("k")).over(wAll))
      .withColumn("is_p99", col("cum_k") * 100 >= col("n_keys") * 99)
      .agg(max(col("n_keys")).as("n_keys"), max(col("n_rows")).as("n_rows"),
        max(col("c")).as("max_c"),
        min(when(col("is_p99"), col("c"))).as("p99_c"))
      .withColumn("avg_c", round(col("n_rows").cast("double") /
        col("n_keys").cast("double"), 6))
      .withColumn("skew_ratio", round(col("max_c").cast("double") /
        col("avg_c"), 6))
      .withColumn("salt_factor", ceil(col("max_c").cast("double") /
        col("avg_c")).cast("long"))
    perKey.orderBy(col("c").desc, col("user_id")).limit(10)
      .crossJoin(broadcast(stats))
      .select(col("user_id").as("hot_key"), col("c").as("hot_count"),
        col("n_keys"), col("n_rows"), col("avg_c"), col("p99_c"),
        col("max_c"), col("skew_ratio"), col("salt_factor"))
      .orderBy(col("hot_count").desc, col("hot_key"))
  }

  /** L290 — rolling 7-day distinct active users (the WAU-by-day curve
    * beside L88's daily DAU; the stickiness ratio DAU/WAU is THE
    * engagement metric). COUNT(DISTINCT) over a RANGE frame doesn't
    * exist in Spark (the L248 gap, here at day grain over an unbounded
    * user set) — the scale-correct form: each distinct (day, user)
    * pair is EXPLODED to the ≤7 windows it serves and de-duplicated
    * per target day, so shuffle is 7× the pair set — linear, never a
    * range join; target days past the horizon are clipped by the
    * 1-row max-day broadcast. DuckDB's oracle runs the same expansion
    * (its native distinct-over-RANGE checked equal in L248's gate). */
  def dauRolling7d(spark: SparkSession, dir: String): DataFrame = {
    val du = events(spark, dir)
      .select(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
        .as("day_num"), col("user_id")).distinct()
    val maxDay = du.agg(max(col("day_num")).as("max_day"))
    val wau = du
      .select(explode(sequence(col("day_num"),
        col("day_num") + 6)).as("target_day"), col("user_id"))
      .crossJoin(broadcast(maxDay))
      .where(col("target_day") <= col("max_day"))
      .select(col("target_day"), col("user_id")).distinct()
      .groupBy(col("target_day")).agg(count(lit(1)).as("wau_7d"))
    val dau = du.groupBy(col("day_num")).agg(count(lit(1)).as("dau"))
    dau.join(wau, col("day_num") === col("target_day"))
      .select(col("day_num"), col("dau"), col("wau_7d"),
        round(col("dau").cast("double") / col("wau_7d").cast("double"), 6)
          .as("stickiness"))
      .orderBy("day_num")
  }

  /** L311 — Bollinger bands on the hourly revenue series (Bollinger
    * 1983: trailing mean ± 2σ — the volatility-adaptive control chart
    * read beside L224's EWMA, which adapts the CENTER but not the
    * WIDTH). Trailing 24-complete-hours window over the calendar-
    * bounded hourly frame (one map-combinable corpus agg first — the
    * L224 shape); the series is scaled to REVENUE-THOUSANDS before
    * squaring so Σx² terms stay deep inside DECIMAL(18,6) at any
    * corpus size (the L225 scaling rule — z and the breakout verdict
    * are scale-invariant); warmup rows (fewer than 24 trailing hours)
    * are excluded rather than emitted with a shrunken window. Output:
    * top-20 hours by |z| with band edges — the page an on-call
    * actually reads. */
  def bollingerBands(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(round(dsum(col("value")), 6).as("x"))
      .withColumn("xk", round(col("x") / 1000.0, 6))
    val w = Window.orderBy(col("bucket")).rowsBetween(-23, 0)
    // window sums first, FILTER to complete windows, derive after — the
    // warmup rows would otherwise hit ANSI divide-by-zero at n = 1
    val winSums = hourly
      .withColumn("n_window", count(col("xk")).over(w))
      .withColumn("sx_dec", sum(col("xk").cast("decimal(18,6)")).over(w))
      .withColumn("sxx", sum(round(col("xk") * col("xk"), 6)
        .cast("decimal(28,6)")).over(w).cast("double"))
      .where(col("n_window") === 24)
      .withColumn("sx", col("sx_dec").cast("double"))
      // mean to 6dp in EXACT integer micro space: sx/24 lands on a true
      // .5e-6 midpoint whenever Σ micros ≡ 12 (mod 24) and the double
      // route splits the engines — (m + 12) div 24 IS half-up, exactly
      .withColumn("sx_micros", (col("sx_dec") * 1000000).cast("long"))
      .withColumn("mean_k",
        expr("(sx_micros + 12) div 24").cast("double") / 1e6)
    val nd = col("n_window").cast("double")
    val mean = col("sx") / nd
    val variance = (col("sxx") - col("sx") * col("sx") / nd) / (nd - 1.0)
    val banded = winSums
      .withColumn("sigma_k", round(sqrt(variance), 6))
      .withColumn("z", round((col("xk") - mean) / sqrt(variance), 6))
    // band edges in EXACT decimal space: mean_k/sigma_k are already 6dp,
    // so m ± 2σ is a closed decimal op — a double round-6 here can land
    // on a representation-dependent midpoint and split the engines
    val mDec = col("mean_k").cast("decimal(18,6)")
    val sDec = col("sigma_k").cast("decimal(18,6)")
    banded
      .select(unix_micros(col("bucket")).as("bucket_us"), col("xk"),
        col("mean_k"), col("sigma_k"),
        (mDec + lit(2).cast("decimal(18,6)") * sDec).cast("double")
          .as("upper_k"),
        (mDec - lit(2).cast("decimal(18,6)") * sDec).cast("double")
          .as("lower_k"),
        col("z"), (abs(col("z")) > 2.0).as("breakout"))
      .orderBy(abs(col("z")).desc, col("bucket_us").asc)
      .limit(20)
  }

  /** L314 — changepoint detection by single binary segmentation on the
    * daily-revenue series (Scott & Knott 1974; the first split of the
    * binary-segmentation family every changepoint stack runs — CUSUM
    * (L187) ALARMS on drift, binseg LOCATES the break): the split k
    * maximizing the between-segment sum-of-squares gain G(k) = S_k²/k
    * + (S_n−S_k)²/(n−k) − S_n²/n. The corpus collapses to the
    * calendar-bounded daily frame (one map-combinable agg; the L225
    * revenue-in-MILLIONS scaling keeps every squared magnitude far
    * inside the double grid); prefix sums are one window pass in
    * DECIMAL(18,6); G is closed-form per row and the argmax is a
    * TakeOrdered with the (gain, day) tiebreak. Top-3 candidate splits
    * emitted — the #2/#3 rows are the recursion frontier a full
    * binseg would descend into. */
  def changepointBinseg(spark: SparkSession, dir: String): DataFrame = {
    val daily = orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(round(dsum(col("o_totalprice")) / 1e6, 6).as("y"))
    val wCum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val pre = daily
      .withColumn("k", count(lit(1)).over(wCum))
      .withColumn("sk", sum(col("y").cast("decimal(18,6)")).over(wCum)
        .cast("double"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sn", sum(col("y").cast("decimal(18,6)")).over(wAll)
        .cast("double"))
      .where(col("k") < col("n"))
    val kd = col("k").cast("double")
    val nd = col("n").cast("double")
    val gain = col("sk") * col("sk") / kd +
      (col("sn") - col("sk")) * (col("sn") - col("sk")) / (nd - kd) -
      col("sn") * col("sn") / nd
    pre
      .select(col("d").as("split_day"), col("k").as("n_left"),
        (col("n") - col("k")).as("n_right"),
        round(col("sk") / kd, 6).as("mean_left_m"),
        round((col("sn") - col("sk")) / (nd - kd), 6).as("mean_right_m"),
        round(gain, 6).as("gain"))
      .orderBy(col("gain").desc, col("split_day").asc)
      .limit(3)
  }

  /** L326 — periodogram of the hourly revenue series (Schuster 1898;
    * the discrete-Fourier power at candidate frequencies k = 1..12 —
    * the spectral reading that says WHICH cycle dominates, where
    * L236/L299 assume the daily one and measure its strength).
    * P(k) = (a_k² + b_k²)/n with a_k = Σ xₜ·cos(2πkt/n), b_k the sine
    * twin — an O(n·k) direct evaluation over the calendar-bounded
    * hourly frame (k fixed at 12, so corpus cost is ONE hourly agg at
    * any scale; a full FFT is pointless for 12 bins). Determinism:
    * trig factors round-6 at the call site (the cross-libm contract),
    * products round-6 and decimal-summed; the k×frame grid comes from
    * one sequence-explode, shuffled once by k. Dominant cycle =
    * argmax P with the hours-per-cycle readout n/k. */
  def periodogram(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(round(dsum(col("value")), 6).as("x"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val idx = hourly
      .withColumn("t", (row_number().over(Window.orderBy(col("bucket"))) - 1)
        .cast("double"))
      .withColumn("n", count(lit(1)).over(wAll).cast("double"))
    val grid = idx.select(col("t"), col("n"), col("x"),
      explode(sequence(lit(1), lit(12))).as("k"))
    val theta = lit(2.0) * lit(math.Pi) * col("k").cast("double") *
      col("t") / col("n")
    // x·cos products of two EXACT 6dp values land on true .5e-6
    // midpoints (a 12dp decimal grid), where the engines' round()
    // implementations split — so each term is computed in exact
    // integer micro space with explicit away-from-zero halving
    val xm = (col("x").cast("decimal(18,6)") * 1000000).cast("long")
    def trigM(c: org.apache.spark.sql.Column) =
      (round(c, 6).cast("decimal(18,6)") * 1000000).cast("long")
    def halfUp(p: String) = expr(
      s"CASE WHEN $p >= 0 THEN ($p + 500000) div 1000000" +
        s" ELSE -((-$p + 500000) div 1000000) END")
    val perK = grid
      .withColumn("pc", xm * trigM(cos(theta)))
      .withColumn("ps", xm * trigM(sin(theta)))
      .withColumn("ca", halfUp("pc"))
      .withColumn("sb", halfUp("ps"))
      .groupBy("k")
      .agg(max(col("n")).as("n"),
        round(sum(col("ca")).cast("double") / 1e6, 6).as("a_k"),
        round(sum(col("sb")).cast("double") / 1e6, 6).as("b_k"))
    perK
      .withColumn("power", round((col("a_k") * col("a_k") +
        col("b_k") * col("b_k")) / col("n"), 6))
      .withColumn("hours_per_cycle", round(col("n") / col("k").cast("double"), 6))
      .withColumn("dominant",
        col("power") === max(col("power")).over(wAll))
      .select("k", "a_k", "b_k", "power", "hours_per_cycle", "dominant")
      .orderBy("k")
  }

  /** L328 — Hurst exponent by rescaled-range analysis of the hourly
    * series (Hurst 1951; Mandelbrot & Wallis 1969 R/S — the
    * long-memory constant: H ≈ 0.5 is a random walk, H > 0.5
    * persistent trending, H < 0.5 mean-reverting; read before trusting
    * any L187/L224 alert threshold tuned on the iid assumption).
    * Blocks of m ∈ {16, 32, 64, 128} consecutive hours (full blocks
    * only); per block R = range of the cumulative demeaned walk and
    * S = population σ; H = OLS slope of ln(mean R/S) on ln m over the
    * 4-point frame. Determinism: the block mean is an exact half-up
    * integer-micro division, so demeaned steps and their CUMULATIVE
    * walk are exact integers — immune to the engines' different
    * window-sum ADDITION ORDERS (Spark runs running frames
    * sequentially, DuckDB segment-trees them; float cumsums would
    * diverge); σ² from round-6 squared steps decimal-summed; the only
    * transcendentals (ln) are round-6 at the call site. Corpus cost:
    * one hourly agg, then everything is calendar-bounded × 4. */
  def hurstExponent(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(round(dsum(col("value")), 6).as("x"))
    val idx = hourly
      .withColumn("t", (row_number().over(Window.orderBy(col("bucket"))) - 1)
        .cast("long"))
      .withColumn("xm", (col("x").cast("decimal(18,6)") * 1000000)
        .cast("long"))
    val grid = idx.select(col("t"), col("xm"),
        explode(array(lit(16L), lit(32L), lit(64L), lit(128L))).as("m"))
      .withColumn("blk", expr("t div m"))
    val wBlk = Window.partitionBy(col("m"), col("blk"))
    val wCum = wBlk.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val full = grid
      .withColumn("cnt", count(lit(1)).over(wBlk))
      .where(col("cnt") === col("m"))
      .withColumn("mu_m", expr("(2 * sum(xm) OVER " +
        "(PARTITION BY m, blk) + m) div (2 * m)"))
      .withColumn("d_m", col("xm") - col("mu_m"))
      .withColumn("cum", sum(col("d_m")).over(wCum))
      .withColumn("d6", col("d_m").cast("double") / 1e6)
    val perBlk = full.groupBy("m", "blk")
      .agg((max(col("cum")) - min(col("cum"))).as("r_m"),
        sum(round(col("d6") * col("d6"), 6).cast("decimal(28,6)"))
          .cast("double").as("ssd"))
      .withColumn("rs", round((col("r_m").cast("double") / 1e6) /
        sqrt(col("ssd") / col("m").cast("double")), 6))
      .where(col("rs") > 0.0)
    val perSize = perBlk.groupBy("m")
      .agg(count(lit(1)).as("n_blocks"),
        round(dsum(round(log(col("rs")), 6)) /
          count(lit(1)).cast("double"), 6).as("mean_ln_rs"))
      .withColumn("ln_m", round(log(col("m").cast("double")), 6))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val fit = perSize
      .withColumn("nf", count(lit(1)).over(wAll).cast("double"))
      .withColumn("sx", sum(col("ln_m").cast("decimal(18,6)")).over(wAll)
        .cast("double"))
      .withColumn("sy", sum(col("mean_ln_rs").cast("decimal(18,6)"))
        .over(wAll).cast("double"))
      .withColumn("sxx", sum(round(col("ln_m") * col("ln_m"), 6)
        .cast("decimal(18,6)")).over(wAll).cast("double"))
      .withColumn("sxy", sum(round(col("ln_m") * col("mean_ln_rs"), 6)
        .cast("decimal(18,6)")).over(wAll).cast("double"))
    fit
      .withColumn("hurst", round((col("nf") * col("sxy") -
        col("sx") * col("sy")) /
        (col("nf") * col("sxx") - col("sx") * col("sx")), 6))
      .select(col("m").as("block_size"), col("n_blocks"), col("ln_m"),
        col("mean_ln_rs"), col("hurst"))
      .orderBy("block_size")
  }

  /** L332 — per-user inter-arrival distribution (the first question of
    * any arrival-process model — is traffic Poisson-ish or bursty? —
    * and the empirical basis for the L43 session gap and the L73
    * dynamic-gap threshold, both of which ASSUME a shape this table
    * shows). Gaps from one user-keyed lag window, quantized to whole
    * seconds (exact integer div — keeps the percentile frame bounded
    * at any corpus size); five fixed operational bands; band shares
    * and the global mean as exact half-up integer-micro divisions
    * (ratios of exact ints land on true .5e-6 midpoints); p50/p90 by
    * the exact interpolated percentile. */
  def interarrivalDist(spark: SparkSession, dir: String): DataFrame = {
    val gaps = events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap_s",
        expr("(us - lag(us, 1) OVER (PARTITION BY user_id " +
          "ORDER BY us, event_id)) div 1000000"))
      .where(col("gap_s").isNotNull)
      .select(col("gap_s"))
    val bucketed = gaps.withColumn("bucket",
      when(col("gap_s") < 60L, lit("a_lt_1m"))
        .when(col("gap_s") < 300L, lit("b_1m_5m"))
        .when(col("gap_s") < 1800L, lit("c_5m_30m"))
        .when(col("gap_s") < 7200L, lit("d_30m_2h"))
        .otherwise(lit("e_ge_2h")))
    val glob = gaps.agg(count(lit(1)).as("n"), sum(col("gap_s")).as("s"),
        round(expr("percentile(gap_s, 0.5)"), 6).as("p50_gap_s"),
        round(expr("percentile(gap_s, 0.9)"), 6).as("p90_gap_s"))
      .withColumn("mean_gap_s",
        expr("(2 * s * 1000000 + n) div (2 * n)").cast("double") / 1e6)
    bucketed.groupBy("bucket").agg(count(lit(1)).as("n_gaps"))
      .crossJoin(broadcast(glob))
      .withColumn("pct",
        expr("(2 * n_gaps * 1000000 + n) div (2 * n)").cast("double") / 1e6)
      .select(col("bucket"), col("n_gaps"), col("pct"), col("mean_gap_s"),
        col("p50_gap_s"), col("p90_gap_s"))
      .orderBy("bucket")
  }

  val entries: Map[String, Op] = Map(
    "ts_interarrival_dist" -> Op(interarrivalDist,
      s"""WITH g0 AS (SELECT
             (epoch_us($evTs) - lag(epoch_us($evTs), 1)
               OVER (PARTITION BY user_id ORDER BY epoch_us($evTs), event_id))
               // 1000000 AS gap_s
           FROM events),
         gaps AS (SELECT gap_s FROM g0 WHERE gap_s IS NOT NULL),
         b AS (SELECT gap_s,
             CASE WHEN gap_s < 60 THEN 'a_lt_1m'
               WHEN gap_s < 300 THEN 'b_1m_5m'
               WHEN gap_s < 1800 THEN 'c_5m_30m'
               WHEN gap_s < 7200 THEN 'd_30m_2h'
               ELSE 'e_ge_2h' END AS bucket
           FROM gaps),
         gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(gap_s) AS BIGINT) AS s,
             round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
             round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
           FROM gaps),
         gm AS (SELECT *,
             CAST((2 * s * 1000000 + n) // (2 * n) AS DOUBLE) / 1e6
               AS mean_gap_s
           FROM gl)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST((2 * COUNT(*) * 1000000 + MAX(n)) // (2 * MAX(n)) AS DOUBLE)
             / 1e6 AS pct,
           MAX(mean_gap_s) AS mean_gap_s,
           MAX(p50_gap_s) AS p50_gap_s, MAX(p90_gap_s) AS p90_gap_s
         FROM b, gm GROUP BY bucket ORDER BY bucket"""),
    "ts_hurst_exponent" -> Op(hurstExponent,
      s"""WITH hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS x
           FROM events GROUP BY 1),
         idx AS (SELECT
             CAST(ROW_NUMBER() OVER (ORDER BY bucket) - 1 AS BIGINT) AS t,
             CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xm
           FROM hourly),
         grid AS (SELECT t, xm, CAST(UNNEST([16, 32, 64, 128]) AS BIGINT)
             AS m
           FROM idx),
         g2 AS (SELECT *, t // m AS blk FROM grid),
         fullb AS (SELECT *,
             COUNT(*) OVER wb AS cnt,
             (2 * SUM(xm) OVER wb + m) // (2 * m) AS mu_m
           FROM g2
           WINDOW wb AS (PARTITION BY m, blk)),
         dd AS (SELECT m, blk, t, xm - mu_m AS d_m,
             CAST(xm - mu_m AS DOUBLE) / 1e6 AS d6
           FROM fullb WHERE cnt = m),
         cw AS (SELECT *,
             SUM(d_m) OVER (PARTITION BY m, blk ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM dd),
         perblk AS (SELECT m, blk,
             CAST(MAX(cum) - MIN(cum) AS BIGINT) AS r_m,
             CAST(SUM(CAST(round(d6 * d6, 6) AS DECIMAL(28,6))) AS DOUBLE)
               AS ssd
           FROM cw GROUP BY 1, 2),
         rsb AS (SELECT m, blk,
             round((CAST(r_m AS DOUBLE) / 1e6)
               / sqrt(ssd / CAST(m AS DOUBLE)), 6) AS rs
           FROM perblk),
         persize AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             round(${dsumSql("round(ln(rs), 6)")}
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_ln_rs,
             round(ln(CAST(m AS DOUBLE)), 6) AS ln_m
           FROM rsb WHERE rs > 0.0 GROUP BY 1),
         fit AS (SELECT *,
             CAST(COUNT(*) OVER () AS DOUBLE) AS nf,
             CAST(SUM(CAST(ln_m AS DECIMAL(18,6))) OVER () AS DOUBLE) AS sx,
             CAST(SUM(CAST(mean_ln_rs AS DECIMAL(18,6))) OVER () AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(round(ln_m * ln_m, 6) AS DECIMAL(18,6))) OVER ()
               AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(ln_m * mean_ln_rs, 6) AS DECIMAL(18,6)))
               OVER () AS DOUBLE) AS sxy
           FROM persize)
         SELECT m AS block_size, n_blocks, ln_m, mean_ln_rs,
           round((nf * sxy - sx * sy) / (nf * sxx - sx * sx), 6) AS hurst
         FROM fit ORDER BY block_size"""),
    "ts_periodogram" -> Op(periodogram,
      s"""WITH hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS x
           FROM events GROUP BY 1),
         idx AS (SELECT x,
             CAST(ROW_NUMBER() OVER (ORDER BY bucket) - 1 AS DOUBLE) AS t,
             CAST(COUNT(*) OVER () AS DOUBLE) AS n
           FROM hourly),
         grid AS (SELECT t, n, x,
             CAST(UNNEST(range(1, 13)) AS BIGINT) AS k
           FROM idx),
         prods AS (SELECT k, n,
             CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               * CAST(CAST(round(cos(2.0 * pi() * CAST(k AS DOUBLE) * t / n),
                 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pc,
             CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               * CAST(CAST(round(sin(2.0 * pi() * CAST(k AS DOUBLE) * t / n),
                 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS ps
           FROM grid),
         terms AS (SELECT k, n,
             CASE WHEN pc >= 0 THEN (pc + 500000) // 1000000
               ELSE -((-pc + 500000) // 1000000) END AS ca,
             CASE WHEN ps >= 0 THEN (ps + 500000) // 1000000
               ELSE -((-ps + 500000) // 1000000) END AS sb
           FROM prods),
         perk AS (SELECT k, MAX(n) AS n,
             round(CAST(SUM(ca) AS DOUBLE) / 1e6, 6) AS a_k,
             round(CAST(SUM(sb) AS DOUBLE) / 1e6, 6) AS b_k
           FROM terms GROUP BY 1),
         p AS (SELECT k, a_k, b_k,
             round((a_k * a_k + b_k * b_k) / n, 6) AS power,
             round(n / CAST(k AS DOUBLE), 6) AS hours_per_cycle
           FROM perk)
         SELECT k, a_k, b_k, power, hours_per_cycle,
           power = MAX(power) OVER () AS dominant
         FROM p ORDER BY k"""),
    "ts_changepoint_binseg" -> Op(changepointBinseg,
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
             round(${dsumSql("o_totalprice")} / 1e6, 6) AS y
           FROM orders GROUP BY 1),
         pre AS (SELECT d,
             COUNT(*) OVER wc AS k,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) OVER wc AS DOUBLE) AS sk,
             COUNT(*) OVER wa AS n,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) OVER wa AS DOUBLE) AS sn
           FROM daily
           WINDOW wc AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW),
             wa AS (ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING)),
         g AS (SELECT d, k, n, sk, sn,
             sk * sk / CAST(k AS DOUBLE)
               + (sn - sk) * (sn - sk) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
               - sn * sn / CAST(n AS DOUBLE) AS gain
           FROM pre WHERE k < n)
         SELECT d AS split_day, CAST(k AS BIGINT) AS n_left,
           CAST(n - k AS BIGINT) AS n_right,
           round(sk / CAST(k AS DOUBLE), 6) AS mean_left_m,
           round((sn - sk) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)), 6)
             AS mean_right_m,
           round(gain, 6) AS gain
         FROM g ORDER BY gain DESC, split_day LIMIT 3"""),
    "ts_bollinger" -> Op(bollingerBands,
      s"""WITH hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS x
           FROM events GROUP BY 1),
         hk AS (SELECT bucket, round(x / 1000.0, 6) AS xk FROM hourly),
         win AS (SELECT bucket, xk,
             COUNT(xk) OVER w AS n,
             SUM(CAST(xk AS DECIMAL(18,6))) OVER w AS sx_dec,
             CAST(SUM(CAST(round(xk * xk, 6) AS DECIMAL(28,6))) OVER w
               AS DOUBLE) AS sxx
           FROM hk
           WINDOW w AS (ORDER BY bucket ROWS BETWEEN 23 PRECEDING
             AND CURRENT ROW)),
         wf AS (SELECT bucket, xk, n, sxx,
             CAST(sx_dec AS DOUBLE) AS sx,
             CAST(sx_dec * 1000000 AS BIGINT) AS sx_micros
           FROM win WHERE n = 24),
         b AS (SELECT epoch_us(bucket) AS bucket_us, xk,
             CAST((sx_micros + 12) // 24 AS DOUBLE) / 1e6 AS mean_k,
             round(sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0)), 6) AS sigma_k,
             round((xk - sx / CAST(n AS DOUBLE))
               / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0)), 6) AS z
           FROM wf)
         SELECT bucket_us, xk, mean_k, sigma_k,
           CAST(CAST(mean_k AS DECIMAL(18,6))
             + CAST(2 AS DECIMAL(18,6)) * CAST(sigma_k AS DECIMAL(18,6))
             AS DOUBLE) AS upper_k,
           CAST(CAST(mean_k AS DECIMAL(18,6))
             - CAST(2 AS DECIMAL(18,6)) * CAST(sigma_k AS DECIMAL(18,6))
             AS DOUBLE) AS lower_k,
           z, abs(z) > 2.0 AS breakout
         FROM b ORDER BY abs(z) DESC, bucket_us LIMIT 20"""),
    "profile_key_skew" -> Op(keySkewProfile,
      """WITH pk AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         bc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS k FROM pk GROUP BY 1),
         cum AS (SELECT *,
             CAST(SUM(k) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_k,
             CAST(SUM(k) OVER () AS BIGINT) AS n_keys,
             CAST(SUM(c * k) OVER () AS BIGINT) AS n_rows
           FROM bc),
         st AS (SELECT MAX(n_keys) AS n_keys, MAX(n_rows) AS n_rows,
             MAX(c) AS max_c,
             MIN(CASE WHEN cum_k * 100 >= n_keys * 99 THEN c END) AS p99_c
           FROM cum),
         st2 AS (SELECT *,
             round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6) AS avg_c
           FROM st),
         st3 AS (SELECT *,
             round(CAST(max_c AS DOUBLE) / avg_c, 6) AS skew_ratio,
             CAST(CEIL(CAST(max_c AS DOUBLE) / avg_c) AS BIGINT) AS salt_factor
           FROM st2),
         top10 AS (SELECT user_id, c FROM pk
           ORDER BY c DESC, user_id LIMIT 10)
         SELECT user_id AS hot_key, c AS hot_count, n_keys, n_rows, avg_c,
           p99_c, max_c, skew_ratio, salt_factor
         FROM top10, st3 ORDER BY hot_count DESC, hot_key"""),
    "dau_rolling_7d" -> Op(dauRolling7d,
      s"""WITH du AS (SELECT DISTINCT
             epoch_us(date_trunc('day', $evTs)) // 86400000000
               AS day_num, user_id
           FROM events),
         md AS (SELECT MAX(day_num) AS max_day FROM du),
         ex AS (SELECT DISTINCT day_num + g.o AS target_day, user_id
           FROM du, (SELECT unnest(generate_series(0, 6)) AS o) g, md
           WHERE day_num + g.o <= max_day),
         wau AS (SELECT target_day, CAST(COUNT(*) AS BIGINT) AS wau_7d
           FROM ex GROUP BY 1),
         dau AS (SELECT day_num, CAST(COUNT(*) AS BIGINT) AS dau
           FROM du GROUP BY 1)
         SELECT day_num, dau, wau_7d,
           round(CAST(dau AS DOUBLE) / CAST(wau_7d AS DOUBLE), 6) AS stickiness
         FROM dau JOIN wau ON day_num = target_day
         ORDER BY day_num"""),
    "ts_holt_daily" -> Op(holtDaily,
      s"""WITH RECURSIVE ${Stats4.dailyMicrosSql},
         holt(rn, day_us, y, l, b) AS (
           SELECT rn, day_us, y_micro, y_micro, CAST(0 AS BIGINT)
           FROM dr WHERE rn = 1
           UNION ALL
           SELECT d.rn, d.day_us, d.y_micro,
             CAST(FLOOR((d.y_micro + h.l + h.b) / 2.0) AS BIGINT),
             CAST(FLOOR((CAST(FLOOR((d.y_micro + h.l + h.b) / 2.0) AS BIGINT)
               - h.l + h.b) / 2.0) AS BIGINT)
           FROM holt h JOIN dr d ON d.rn = h.rn + 1)
         SELECT rn, day_us,
           round(y / 1e6, 6) AS actual,
           round(l / 1e6, 6) AS level,
           round(b / 1e6, 6) AS trend,
           round((LAG(l) OVER (ORDER BY rn) + LAG(b) OVER (ORDER BY rn))
             / 1e6, 6) AS forecast,
           round(abs(y - (LAG(l) OVER (ORDER BY rn) + LAG(b) OVER (ORDER BY rn)))
             / 1e6, 6) AS abs_err
         FROM holt ORDER BY rn"""),
    "attribution_position" -> Op(positionAttribution,
      s"""WITH tagged AS (SELECT user_id, ts, event_id, event_type, value,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS g
           FROM events),
         purchases AS (SELECT user_id, g, value AS purchase_value
           FROM tagged WHERE event_type = 'purchase'),
         touches AS (SELECT user_id, g, ts, event_id, event_type
           FROM tagged
           WHERE event_type IN ('view', 'click') AND g > 0),
         ranked AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, g
               ORDER BY ts, event_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id, g) AS BIGINT) AS k
           FROM touches),
         credited AS (SELECT event_type AS touch,
             round(CASE WHEN k = 1 THEN 1.0
               WHEN k = 2 THEN 0.5
               WHEN rn = 1 OR rn = k THEN 0.4
               ELSE round(0.2 / CAST(k - 2 AS DOUBLE), 6) END
               * purchase_value, 6) AS credited
           FROM ranked JOIN purchases USING (user_id, g))
         SELECT touch, CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
           round(${dsumSql("credited")}, 6) AS credited_revenue
         FROM credited GROUP BY 1 ORDER BY 1"""),
    "ts_ewma_deviation" -> Op(ewmaDeviation, {
      val (num, den) = ewmaSqlChain
      val lags = (1 to EwmaLags)
        .map(k => s"lag(x, $k) OVER (ORDER BY bucket) AS x$k").mkString(", ")
      s"""WITH hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS x
           FROM events GROUP BY 1),
         lagged AS (SELECT bucket, x, $lags FROM hourly),
         sm AS (SELECT bucket, x, round($num / $den, 6) AS ewma FROM lagged)
         SELECT epoch_us(bucket) AS bucket_us, x, ewma,
           round(x - ewma, 6) AS dev
         FROM sm ORDER BY abs(round(x - ewma, 6)) DESC, bucket_us ASC
         LIMIT 20"""
    }),
    "ml_ols_daily_trend" -> Op(olsDailyTrend,
      s"""WITH daily AS (SELECT CAST(date_diff('day', DATE '1995-01-01',
             CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             round(${dsumSql("o_totalprice")} / 1e6, 6) AS y
           FROM orders GROUP BY 1),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             ${dsumSql("y")} AS sy,
             ${dsumSql("round(x * y, 6)")} AS sxy,
             ${dsumSql("round(y * y, 6)")} AS syy
           FROM daily)
         SELECT n AS n_days,
           round((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             AS slope,
           round((sy - CAST(sx AS DOUBLE) *
               ((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE))) /
             CAST(n AS DOUBLE), 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
             (CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy)), 6)
             AS r2
         FROM s"""),
    "ts_open_orders_curve" -> Op(openOrdersCurve,
      """WITH op AS (SELECT epoch_us(date_trunc('day',
               CAST(o_orderdate AS TIMESTAMP))) // 86400000000 AS day_num,
             CAST(COUNT(*) AS BIGINT) AS n_opened
           FROM orders GROUP BY 1),
         lastship AS (SELECT l_orderkey,
             MAX(epoch_us(date_trunc('day',
               CAST(l_shipdate AS TIMESTAMP))) // 86400000000) AS day_num
           FROM lineitem GROUP BY 1),
         cl AS (SELECT day_num, CAST(COUNT(*) AS BIGINT) AS n_closed
           FROM lastship GROUP BY 1),
         span AS (SELECT MIN(day_num) AS lo, MAX(day_num) AS hi FROM
           (SELECT day_num FROM op UNION ALL SELECT day_num FROM cl)),
         cal AS (SELECT unnest(generate_series(lo, hi)) AS day_num FROM span),
         f AS (SELECT cal.day_num,
             COALESCE(n_opened, 0) AS n_opened,
             COALESCE(n_closed, 0) AS n_closed
           FROM cal LEFT JOIN op USING (day_num) LEFT JOIN cl USING (day_num)),
         c AS (SELECT day_num, n_opened, n_closed,
             SUM(n_opened - n_closed) OVER (ORDER BY day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_after
           FROM f)
         SELECT day_num, n_opened, n_closed,
           CAST(open_after AS BIGINT) AS open_after,
           open_after = MAX(open_after) OVER () AS is_peak
         FROM c ORDER BY day_num"""),
    "win_activity_streaks" -> Op(activityStreaks,
      s"""WITH days AS (SELECT DISTINCT user_id,
             epoch_us(date_trunc('day', $evTs)) // 86400000000 AS day_num
           FROM events),
         isl AS (SELECT user_id, day_num,
             day_num - ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY day_num) AS grp
           FROM days),
         s AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_days,
             CAST(MIN(day_num) AS BIGINT) AS start_day,
             CAST(MAX(day_num) AS BIGINT) AS end_day
           FROM isl GROUP BY user_id, grp)
         SELECT user_id, streak_days, start_day, end_day FROM s
         ORDER BY streak_days DESC, user_id, start_day LIMIT 20"""),
    "agg_mode_top_user" -> Op(modeTopUser,
      """WITH c AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, user_id AS modal_user, n AS n_modal,
             SUM(n) OVER (PARTITION BY event_type) AS n_type,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY n DESC, user_id ASC) AS rk
           FROM c)
         SELECT event_type, modal_user, n_modal,
           CAST(n_type AS BIGINT) AS n_type,
           round(CAST(n_modal AS DOUBLE) / CAST(n_type AS DOUBLE), 6) AS share
         FROM p WHERE rk = 1 ORDER BY event_type"""),
    "ts_dow_hour_profile" -> Op(dowHourProfile,
      s"""WITH c AS (SELECT isodow($evTs) AS dow, hour($evTs) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             round(${dsumSql("value")} / COUNT(value), 6) AS avg_value,
             round(${dsumSql("value")}, 6) AS sum_value
           FROM events GROUP BY 1, 2)
         SELECT dow, hr, n_events, avg_value, sum_value,
           round(CAST(n_events AS DOUBLE)
             / CAST(SUM(n_events) OVER () AS DOUBLE), 6) AS share_of_total,
           dow >= 6 AS is_weekend
         FROM c ORDER BY dow, hr"""),
    "ts_ohlc_hourly" -> Op(ohlcHourly,
      s"""SELECT date_trunc('hour', $evTs) AS bucket, event_type,
           arg_min(value, event_id) AS open,
           MAX(value) AS high, MIN(value) AS low,
           arg_max(value, event_id) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(${dsumSql("value")}, 6) AS v_sum,
           round(MAX(value) - MIN(value), 6) AS range
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    "ts_crosscorr_types" -> Op(crossCorrTypes, {
      val legs = (-6 to 6).map { k =>
        val sh = if (k >= 0) s"lead(b, $k)" else s"lag(b, ${-k})"
        s"SELECT $k AS lag_h, a AS x, $sh OVER (ORDER BY bucket) AS y FROM dense"
      }.mkString("\n           UNION ALL ")
      s"""WITH ev AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("CASE WHEN event_type = 'click' THEN value END")}, 6)
               AS a0,
             round(${dsumSql("CASE WHEN event_type = 'purchase' THEN value END")}, 6)
               AS b0
           FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
         span AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM ev),
         cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
             AS bucket FROM span),
         dense AS (SELECT cal.bucket, COALESCE(a0, 0.0) AS a,
             COALESCE(b0, 0.0) AS b
           FROM cal LEFT JOIN ev ON cal.bucket = ev.bucket),
         pairs AS ($legs),
         f AS (SELECT lag_h, x, y FROM pairs WHERE y IS NOT NULL),
         s AS (SELECT lag_h, CAST(COUNT(*) AS BIGINT) AS n,
             ${dsumSql("x")} AS sx, ${dsumSql("round(x * x, 6)")} AS sxx,
             ${dsumSql("y")} AS sy, ${dsumSql("round(y * y, 6)")} AS syy,
             ${dsumSql("round(x * y, 6)")} AS sxy
           FROM f GROUP BY 1),
         r AS (SELECT lag_h, n,
             round((n * sxy - sx * sy) /
               sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r
           FROM s)
         SELECT lag_h, n, r,
           abs(r) = (SELECT MAX(abs(r)) FROM r) AS is_best
         FROM r ORDER BY lag_h"""
    }),
    "win_sliding_distinct" -> Op(slidingDistinct,
      s"""SELECT user_id, epoch_us($evTs) AS ts_us, event_id,
           CAST(COUNT(DISTINCT event_type) OVER (PARTITION BY user_id
             ORDER BY $evTs, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_distinct_5
         FROM events WHERE user_id < 10
         ORDER BY user_id, ts_us, event_id"""),
    "attr_last_touch" -> Op(lastTouchAttribution,
      s"""WITH ev AS (SELECT user_id, $evTs AS ts, event_id, event_type, value
           FROM events),
         marked AS (SELECT *,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
           FROM ev),
         p AS (SELECT COALESCE(touch, 'direct') AS touch, value FROM marked
           WHERE event_type = 'purchase'),
         bt AS (SELECT touch, CAST(COUNT(*) AS BIGINT) AS n_purchases,
             round(${dsumSql("value")}, 6) AS revenue
           FROM p GROUP BY 1)
         SELECT touch, n_purchases, revenue,
           round(revenue / (SELECT ${dsumSql("revenue")} FROM bt), 6) AS share
         FROM bt ORDER BY touch"""),
    "ts_stl_decompose" -> Op(stlDecompose,
      s"""WITH hourly AS (SELECT date_trunc('hour', $evTs) AS bucket,
             round(${dsumSql("value")}, 6) AS x
           FROM events GROUP BY 1),
         tr0 AS (SELECT bucket, x,
             SUM(CAST(x AS DECIMAL(18,6))) OVER w AS tsum,
             COUNT(*) OVER w AS tn
           FROM hourly
           WINDOW w AS (ORDER BY bucket
             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         tr AS (SELECT bucket, x,
             round(CAST(tsum AS DOUBLE) / 25.0, 6) AS trend,
             CAST(hour(bucket) AS INT) AS hod
           FROM tr0 WHERE tn = 25),
         dt AS (SELECT *, round(x - trend, 6) AS detr FROM tr),
         se AS (SELECT hod,
             round(${dsumSql("detr")} / COUNT(detr), 6) AS seasonal
           FROM dt GROUP BY 1)
         SELECT epoch_us(bucket) AS bucket_us, hod, x, trend, seasonal,
           round(detr - seasonal, 6) AS resid
         FROM dt JOIN se USING (hod)
         ORDER BY abs(round(detr - seasonal, 6)) DESC, bucket_us ASC
         LIMIT 20"""),
    "anomaly_mad_robust" -> Op(madOutliers,
      """WITH med AS (SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS med
           FROM events GROUP BY 1),
         dev AS (SELECT e.event_type, e.value, med.med,
             round(abs(e.value - med.med), 6) AS adev
           FROM events e JOIN med USING (event_type)),
         mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
           FROM dev GROUP BY 1)
         SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           any_value(d.med) AS med, any_value(mad.mad) AS mad,
           CAST(SUM(CASE WHEN abs(0.6745 * (d.value - d.med) / mad.mad) > 3.5
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(MAX(abs(0.6745 * (d.value - d.med) / mad.mad)), 6) AS max_abs_z
         FROM dev d JOIN mad USING (event_type)
         GROUP BY 1 ORDER BY 1"""),
  )
}
