package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 warehouse coverage: classic TPC-H-shaped multi-way join
  * queries (Q3/Q5/Q10 adapted to the fixture schema), CDC latest-record
  * compaction, batch sessionization, time-weighted averages, day-over-day
  * deltas, fixed-bin histograms, per-key z-score anomaly flagging, and
  * distribution entropy.
  *
  * Scale notes (100 TB):
  *  - The TPC-H joins are written filter-first so Catalyst pushes every
  *    predicate into the parquet scan before the join; `nation`/`region`
  *    are explicitly `broadcast()` (25/5 rows at EVERY scale — guaranteed
  *    safe), everything else is left to AQE which picks
  *    broadcast-vs-shuffle from runtime sizes; at 100 TB the
  *    orders⋈lineitem legs become shuffle hash joins on the order key.
  *  - CDC compaction / sessionization / TWA / z-score are one shuffle each
  *    (hash partition by the entity key, then window math inside the
  *    partition) — the optimal layout; nothing re-shuffles between the
  *    window pass and the final per-key aggregate because the partitioning
  *    is reused.
  *  - The day-over-day lag runs on post-aggregate data (one row per day —
  *    bounded at any scale) so its single-partition window is safe.
  *  - The histogram is a row-local bin computation followed by a
  *    partially-aggregated groupBy on ≤10 keys — map-side combine
  *    collapses it before the (tiny) shuffle.
  */
object Warehouse {

  // ------------------------------------------------------------------
  // TPC-H-shaped multi-join analytics (§2.C widening)
  // ------------------------------------------------------------------

  /** TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    * date-filtered orders ⋈ lineitem, revenue per order, top 10. Both date
    * predicates and the segment predicate reach the scans; the two joins
    * shuffle on custkey/orderkey (AQE may broadcast the filtered customer
    * side — 1/5 of customers and only the key column survive pruning). */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = orders(spark, dir)
      .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = lineitem(spark, dir)
      .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5 shape (local supplier volume): 6-way star join region →
    * nation → customer → orders → lineitem → supplier, restricted to one
    * region/year and to lineitems whose supplier sits in the customer's
    * nation. nation⋈region is pre-joined and broadcast (30 rows, safe at
    * any scale); supplier is small relative to the fact legs so AQE
    * broadcasts it at fixture scale and shuffles it at warehouse scale. */
  def tpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val n = nation(spark, dir).join(region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select("n_nationkey", "n_name")
    val c = customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val s = supplier(spark, dir).select("s_suppkey", "s_nationkey")
    broadcast(n)
      .join(c, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** TPC-H Q10 shape (returned items): revenue lost to returns per
    * customer over a 6-month order window, top 20 customers. The
    * returnflag predicate prunes ~2/3 of lineitem at the scan; nation is
    * broadcast. */
  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val c = customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = nation(spark, dir).select("n_nationkey", "n_name")
    c.join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q14 shape (promotion effect): share of revenue from PROMO
    * parts in one order-month. One join, one global conditional
    * aggregate; the month predicate prunes lineitem at the scan and the
    * part side carries only (key, type) after pruning. */
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val l = lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = part(spark, dir).select("p_partkey", "p_type")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type").startsWith("PROMO"),
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          .as("promo_revenue"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6)
          .as("promo_pct"))
  }

  /** TPC-H Q18 shape (large-volume customers): orders whose total line
    * quantity exceeds a threshold, joined back to customer, top 20 by
    * quantity. The HAVING pre-aggregate runs BEFORE the joins, so only
    * qualifying order keys (a tiny set) reach the join — the
    * aggregate-then-join ordering that matters at 100 TB. */
  def tpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > 150)
    bigOrders
      .join(orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(20)
  }

  // ------------------------------------------------------------------
  // CDC / sessionization / time series (§2.I batch analogues)
  // ------------------------------------------------------------------

  /** CDC changelog compaction (upsert materialization): the latest event
    * per (user_id, event_type) key, ties broken by event_id — the batch
    * form of a keyed `last_value` state store. One shuffle on the key;
    * at 100 TB this is the standard log→table compaction shape. */
  def cdcLatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
        unix_micros(col("ts")).as("last_ts_us"), col("value").as("last_value"))
      .orderBy("user_id", "event_type")
  }

  /** SCD type-2 history build from the event changelog: each user's
    * event_type is tracked as a slowly-changing attribute — consecutive
    * equal values compact into one validity interval `[valid_from_us,
    * valid_to_us)`, the latest version left open (null valid_to,
    * is_current). Change rows are found with `lag() ≠ current`; intervals
    * close with `lead()` over the surviving change rows. Both window
    * passes and the filter reuse ONE user_id hash partitioning — a single
    * shuffle, which is the floor for any order-sensitive history build;
    * at 100 TB this is the standard changelog → dimension-table shape. */
  def cdcScd2Intervals(spark: SparkSession, dir: String): DataFrame =
    scd2Dim(spark, dir).orderBy("user_id", "version")

  /** Unordered SCD2 dimension (shared by the history query above and the
    * temporal join below, which must not inherit the output sort). */
  private def scd2Dim(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser).cast("long"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(byUser))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** Temporal (versioned-dimension) join — the Flink
    * `FOR SYSTEM_TIME AS OF` surface: every purchase joined to the SCD2
    * version that was valid AT PURCHASE TIME (`valid_from ≤ ts <
    * valid_to`, open version catches the tail). Because the dimension's
    * half-open intervals partition each user's timeline and every probe
    * ts lies inside the user's covered range, each probe matches EXACTLY
    * one version — cardinality-preserving by construction. Scale shape:
    * equi join on user_id with the interval predicate as residual (SMJ
    * on the key; the dim is the compacted changelog, orders of magnitude
    * smaller than the event stream), plus the dim's own single-shuffle
    * window build. No bucketization needed — the equi key is natural
    * here, unlike the keyless `join_range_bucketed`. */
  def cdcTemporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val probes = events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_ts_us"))
    probes.join(scd2Dim(spark, dir),
        col("p_user") === col("user_id") &&
          col("p_ts_us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("p_ts_us") < col("valid_to_us")))
      .select(col("purchase_id"), col("user_id"), col("version"),
        col("event_type").as("type_at_purchase"), col("valid_from_us"))
      .orderBy("purchase_id")
  }

  /** Batch sessionization: a new session starts after a >2h silence per
    * user (lag + cumulative-sum-of-boundaries), then per-session stats.
    * The lag window and the groupBy reuse the same user_id hash
    * partitioning — one shuffle total. */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 2L * 3600 * 1000000, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        dsum(col("value")).as("sum_value"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderBy("user_id", "session_idx")
  }

  /** Native `session_window` sessionization (the same 2h-gap sessions as
    * `sessionize_events`, via Spark's built-in session operator — the one
    * that also runs under Structured Streaming with watermark-merged
    * state). Window end is the native semantics: last event + gap. The
    * oracle derives identical sessions from the lag+cumsum formulation,
    * proving the two agree. */
  def sessionizeNativeWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** DYNAMIC-GAP sessionization — the batch twin of Flink's
    * `SessionWindowTimeGapExtractor` (a per-ELEMENT inactivity gap,
    * here gap(e) = 4h for purchases, 1h for clicks/views, 30min for the
    * rest — a checkout should keep a session alive longer than a
    * drive-by view). Flink's merging semantics: each event spans
    * `[ts, ts+gap(e))` and windows merge while they overlap, so a
    * session's end is the RUNNING MAX of `ts+gap` over its events and a
    * boundary opens exactly when an event's ts reaches every previous
    * end. A `lag(ts)`-only formulation is NOT faithful — one early
    * long-gap event (a purchase) must keep the session open across
    * several short-gap successors — so the boundary test uses
    * `max(ts+gap) OVER (… ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)`.
    * Because that cummax is monotone and every boundary event strictly
    * dominates it, a closed session can never re-capture later events.
    * Scale shape is `sessionize_events` exactly: the ordered window and
    * the groupBy share one user_id hash partitioning — one shuffle.
    * Streaming twin: [[graft.streaming.Streams.dynamicGapSessionsTws]]
    * (same gap function, timers + in-batch boundary split). */
  def sessionizeDynamicGap(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = when(col("event_type") === "purchase", lit(4L * 3600 * 1000000L))
      .when(col("event_type").isin("click", "view"), lit(3600L * 1000000L))
      .otherwise(lit(30L * 60 * 1000000L))
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val prevRows = ord.rowsBetween(Window.unboundedPreceding, -1)
    events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("end_us_e", col("ts_us") + gapUs)
      .withColumn("prev_end_max", max(col("end_us_e")).over(prevRows))
      .withColumn("is_new", when(col("prev_end_max").isNull ||
        col("ts_us") >= col("prev_end_max"), 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(ord))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("end_us_e")).as("end_us"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** Time-weighted average of `value` per user: each reading is weighted
    * by how long it was current (interval to the next reading). Decimal
    * sums keep the weighted numerator deterministic across engines. */
  def tsTimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .where(col("next_us").isNotNull)
      .withColumn("dt_s", (col("next_us") - unix_micros(col("ts"))).cast("double") / lit(1000000.0))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        (dsum(col("value") * col("dt_s")) / dsum(col("dt_s"))).as("twa"))
      .select(col("user_id"), col("n_intervals"), round(col("twa"), 6).as("twa"))
      .orderBy("user_id")
  }

  /** Day-over-day percent change of total event value. The lag runs on
    * post-aggregate data (≤31 rows at any scale), so its single-partition
    * window is bounded by the date span, not the data volume. */
  def tsPctChangeDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(dsum(col("value")).as("total"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("prev", lag(col("total"), 1).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("total"),
        round((col("total") - col("prev")) / col("prev"), 6).as("pct_change"))
      .orderBy("day")
  }

  // ------------------------------------------------------------------
  // Product analytics over the stream table (DAU / retention / funnel)
  // ------------------------------------------------------------------

  /** Daily active users — THE canonical streaming metric: distinct users
    * + event count per event-time day. A single distinct aggregate plans
    * two-phase (partial distinct per partition, final merge). */
  def dauDaily(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"), count(lit(1)).as("n_events"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"), col("n_events"))
      .orderBy("day")

  /** Day-1 retention cohort: of the users active on day D, the share also
    * active on D+1. Two distinct-user sets self-joined one day apart —
    * the standard cohort-retention shape; the daily-actives set is tiny
    * relative to events, so the self-join is cheap at any scale. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .distinct()
    val retained = daily.as("a")
      .join(daily.as("b"),
        col("b.day") === col("a.day") + expr("INTERVAL 1 DAY") &&
          col("b.user_id") === col("a.user_id"))
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("retained"))
    daily.groupBy(col("day")).agg(count(lit(1)).as("active"))
      .join(retained, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("active"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        round(coalesce(col("retained"), lit(0L)).cast("double") /
          col("active").cast("double"), 6).as("rate"))
      .orderBy("day")
  }

  /** L206 — full cohort RETENTION MATRIX (the week-one triangle every
    * growth dashboard leads with; generalizes the rolling day-1 rate of
    * [[cohortRetention]] to per-cohort day-offset curves): cohort = a
    * user's FIRST-activity day; for each (cohort, offset 0..6) the
    * share of the cohort active offset days later. Shape: first-day per
    * user and distinct (user, day) activity share the user-keyed
    * shuffle; activity joins the user→cohort map on the same key; the
    * final (cohort, offset) agg is calendar²-bounded. Offset-0 rows are
    * the cohort sizes (rate exactly 1 — a built-in self-check the
    * oracle gates); rates are exact-int divisions rounded 6dp. */
  def cohortMatrix(spark: SparkSession, dir: String): DataFrame = {
    val activity = events(spark, dir)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .distinct()
    val firstDay = activity.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    val sizes = firstDay.groupBy("cohort_day")
      .agg(count(lit(1)).as("n_cohort"))
    activity.join(firstDay, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .where(col("day_offset").between(0, 6))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        col("day_offset"), col("n_cohort"), col("n_active"),
        round(col("n_active").cast("double") / col("n_cohort").cast("double"), 6)
          .as("rate"))
      .orderBy("cohort", "day_offset")
  }

  /** L207 — RFM customer segmentation (Hughes 1994 "Strategic Database
    * Marketing" — the recency/frequency/monetary quartile scoring CRM
    * systems run on every customer base): per customer recency (last
    * order date), frequency (order count), monetary (decimal-summed
    * total spend), each scored 1–4 against its QUARTILE BOUNDARIES.
    * Deliberately NOT `ntile(4)`: a global ntile is a single-partition
    * window sort — the anti-pattern the SNM rank path also avoids —
    * while three exact interpolated percentiles (the L21 contract) are
    * a 1-row broadcast and the scoring is row-local comparison: scale =
    * one customer-keyed agg + one broadcast. Boundaries and metrics are
    * rounded to 6dp BEFORE comparison on both engines, so a boundary
    * customer can never flip on an ulp. Output: the ≤64 segment cells
    * with counts and decimal-averaged spend. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(unix_micros(col("o_orderdate"))).as("rec"),
        count(lit(1)).cast("double").as("freq"),
        round(dsum(col("o_totalprice")), 6).as("mon"))
      .withColumn("rec", col("rec").cast("double"))
    def qs(c: String) = Seq(0.25, 0.5, 0.75).map(q =>
      round(call_function("percentile", col(c), lit(q)), 6)
        .as(s"${c}_q${(q * 100).toInt}"))
    val bounds = per.agg(qs("rec").head, (qs("rec").tail ++ qs("freq") ++
      qs("mon")): _*)
    def score(c: String) =
      (lit(1) + (col(c) > col(s"${c}_q25")).cast("int") +
        (col(c) > col(s"${c}_q50")).cast("int") +
        (col(c) > col(s"${c}_q75")).cast("int"))
    per.crossJoin(broadcast(bounds)) // 1-row boundary broadcast
      .select(col("o_custkey"), col("mon"),
        score("rec").as("r"), score("freq").as("f"), score("mon").as("m"))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        // sum, not average: the 6dp inputs sum EXACTLY in decimal and
        // the total stays under 2^53, while an average can land on a
        // round-half boundary the two engines break differently
        // (observed at sf0.01) — the derivable statistic is the safe one
        dsum(col("mon")).as("sum_spend"))
      .withColumn("segment", concat_ws("", col("r"), col("f"), col("m")))
      .select(col("segment"), col("r"), col("f"), col("m"),
        col("n_customers"), col("sum_spend"))
      .orderBy("segment")
  }

  /** L208 — WINSORIZED robust statistics (Tukey's classic outlier
    * treatment — clip, don't drop: the cleaning step metric pipelines
    * apply before averaging anything heavy-tailed): event values are
    * clipped to the exact interpolated [p1, p99] band (the L21
    * percentile contract; boundaries rounded 6dp then broadcast as one
    * row — the RFM scale pattern, no global sort) and the report
    * carries, per event type, the clipped-row counts and BOTH means —
    * raw and winsorized, decimal-summed — so the operator's effect is
    * visible and hash-gated, not asserted. Clipping is row-local
    * `least/greatest`; two map-combinable passes overall. */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val bounds = ev.agg(
      round(call_function("percentile", col("value"), lit(0.01)), 6).as("lo"),
      round(call_function("percentile", col("value"), lit(0.99)), 6).as("hi"))
    ev.crossJoin(broadcast(bounds)) // 1-row boundary broadcast
      .withColumn("w", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        round(davg(col("value")), 6).as("mean_raw"),
        round(davg(col("w")), 6).as("mean_winsor"))
      .orderBy("event_type")
  }

  /** L209 — session PATH mining (the "top user journeys" table behind
    * every UX/navigation review; the sequence sibling of the L203
    * Markov matrix — Markov sees one step, paths see the journey):
    * sessions are the `sessionize_events` 2h-gap sessions; within each,
    * the (ts, event_id)-ordered event-type sequence yields its sliding
    * 3-step paths, counted corpus-wide, top-10 with full tie-break.
    * ONE user-keyed shuffle covers the ordering window, the
    * sessionization cumsum, and the per-session fold
    * (`sort_array(collect_list(struct(...)))` pins in-session order
    * engine-independently); the 3-gram explode is row-local over
    * session arrays bounded by session LENGTH — never corpus-sized —
    * and the path agg is \|types\|³-bounded. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val seqs = events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 2L * 3600 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(expr("transform(sort_array(collect_list(struct(" +
        "unix_micros(ts) AS us, event_id, event_type))), e -> e.event_type)")
        .as("types"))
    seqs.where(size(col("types")) >= 3)
      .select(explode(arrays_zip(
        slice(col("types"), lit(1), size(col("types")) - 2),
        slice(col("types"), lit(2), size(col("types")) - 2),
        slice(col("types"), lit(3), size(col("types")) - 2))).as("g"))
      .select(concat_ws(">", col("g.0"), col("g.1"), col("g.2")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(10)
  }

  /** L210 — exponentially time-DECAYED popularity (the trending
    * primitive behind feeds and leaderboards: recent demand outranks
    * raw volume; half-life framing per Cormode, Shkapenyuk, Srivastava
    * & Xu 2009, "Forward decay"): per part, score = Σ_orders 2^(−weeks
    * ago), one-week half-life measured in WHOLE weeks from the corpus's
    * max order date. The weight is built by INTEGER SHIFT
    * (1.0 / (1 << weeks)), not `pow` — every term is an exact binary
    * fraction with denominator ≤ 2^⌈weeks⌉, so partial sums are EXACT
    * doubles in any order (denominators ≤ 2^30, total numerator mass
    * < 2^47 ≪ 2^53): bit-determinism with no decimal quantization and
    * no cross-libm `pow` ulp risk at all. Shape: fact⋈fact equi join
    * on the order key (one shuffle each side), 1-row max-date
    * broadcast, part-keyed agg — map-combinable because exact addition
    * is associative here. Top-20, full tie-break. */
  def trendingDecayed(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val maxD = o.agg(max(col("o_orderdate")).as("max_d"))
    val li = lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(maxD)) // 1-row anchor broadcast
      .withColumn("weeks", // cap 40: beyond it the weight is ~1e-12 and
        // an uncapped shift would wrap the 64-bit lane (the fixture
        // calendar spans ~340 weeks); per-part sums stay exact —
        // numerators ≤ n_part·2^40 ≪ 2^53
        least(floor(datediff(col("max_d"), col("o_orderdate")) / 7)
          .cast("int"), lit(40)))
      .withColumn("w", expr("CAST(1.0 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), weeks)"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lineitems"), sum(col("w")).as("decayed"))
      .orderBy(col("decayed").desc, col("l_partkey").asc)
      .limit(20)
  }

  /** L211 — revenue CONCENTRATION audit (the "top decile share" /
    * whale-dependency number every revenue review and risk report
    * carries — the discrete cousin of a Lorenz/Gini readout, computed
    * without any global sort): per-customer revenue (decimal-summed,
    * rounded 6dp — the RFM metric contract), the exact interpolated p90
    * boundary broadcast as one row, then a single conditional pass:
    * customers above the boundary, their revenue mass, the maximum
    * single-customer revenue, and the decile share. Numerator and
    * denominator ship as EXACT decimal sums beside the rounded share,
    * so the statistic is derivable even if a reader distrusts the
    * rounding. Scale: one customer-keyed agg + one 1-row broadcast —
    * the RFM shape. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val per = orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(round(dsum(col("o_totalprice")), 6).as("rev"))
    val bound = per.agg(
      round(call_function("percentile", col("rev"), lit(0.9)), 6).as("p90"))
    per.crossJoin(broadcast(bound)) // 1-row boundary broadcast
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("rev") > col("p90"), 1L).otherwise(0L)).as("n_top"),
        dsum(col("rev")).as("total_rev"),
        dsum(when(col("rev") > col("p90"), col("rev"))).as("top_rev"),
        max(col("rev")).as("max_rev"),
        first(col("p90")).as("p90"))
      .withColumn("top_share",
        round(col("top_rev") / col("total_rev"), 6))
      .withColumn("max_share",
        round(col("max_rev") / col("total_rev"), 6))
  }

  /** Ordered funnel view → click → purchase: a user counts for a stage
    * only if their first event of that stage follows their first event of
    * the previous stage. One conditional-aggregation pass per user, then a
    * single global rollup — two shuffles, the second on one row. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val perUser = firstStageTimes(spark, dir)
    perUser.agg(
      sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
      sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1L)
        .otherwise(0L)).as("n_click_after_view"),
      sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
        col("t_purchase") > col("t_click"), 1L).otherwise(0L))
        .as("n_purchase_after_click"))
  }

  /** L196 — funnel TIME-TO-CONVERT percentiles (the latency half of the
    * L90 funnel: not just how many users convert, but how long each
    * stage transition takes — the number a growth/product review
    * actually argues over): per user the same ordered first-event
    * timestamps as [[funnelStages]], then per transition (view→click,
    * click→purchase, view→purchase) the converting-user count and exact
    * interpolated p50/p90 of the transition delay in seconds. Deltas
    * are exact integer MICROSECONDS (`unix_micros` diff — both engines
    * compute the same longs, doubles stay exact under 2^53), and the
    * percentile is the L21 `percentile`/`quantile_cont` parity
    * contract. ONE conditional-aggregation pass computes all nine
    * numbers; the 1-row result is unpivoted to transition rows with an
    * array-of-structs explode — no recomputation, no union of three
    * re-aggregations. Scale = `funnel_stages` exactly: one user-keyed
    * shuffle, then one row. */
  def funnelTimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val perUser = firstStageTimes(spark, dir)
    val vc = col("t_view").isNotNull && col("t_click") > col("t_view")
    val cp = vc && col("t_purchase") > col("t_click")
    val dvc = unix_micros(col("t_click")) - unix_micros(col("t_view"))
    val dcp = unix_micros(col("t_purchase")) - unix_micros(col("t_click"))
    val dvp = unix_micros(col("t_purchase")) - unix_micros(col("t_view"))
    def leg(cond: Column, delta: Column, p: Double) =
      round(expr_percentile(when(cond, delta), p) / 1e6, 6)
    val agged = perUser.agg(
      sum(when(vc, 1L).otherwise(0L)).as("n_vc"),
      sum(when(cp, 1L).otherwise(0L)).as("n_cp"),
      leg(vc, dvc, 0.5).as("vc50"), leg(vc, dvc, 0.9).as("vc90"),
      leg(cp, dcp, 0.5).as("cp50"), leg(cp, dcp, 0.9).as("cp90"),
      leg(cp, dvp, 0.5).as("vp50"), leg(cp, dvp, 0.9).as("vp90"))
    agged.select(explode(array(
        struct(lit("1_view_to_click").as("transition"),
          col("n_vc").as("n_users"), col("vc50").as("p50_s"),
          col("vc90").as("p90_s")),
        struct(lit("2_click_to_purchase").as("transition"),
          col("n_cp").as("n_users"), col("cp50").as("p50_s"),
          col("cp90").as("p90_s")),
        struct(lit("3_view_to_purchase").as("transition"),
          col("n_cp").as("n_users"), col("vp50").as("p50_s"),
          col("vp90").as("p90_s")))).as("r"))
      .select(col("r.transition"), col("r.n_users"), col("r.p50_s"),
        col("r.p90_s"))
      .orderBy("transition")
  }

  /** Per user the first view, click and purchase timestamps. */
  private def firstStageTimes(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))

  /** Spark's exact interpolated `percentile` over a conditional column
    * (nulls skipped — only converting users contribute). */
  private def expr_percentile(c: Column, p: Double): Column =
    call_function("percentile", c, lit(p))

  /** L203 — first-order Markov TRANSITION MATRIX over per-user event
    * sequences (the "what happens after X" table behind next-action
    * prediction, funnel diagnosis, and anomalous-flow detection): order
    * each user's events by (ts, event_id), pair each with its
    * predecessor (`lag` — one user-keyed shuffle shared by window and
    * aggregate), and report per (from, to) the transition count and
    * row-normalized probability p = n / Σ_from n. Both operands exact
    * integers → one double division rounded at 6dp (engine-identical);
    * counts hash-gated. The |types|² output is dimension-bounded — at
    * 100 TB the transition stream shuffles once and the matrix stays
    * tiny. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = events(spark, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("row_n"))
    trans.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("row_n").cast("double"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** L320 — cohort LTV curve: cumulative revenue per user by cohort
    * age (the lifetime-value triangle next to L206's retention matrix
    * — retention says users COME BACK, LTV says what that is WORTH;
    * the payback-period readout every acquisition budget is set
    * against). Cohort = customer's first-order month; one cust-keyed
    * shuffle builds the cohort map, revenue joins it on the same key,
    * the (cohort, age) agg is calendar²-bounded. Revenue carried in
    * THOUSANDS (L225 magnitude rule); the cumulative is a decimal
    * window sum over round-6 monthly cells; LTV-per-user is the one
    * round-6 division against the exact cohort headcount. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val om = orders(spark, dir).select(col("o_custkey"),
      trunc(col("o_orderdate").cast("date"), "month").as("month"),
      col("o_totalprice"))
    val firstM = om.groupBy("o_custkey").agg(min(col("month")).as("m0"))
    val sizes = firstM.groupBy("m0").agg(count(lit(1)).as("n_cohort"))
    val idx = (c: org.apache.spark.sql.Column) =>
      year(c) * 12 + month(c)
    val cells = om.join(firstM, "o_custkey")
      .withColumn("age_months", (idx(col("month")) - idx(col("m0"))).cast("long"))
      .groupBy(col("m0"), col("age_months"))
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")) / 1e3, 6).as("rev_k"))
    val wCum = Window.partitionBy(col("m0")).orderBy(col("age_months"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_dec", sum(col("rev_k").cast("decimal(18,6)")).over(wCum))
      .withColumn("cum_rev_k", col("cum_dec").cast("double"))
      .withColumn("cum_micros", (col("cum_dec") * 1000000).cast("long"))
      .join(broadcast(sizes), "m0")
      // LTV to 6dp via exact half-up integer division — the double route
      // lands on true .5e-6 midpoints (cum is a 6dp decimal, the divisor
      // an exact headcount) and splits the engines
      .withColumn("ltv_per_user_k",
        expr("(2 * cum_micros + n_cohort) div (2 * n_cohort)")
          .cast("double") / 1e6)
      .select(date_format(col("m0"), "yyyy-MM").as("cohort_month"),
        col("age_months"), col("n_cohort"), col("n_orders"), col("rev_k"),
        col("cum_rev_k"), col("ltv_per_user_k"))
      .orderBy("cohort_month", "age_months")
  }

  /** L204 — market-basket LIFT mining (Agrawal & Srikant VLDB 1994
    * association-rule framing; lift = the co-occurrence strength that
    * survives popularity, the retail "bought-together" primitive):
    * distinct (order, part) pairs → within-order part pairs (a < b) →
    * support counts, joined to per-part order counts and the order
    * total: lift(a,b) = c(ab)·N / (c(a)·c(b)). Min support 2 removes
    * singleton-pair noise; top-20 by rounded lift (ties by part pair).
    * Scale shape: per-order work is C(k,2) with k = items/order (≈4
    * here, bounded by basket size, never catalog size — the SNM
    * window's bounded-clique argument), generated ROW-LOCALLY from each
    * order's sorted basket array after ONE o-keyed shuffle (the first
    * cut self-joined the distinct (o, p) table — correct, but two extra
    * o-keyed exchanges that at 100 TB are pure waste); part marginals
    * are dim-sized broadcasts. */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    // ONE o-keyed shuffle builds the basket arrays; pair generation is
    // then ROW-LOCAL combinatorics over each ≤k-element sorted basket
    // (nested index transforms + flatten) — no distinct+self-join round
    // trip, no second o-keyed exchange. Marginals and the order total
    // fold off the same basket frame.
    val baskets = lineitem(spark, dir)
      // explicit o-exchange (round 17): AQE coalesces the basket agg's
      // post-shuffle partitions by input bytes, but the pair explosion
      // below blows each basket up C(k,2)-fold — pin full parallelism
      // (Tables.keyWidth, round 18: bare keyed repartitions DO get
      // AQE-coalesced); the groupBy reuses this exchange, no shuffle added
      .transform(graft.Tables.keyWidth(_, col("l_orderkey")))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    val pairs = baskets
      .select(explode(flatten(expr(
        """transform(ps, (a, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1), b ->
               struct(a AS pa, b AS pb)))"""))).as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    val parts = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(parts.select(col("p").as("pa"), col("n_p").as("na"))), "pa")
      .join(broadcast(parts.select(col("p").as("pb"), col("n_p").as("nb"))), "pb")
      .crossJoin(broadcast(nOrders))
      .withColumn("lift", round(
        (col("n_ab").cast("double") * col("n_orders").cast("double")) /
          (col("na").cast("double") * col("nb").cast("double")), 6))
      .select(col("pa"), col("pb"), col("n_ab"), col("na"), col("nb"),
        col("lift"))
      .orderBy(col("lift").desc, col("pa").asc, col("pb").asc)
      .limit(20)
  }

  /** L310 — item-item collaborative filtering by co-purchase cosine
    * (Sarwar et al. WWW 2001; Linden et al. 2003 — the Amazon-style
    * "customers who bought X also bought Y" primitive, the neighbor
    * table every recsys serves from): sim(a,b) = |Cᵃ∩Cᵇ| /
    * √(|Cᵃ|·|Cᵇ|) over binary customer–item vectors. The L204 basket
    * idea lifted from order grain to CUSTOMER grain: one c-keyed
    * shuffle co-locates each customer's items, pair generation is a
    * codegen'd self-join within the key (pair volume Σ C(kᵢ,2) with
    * k = items per CUSTOMER — bounded by purchase history, not
    * catalog), item marginals are catalog-sized broadcasts.
    * HYPERACTIVE-ACCOUNT CAP (round 13, closing the family's last
    * documented-not-coded mitigation — VERDICT r12 #4): a customer
    * basket above [[CfBasketCap]] items routes only its cap
    * h48-lowest items into pair generation (deterministic truncation
    * both engines compute bit-identically; item marginals n_a/n_b
    * stay EXACT — only the quadratic pair stage is capped). Pair
    * volume is ≤ C(cap,2)·|customers| at ANY skew, and each emitted
    * pair carries `n_capped_custs` — how many of its co-support
    * customers were truncated — so an exact row is distinguishable
    * from a lower-bounded one (the graph_two_hop_reach honesty
    * contract). The cap clears every fixture maximum (66/90/105 items
    * at sf0.001/0.01/0.1), so fixture answers are exact with
    * n_capped_custs = 0; ScaleRehearsalSpec drives the capped branch
    * on a synthetic hyperactive account. Min co-support 2; top-20 by
    * round-6 cosine with the (a, b) tiebreak. */
  def itemItemCf(spark: SparkSession, dir: String): DataFrame = {
    val cp = orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    // marginals off the SAME c-keyed basket frame the pair stage uses —
    // the canonical-identical subtree makes its exchange a ReusedExchange,
    // so the whole query pays ONE data shuffle before the pair aggregate
    val ni = basketFrame(cp).groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val co = itemPairCounts(cp, CfBasketCap)
    co
      .join(broadcast(ni.select(col("p").as("item_a"), col("n_p").as("n_a"))),
        "item_a")
      .join(broadcast(ni.select(col("p").as("item_b"), col("n_p").as("n_b"))),
        "item_b")
      .withColumn("cosine", round(col("n_co").cast("double") /
        sqrt(col("n_a").cast("double") * col("n_b").cast("double")), 6))
      .select(col("item_a"), col("item_b"), col("n_co"), col("n_a"),
        col("n_b"), col("cosine"), col("n_capped_custs"))
      .orderBy(col("cosine").desc, col("item_a").asc, col("item_b").asc)
      .limit(20)
  }

  /** Basket-size ceiling for [[itemItemCf]]'s quadratic pair stage —
    * above fixture maxima (66/90/105 distinct items at the three SFs),
    * so fixture answers stay exact; the capped branch is rehearsed on a
    * synthetic hyperactive account in ScaleRehearsalSpec. */
  private[graft] val CfBasketCap = 128

  /** The shared (c, p) basket frame: packed-key bound guard, ONE
    * c-keyed repartition, dedup and basket size WITHIN that partition.
    * hash(c) satisfies the clustering requirement of both the (c, p)
    * distinct and the partitionBy(c) window, so neither adds an
    * exchange — the round-15 plan paid FOUR data shuffles before the
    * pair aggregate (distinct on (c,p), basket-size groupBy(c), the
    * size join, the self-join's re-shuffle); this one pays ONE, reused
    * across both self-join sides and [[itemItemCf]]'s marginals.
    * Trade-off, documented: the c-exchange now carries duplicate
    * incidences (dedup is post-shuffle). On TPC-H incidence the dup
    * ratio is ~1.001 (599 351 distinct of 600 572 at sf0.1), so
    * map-side dedup bought nothing; a dup-heavy source should insert
    * its own distinct() upstream. */
  private def basketFrame(cp: DataFrame): DataFrame = {
    val checked = cp.withColumn("p",
      when(col("p") >= 0L && col("p") < 2147483648L, col("p"))
        .otherwise(raise_error(format_string(
          "itemPairCounts: item id %d outside the packed-key bound [0, 2^31)",
          col("p"))).cast("long")))
    graft.Tables.keyWidth(checked, col("c")).distinct()
      .withColumn("bs", count(lit(1)).over(Window.partitionBy(col("c"))))
  }

  /** Co-occurrence pair counts over a (c, p) incidence frame (dups
    * tolerated — [[basketFrame]] dedupes) with the hyperactive-key cap:
    * baskets ≤ cap pair exactly; larger baskets contribute only their
    * cap h48-lowest items (p tiebreak), and every pair reports how many
    * of its contributing customers were truncated. Pair generation
    * stays the codegen'd within-customer self-join (round 14 measured
    * the L204 collect+explode alternative: faster in a fresh JVM but
    * 6.9 → 12.5 s inside the long-lived bench JVM — the array
    * allocation churn loses to the join's codegen under an aged heap);
    * the packed pair key — (a, b) as ONE long (partkeys < 2³¹) — keeps
    * the near-unique-key aggregate (map-side combine can't shrink it)
    * shuffling 8-byte keys instead of two-field structs. The 2³¹
    * packing bound is ENFORCED, not assumed (round-15 ADVICE fix): an
    * item id ≥ 2³¹ would overflow the long multiply into negative keys
    * (possible collisions) and `div` truncates toward zero on
    * negatives, silently unpacking wrong item ids — TPC-H partkeys
    * cross 2³¹ around SF ~10,700, inside the 100-TB regime this
    * operator claims. The guard is an in-plan `raise_error` branch
    * evaluated once per (customer, item) incidence row (NOT per pair —
    * fan grain, linear), so an out-of-range id fails the job loudly
    * instead of corrupting the ranking; Round15Spec pins both the trip
    * and the pass-through.
    *
    * ROUND-16 ROOT CAUSE + RESTRUCTURE (closes the r14/r15 aged-JVM
    * bi-modality): a fresh-vs-aged stage-metric diff showed the
    * slow regime moves IDENTICAL bytes (148.2 MB shuffle read, 85
    * tasks, 0 spill, GC ≤ 1 s) while task CPU inflates 25 s → 50 s, and
    * a rerun with `spark.sql.codegen.cache.maxEntries=8192` held the
    * aged regime at ZERO Catalyst recompiles yet stayed slow — so the
    * instability is HotSpot re-JITting the suite's churning generated
    * classes (jit_total_ms rose 1–4 s per rep even at zero recompiles),
    * not plan or codegen-cache state. The fix is therefore to shrink
    * the work: the four pre-pair exchanges above collapsed to one,
    * measured (standalone JVM, sf0.1, local[32]) 3.4 s → 2.2 s steady
    * for the pair+agg chain and 2.9 s → ~2.1 s for the full key, with a
    * proportionally smaller JIT-warm surface. localCheckpoint of the
    * fan was ALSO measured (2.6–3.3 s) and rejected — materialization
    * overhead exceeds the recompute it saves. */
  private[graft] def itemPairCounts(cp: DataFrame, cap: Int): DataFrame = {
    val sized = basketFrame(cp)
    val hubW = Window.partitionBy(col("c"))
      .orderBy(graft.Tables.h48(concat_ws(":", col("c"), col("p"))),
        col("p"))
    val fan = sized.where(col("bs") <= cap)
      .select(col("c"), col("p"), lit(0L).as("capped"))
      .unionAll(sized.where(col("bs") > cap)
        .withColumn("rn", row_number().over(hubW))
        .where(col("rn") <= cap)
        .select(col("c"), col("p"), lit(1L).as("capped")))
    fan.as("a")
      .join(fan.as("b"),
        col("a.c") === col("b.c") && col("a.p") < col("b.p"))
      .select((col("a.p") * 4294967296L + col("b.p")).as("k"),
        col("a.capped").as("capped"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_co"),
        sum(col("capped")).as("n_capped_custs"))
      .where(col("n_co") >= 2)
      .select(expr("k div 4294967296").as("item_a"),
        pmod(col("k"), lit(4294967296L)).as("item_b"),
        col("n_co"), col("n_capped_custs"))
  }

  /** L205 — A/B experiment analysis: two-proportion pooled z-test (the
    * classic experimentation readout — Kohavi et al., "Trustworthy
    * Online Controlled Experiments", for the framing): users are
    * assigned to arms by the deterministic h48 parity of their id (the
    * hash-bucket assignment real experiment platforms use, and the
    * repo's portable-hash contract makes it oracle-reproducible), then
    * z = (p_A − p_B) / √(p̂(1−p̂)(1/n_A + 1/n_B)) with p̂ the pooled
    * rate. Two metrics ship per the fired-alarm principle (L194/L197/
    * L200):
    *   - `high_value_buyer` (user-level: max purchase value > 180 —
    *     any-purchase is degenerate on the fixtures, every user buys,
    *     and a pooled rate of 1 makes z literally 0/0): arms are
    *     exchangeable halves of identical behavior, so the CONTROL
    *     must come out non-significant — an A/A test, the calibration
    *     every experiment platform runs first;
    *   - `exceed_planted` (event-level value > 200 after a +30 uplift
    *     planted on arm A — the mutated-twin pattern): a real effect
    *     by construction, so significance IS seen to trigger.
    * All counts exact integers; z is one closed-form double rounded at
    * 6dp, the flag computed from the ROUNDED z (engine-stable). Two
    * map-combinable aggregation passes (one user-keyed, one
    * event-level), output two rows. */
  def abTestZtest(spark: SparkSession, dir: String): DataFrame = {
    val arm = pmod(h48(col("user_id").cast("string")), lit(2))
    def zRow(metric: String, agged: DataFrame): DataFrame = {
      // agged: (arm, n, x) two rows -> single wide row -> z
      val wide = agged.agg(
        sum(when(col("arm") === 0, col("n"))).as("n_a"),
        sum(when(col("arm") === 0, col("x"))).as("x_a"),
        sum(when(col("arm") === 1, col("n"))).as("n_b"),
        sum(when(col("arm") === 1, col("x"))).as("x_b"))
      wide.select(lit(metric).as("metric"), col("n_a"), col("x_a"),
          col("n_b"), col("x_b"),
          round(col("x_a").cast("double") / col("n_a").cast("double"), 6)
            .as("p_a"),
          round(col("x_b").cast("double") / col("n_b").cast("double"), 6)
            .as("p_b"),
          round((col("x_a").cast("double") / col("n_a").cast("double") -
            col("x_b").cast("double") / col("n_b").cast("double")) /
            sqrt(((col("x_a") + col("x_b")).cast("double") /
              (col("n_a") + col("n_b")).cast("double")) *
              (lit(1.0) - (col("x_a") + col("x_b")).cast("double") /
                (col("n_a") + col("n_b")).cast("double")) *
              (lit(1.0) / col("n_a").cast("double") +
                lit(1.0) / col("n_b").cast("double"))), 6).as("z"))
        .withColumn("significant_95", abs(col("z")) > 1.96)
    }
    val conv = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", col("value"))).as("mv"))
      .groupBy(arm.as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("mv") > 180.0, 1L).otherwise(0L)).as("x"))
    val exceed = events(spark, dir)
      .select(arm.as("arm"),
        (col("value") + when(arm === 0, 30.0).otherwise(0.0)).as("v"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") > 200.0, 1L).otherwise(0L)).as("x"))
    zRow("high_value_buyer", conv).unionByName(zRow("exceed_planted", exceed))
      .orderBy("metric")
  }

  // ------------------------------------------------------------------
  // Distribution / data-quality aggregates (§2.D widening)
  // ------------------------------------------------------------------

  /** Fixed-width histogram of event values: bin = floor(value/50) clamped
    * to [0,9] on both ends. Row-local binning + a ≤10-key aggregate — the
    * shuffle carries one row per (partition, bin) after map-side combine. */
  def aggHistogramValue(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(greatest(least(floor(col("value") / 50).cast("int"), lit(9)), lit(0))
        .as("bin"), col("value"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"), dsum(col("value")).as("sum_v"))
      .orderBy("bin")

  /** Per-user z-score anomaly flagging: mean/std per user from decimal
    * sums over a user-partitioned window (identical algebra to
    * `agg_stats_moments`, so cross-engine deterministic), then count
    * events with |z| > 2. The window pass and the final groupBy share the
    * user_id partitioning — one shuffle. */
  def anomalyZscoreEvents(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val nd = count(lit(1)).over(w).cast("double")
    val mean = sum(col("value").cast("decimal(18,6)")).over(w).cast("double") / nd
    val s2 = sum((col("value") * col("value")).cast("decimal(18,6)")).over(w).cast("double")
    // n=1 would divide 0/0 → NaN (and Spark sorts NaN above every double
    // while DuckDB's NULL sorts differ); degenerate zero variance would
    // give ±Inf/NaN z. Null z for both degenerate shapes, both engines.
    val variance = when(nd > 1.0, (s2 - nd * mean * mean) / (nd - lit(1.0)))
    events(spark, dir)
      .withColumn("z", when(variance > 0.0, (col("value") - mean) / sqrt(variance)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(abs(col("z")) > 2, 1L).otherwise(0L)).as("n_anomalies"),
        round(max(col("z")), 6).as("max_z"))
      .orderBy("user_id")
  }

  /** Shannon entropy of each user's event-type distribution. Each
    * p·ln(p) term is rounded to decimal(18,6) before the sum so 1-ulp
    * `ln` differences between engines cannot reach the total. */
  def aggUserEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val p = col("n").cast("double") / sum(col("n")).over(w).cast("double")
    events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("term", (p * log(p)).cast("decimal(18,6)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("n_events"),
        (-sum(col("term"))).cast("double").as("entropy"))
      .orderBy("user_id")
  }

  /** Top-3 users by total value per tumbling 1-day event-time window —
    * the batch surrogate of a per-window streaming Top-N (Flink
    * windowed-rank pattern). Window agg then rank inside each day. */
  def streamTopkPerWindow(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("win"), col("user_id"))
      .agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      .select(unix_micros(col("win.start")).as("win_us"), col("user_id"),
        col("total"), col("n"))
    val rk = Window.partitionBy(col("win_us"))
      .orderBy(col("total").desc, col("user_id").asc)
    daily.withColumn("rn", row_number().over(rk)).where(col("rn") <= 3)
      .orderBy("win_us", "rn")
  }

  /** Salted hot-key join, surfaced as a query: orders ⋈ customer with the
    * fact side salted over 8 sub-partitions per key (ops.Skew.saltedJoin),
    * then per-status totals. Result is multiset-equal to the plain join —
    * the oracle IS the plain join — which proves the salt is semantics-
    * preserving; the value is the shuffle layout: one whale key spreads
    * over 8 partitions instead of stalling a single reducer at 100 TB. */
  def joinSaltedHotkey(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
        orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        customer(spark, dir).select("c_custkey", "c_mktsegment"),
        "o_custkey", "c_custkey", 8)
      .groupBy(col("o_orderstatus"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus", "c_mktsegment")

  /** Top-k WITH TIES (SQL-standard `FETCH FIRST n ROWS WITH TIES`):
    * `rank()` ≤ k keeps every row tied with the k-th — vs `row_number`'s
    * arbitrary tie cut. Ranked on the 2dp-rounded price so ties actually
    * occur; same TakeOrdered-friendly single-shuffle shape. */
  def topkWithTies(spark: SparkSession, dir: String): DataFrame = {
    val rk = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("price_k").desc)
    orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderkey"),
        round(col("o_totalprice") / 1000, 0).as("price_k"))
      .withColumn("rnk", rank().over(rk))
      .where(col("rnk") <= 3)
      .orderBy("o_orderstatus", "rnk", "o_orderkey")
  }

  /** Correlated scalar subquery via the SQL entry point (§3.4 /
    * Catalyst's RewriteCorrelatedScalarSubquery, §4.2): orders whose price
    * exceeds 1.5× their own customer's average. The identical SQL runs in
    * DuckDB; Catalyst decorrelates the subquery into an aggregate +
    * equi-join — asserted in PlanSpec. Avg goes through the decimal-sum
    * contract so the filter threshold is engine-deterministic. */
  // single definition keeps the "identical SQL in both engines" guarantee
  // structural: the Spark path and the oracle reference the same string
  private val CorrelatedScalarSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
       FROM orders o
       WHERE o_totalprice > 1.5 * (
         SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                / COUNT(*)
         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
       ORDER BY o_orderkey"""

  def sqlCorrelatedScalar(spark: SparkSession, dir: String): DataFrame = {
    graft.Catalog.register(spark, dir)
    spark.sql(CorrelatedScalarSql)
  }

  /** Moving median (robust smoothing): exact interpolated median of value
    * over a ±3-row window per user — an aggregate function used as a
    * window function. Same single user-shuffle shape as the moving
    * average. */
  def winMovingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc).rowsBetween(-3, 3)
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(expr("percentile(value, 0.5)").over(w), 6).as("med7"))
      .orderBy("user_id", "event_id")
  }

  // ------------------------------------------------------------------
  // Scalar families (§2.H widening)
  // ------------------------------------------------------------------

  /** String formatting family: pad/translate/reverse/repeat/case/concat —
    * all row-local codegen'd builtins over the 25-row nation dim. */
  def scalarStringFormat(spark: SparkSession, dir: String): DataFrame =
    nation(spark, dir)
      .select(col("n_name"),
        lpad(col("n_name"), 20, ".").as("padded"),
        rpad(col("n_name"), 20, "_").as("rpadded"),
        translate(col("n_name"), "AEIOU", "aeiou").as("devoweled"),
        reverse(col("n_name")).as("rev"),
        repeat(substring(col("n_name"), 1, 3), 2).as("prefix2"),
        concat_ws("-", lower(col("n_name")), upper(col("n_name"))).as("both_cases"),
        length(col("n_name")).as("len"))
      .orderBy("n_name")

  /** Three-valued-logic family: null-safe equality (`<=>` / IS NOT
    * DISTINCT FROM), its negation, null-skipping COUNT, and COALESCE
    * defaults — over NULLIF-derived null columns, aggregated per ship
    * year. Row-local, codegen'd, two-phase agg. */
  def scalarNullSemantics(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(year(col("l_shipdate")).as("yr"),
        expr("nullif(l_returnflag, 'N')").as("rf"),
        expr("nullif(l_linestatus, 'F')").as("ls"))
      .groupBy("yr")
      .agg(count(lit(1)).as("n"),
        count(col("rf")).as("n_rf_nonnull"),
        sum(when(col("rf") <=> col("ls"), 1L).otherwise(0L)).as("n_null_safe_eq"),
        sum(when(!(col("rf") <=> col("ls")), 1L).otherwise(0L)).as("n_distinct_from"),
        sum(when(coalesce(col("rf"), lit("A")) === "A", 1L).otherwise(0L))
          .as("n_coalesced_a"))
      .orderBy("yr")

  /** Regex field extraction from the JSON-ish props string (the
    * regexp-parse path next to scalar_json_props' JSON-path parse):
    * pull the int k, aggregate its distribution per event type. */
  def scalarRegexpExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        // try_cast, not cast: regexp_extract yields "" (not null) on a
        // miss, and ANSI mode (the Spark 4 default) makes cast('') throw —
        // mirror the oracle's TRY_CAST null-on-miss semantics
        expr("try_cast(regexp_extract(props, '\"k\":\\\\s*([0-9]+)', 1) AS int)").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_matched"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), davg(col("k")).as("avg_k"))
      .orderBy("event_type")

  // ------------------------------------------------------------------
  // Modern SQL surfaces (Spark 4: VARIANT, LATERAL, WITH RECURSIVE)
  // ------------------------------------------------------------------

  /** VARIANT semi-structured path (Spark 4's binary JSON type — the
    * modern lakehouse answer to string-JSON): parse props once into a
    * variant, extract typed fields, aggregate. Unlike get_json_object
    * (string re-parse per access), a variant column parses once and
    * serves many typed extractions. */
  def scalarVariantProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        // lenient twins (null on malformed/uncastable), mirroring the
        // oracle's TRY_CAST — the strict forms would crash the whole run
        // on one bad props row
        expr("try_variant_get(try_parse_json(props), '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  /** LATERAL correlated subquery (SQL:2016 LATERAL, Spark 4 SQL): per
    * customer, their top-2 orders by price — the join-form of
    * top-N-per-group. Catalyst decorrelates it to a ranked join
    * (WindowGroupLimit + row_number + broadcast join), NOT per-row
    * re-execution — pinned in PlanSpec. The `o_custkey < 50` bound is
    * stated INSIDE the lateral: constraint propagation infers it from
    * the outer `c_custkey < 50` but only places it ABOVE the window
    * (the full orders table would be sorted + window-limited first);
    * written inside, it reaches the orders scan as a pushed filter
    * (measured 1.5 s → 0.5 s warm at sf0.1). At 100 TB the bound is
    * whatever predicate keys the probe side — without one, the window
    * side is a full-corpus partial top-k, which is still
    * shuffle-proportional and safe, just not scan-pruned. */
  def sqlLateralTopn(spark: SparkSession, dir: String): DataFrame = {
    graft.Catalog.register(spark, dir)
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c.c_custkey AND o_custkey < 50
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         WHERE c.c_custkey < 50
         ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
  }

  /** WITH RECURSIVE date spine (Spark 4 recursive CTEs): the recursive
    * formulation of the daily gapfill — generate every day in the event
    * span, left-join daily counts, zero-fill. Same result shape as the
    * `sequence()` formulation in ts_gapfill_hourly; this one exercises
    * the recursive-CTE planner. */
  def sqlRecursiveSpine(spark: SparkSession, dir: String): DataFrame = {
    graft.Catalog.register(spark, dir)
    // the recursion carries the upper bound as a column — a correlated
    // `(SELECT MAX(ts) FROM events)` in the step predicate would re-scan
    // the events table once PER DAY of recursion (measured 6.5 s vs ~1 s)
    spark.sql(
      """WITH RECURSIVE spine(day, hi) AS (
           SELECT date_trunc('DAY', MIN(ts)), date_trunc('DAY', MAX(ts)) FROM events
           UNION ALL
           SELECT day + INTERVAL 1 DAY, hi FROM spine WHERE day < hi
         ),
         daily AS (
           SELECT date_trunc('DAY', ts) AS day, COUNT(*) AS n
           FROM events GROUP BY 1)
         SELECT date_format(spine.day, 'yyyy-MM-dd') AS day,
           COALESCE(n, 0) AS n
         FROM spine LEFT JOIN daily ON spine.day = daily.day
         ORDER BY day""")
  }

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  /** `c`: each user's events where the event type changes (the SCD2
    * version starts), over `t(user_id, event_id, ts_us, event_type)`. */
  private val typeChangesSql =
    s"""t AS (
            SELECT user_id, event_id, epoch_us($evTs) AS ts_us, event_type,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY $evTs, event_id) AS prev_type
            FROM events),
          c AS (SELECT * FROM t
            WHERE prev_type IS NULL OR prev_type <> event_type)"""

  /** `b`: each event flagged `is_new` when it opens a 2-hour-gap session,
    * over `t(user_id, event_id, value, ts_us, prev_us)`. */
  private val sessionStartsSql =
    s"""t AS (
            SELECT user_id, event_id, value, epoch_us($evTs) AS ts_us,
              lag(epoch_us($evTs)) OVER (PARTITION BY user_id
                ORDER BY $evTs, event_id) AS prev_us
            FROM events),
          b AS (
            SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 7200000000
              THEN 1 ELSE 0 END AS is_new FROM t)"""

  val entries: Map[String, Op] = Map(
    "tpch_q3_shipping_priority" -> Op(tpchQ3,
      s"""SELECT l_orderkey, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
          strftime(o_orderdate, '%Y-%m-%d') AS o_date
          FROM customer JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-01-01'
            AND l_shipdate > TIMESTAMP '1998-01-01'
          GROUP BY l_orderkey, o_orderdate
          ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    "tpch_q5_local_supplier" -> Op(tpchQ5,
      s"""SELECT n_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
          COUNT(*) AS n_items
          FROM region JOIN nation ON n_regionkey = r_regionkey
          JOIN customer ON c_nationkey = n_nationkey
          JOIN orders ON o_custkey = c_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
          GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    "tpch_q10_returned_items" -> Op(tpchQ10,
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
          ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM customer JOIN orders ON o_custkey = c_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1996-07-01'
          GROUP BY c_custkey, c_name, c_acctbal, n_name
          ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    "tpch_q14_promo_effect" -> Op(tpchQ14,
      s"""SELECT
          ${dsumSql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo_revenue,
          ${dsumSql("l_extendedprice * (1 - l_discount)")} AS total_revenue,
          round(100.0 * ${dsumSql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
            / ${dsumSql("l_extendedprice * (1 - l_discount)")}, 6) AS promo_pct
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-03-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'"""),
    "tpch_q18_large_volume" -> Op(tpchQ18,
      s"""WITH big AS (
            SELECT l_orderkey, ${dsumSql("l_quantity")} AS total_qty
            FROM lineitem GROUP BY 1 HAVING total_qty > 150)
          SELECT c_custkey, c_name, o_orderkey,
            strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice, total_qty
          FROM big JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          ORDER BY total_qty DESC, o_orderkey LIMIT 20"""),
    "cdc_latest_per_key" -> Op(cdcLatestPerKey,
      s"""SELECT user_id, event_type, last_event_id, last_ts_us, last_value FROM (
            SELECT user_id, event_type, event_id AS last_event_id,
              epoch_us($evTs) AS last_ts_us, value AS last_value,
              row_number() OVER (PARTITION BY user_id, event_type
                ORDER BY $evTs DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1 ORDER BY user_id, event_type"""),
    "cdc_scd2_intervals" -> Op(cdcScd2Intervals,
      s"""WITH $typeChangesSql
          SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
            event_type, ts_us AS valid_from_us,
            lead(ts_us) OVER w AS valid_to_us,
            lead(ts_us) OVER w IS NULL AS is_current
          FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
          ORDER BY user_id, version"""),
    "cdc_temporal_join" -> Op(cdcTemporalJoin,
      s"""WITH $typeChangesSql,
          dim AS (SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
            event_type, ts_us AS valid_from_us,
            lead(ts_us) OVER w AS valid_to_us
          FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          p AS (SELECT event_id AS purchase_id, user_id,
              epoch_us($evTs) AS p_ts_us
            FROM events WHERE event_type = 'purchase')
          SELECT p.purchase_id, p.user_id, dim.version,
            dim.event_type AS type_at_purchase, dim.valid_from_us
          FROM p JOIN dim ON p.user_id = dim.user_id
            AND p.p_ts_us >= dim.valid_from_us
            AND (dim.valid_to_us IS NULL OR p.p_ts_us < dim.valid_to_us)
          ORDER BY purchase_id"""),
    "sessionize_events" -> Op(sessionizeEvents,
      s"""WITH $sessionStartsSql,
          s AS (
            SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) AS BIGINT) AS session_idx FROM b)
          SELECT user_id, session_idx, COUNT(*) AS n_events,
            MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
            ${dsumSql("value")} AS sum_value,
            MAX(ts_us) - MIN(ts_us) AS dur_us
          FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""),
    "sessionize_native_window" -> Op(sessionizeNativeWindow,
      s"""WITH $sessionStartsSql,
          s AS (
            SELECT *, SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) AS session_idx FROM b)
          SELECT user_id, MIN(ts_us) AS start_us,
            MAX(ts_us) + 7200000000 AS end_us,
            COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
          FROM s GROUP BY user_id, session_idx ORDER BY user_id, start_us"""),
    "sessionize_dynamic_gap" -> Op(sessionizeDynamicGap,
      s"""WITH t AS (
            SELECT user_id, event_id, value, epoch_us($evTs) AS ts_us,
              CASE WHEN event_type = 'purchase' THEN 14400000000
                   WHEN event_type IN ('click', 'view') THEN 3600000000
                   ELSE 1800000000 END AS gap_us
            FROM events),
          e AS (
            SELECT *, ts_us + gap_us AS end_us_e,
              MAX(ts_us + gap_us) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS prev_end_max
            FROM t),
          b AS (
            SELECT *, CASE WHEN prev_end_max IS NULL OR ts_us >= prev_end_max
              THEN 1 ELSE 0 END AS is_new FROM e),
          s AS (
            SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) AS BIGINT) AS session_idx FROM b)
          SELECT user_id, session_idx, COUNT(*) AS n_events,
            MIN(ts_us) AS start_us, MAX(end_us_e) AS end_us,
            ${dsumSql("value")} AS sum_value
          FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""),
    "ts_time_weighted_avg" -> Op(tsTimeWeightedAvg,
      s"""WITH t AS (
            SELECT user_id, value, epoch_us($evTs) AS ts_us,
              lead(epoch_us($evTs)) OVER (PARTITION BY user_id
                ORDER BY $evTs, event_id) AS next_us
            FROM events),
          d AS (
            SELECT user_id, value,
              CAST(next_us - ts_us AS DOUBLE) / 1000000.0 AS dt_s
            FROM t WHERE next_us IS NOT NULL)
          SELECT user_id, COUNT(*) AS n_intervals,
            round(${dsumSql("value * dt_s")} / ${dsumSql("dt_s")}, 6) AS twa
          FROM d GROUP BY user_id ORDER BY user_id"""),
    "ts_pct_change_daily" -> Op(tsPctChangeDaily,
      s"""WITH daily AS (
            SELECT date_trunc('day', $evTs) AS day, ${dsumSql("value")} AS total
            FROM events GROUP BY 1)
          SELECT strftime(day, '%Y-%m-%d') AS day, total,
            round((total - lag(total) OVER (ORDER BY day))
              / lag(total) OVER (ORDER BY day), 6) AS pct_change
          FROM daily ORDER BY day"""),
    "agg_histogram_value" -> Op(aggHistogramValue,
      s"""SELECT GREATEST(LEAST(CAST(FLOOR(value / 50) AS INT), 9), 0) AS bin,
          COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v,
          ${dsumSql("value")} AS sum_v
          FROM events GROUP BY 1 ORDER BY 1"""),
    "anomaly_zscore_events" -> Op(anomalyZscoreEvents,
      s"""WITH t AS (
            SELECT user_id, value,
              CAST(COUNT(*) OVER w AS DOUBLE) AS nd,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
              CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2
            FROM events WINDOW w AS (PARTITION BY user_id)),
          z AS (
            SELECT user_id,
              CASE WHEN nd > 1.0
                    AND (s2 - nd * (s1 / nd) * (s1 / nd)) / (nd - 1.0) > 0.0
                THEN (value - s1 / nd)
                  / sqrt((s2 - nd * (s1 / nd) * (s1 / nd)) / (nd - 1.0)) END AS z
            FROM t)
          SELECT user_id, COUNT(*) AS n_events,
            CAST(SUM(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
            round(MAX(z), 6) AS max_z
          FROM z GROUP BY user_id ORDER BY user_id"""),
    "agg_user_entropy" -> Op(aggUserEntropy,
      """WITH c AS (
           SELECT user_id, event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT user_id, n,
             CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY user_id) AS DOUBLE) AS p
           FROM c)
         SELECT user_id, COUNT(*) AS n_types, CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(-SUM(CAST(p * ln(p) AS DECIMAL(18,6))) AS DOUBLE) AS entropy
         FROM p GROUP BY user_id ORDER BY user_id"""),
    "stream_topk_per_window" -> Op(streamTopkPerWindow,
      s"""SELECT win_us, user_id, total, n, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY win_us
              ORDER BY total DESC, user_id) AS rn FROM (
              SELECT epoch_us(date_trunc('day', $evTs)) AS win_us, user_id,
                ${dsumSql("value")} AS total, COUNT(*) AS n
              FROM events GROUP BY 1, 2))
          WHERE rn <= 3 ORDER BY win_us, rn"""),
    "sql_correlated_scalar" -> Op(sqlCorrelatedScalar, CorrelatedScalarSql),
    "scalar_variant_props" -> Op(scalarVariantProps,
      """SELECT event_type, COUNT(k) AS n, MIN(k) AS min_k, MAX(k) AS max_k,
         CAST(SUM(k) AS BIGINT) AS sum_k FROM (
           SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
           FROM events)
         GROUP BY event_type ORDER BY event_type"""),
    "sql_lateral_topn" -> Op(sqlLateralTopn,
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         WHERE c.c_custkey < 50
         ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"""),
    "sql_recursive_spine" -> Op(sqlRecursiveSpine,
      s"""WITH RECURSIVE spine(day, hi) AS (
            SELECT date_trunc('day', MIN($evTs)), date_trunc('day', MAX($evTs)) FROM events
            UNION ALL
            SELECT day + INTERVAL 1 DAY, hi FROM spine WHERE day < hi
          ),
          daily AS (
            SELECT date_trunc('day', $evTs) AS day, COUNT(*) AS n
            FROM events GROUP BY 1)
          SELECT strftime(spine.day, '%Y-%m-%d') AS day, COALESCE(n, 0) AS n
          FROM spine LEFT JOIN daily ON spine.day = daily.day
          ORDER BY day"""),
    "dau_daily" -> Op(dauDaily,
      s"""SELECT strftime(date_trunc('day', $evTs), '%Y-%m-%d') AS day,
          COUNT(DISTINCT user_id) AS dau, COUNT(*) AS n_events
          FROM events GROUP BY 1 ORDER BY 1"""),
    "cohort_day1_retention" -> Op(cohortRetention,
      s"""WITH daily AS (
            SELECT DISTINCT date_trunc('day', $evTs) AS day, user_id FROM events),
          ret AS (
            SELECT a.day, COUNT(*) AS retained
            FROM daily a JOIN daily b
              ON b.day = a.day + INTERVAL 1 DAY AND b.user_id = a.user_id
            GROUP BY 1),
          act AS (SELECT day, COUNT(*) AS active FROM daily GROUP BY 1)
          SELECT strftime(act.day, '%Y-%m-%d') AS day, active,
            COALESCE(retained, 0) AS retained,
            round(CAST(COALESCE(retained, 0) AS DOUBLE) / CAST(active AS DOUBLE), 6) AS rate
          FROM act LEFT JOIN ret ON act.day = ret.day ORDER BY 1"""),
    "funnel_stages" -> Op(funnelStages,
      s"""WITH pu AS (
            SELECT user_id,
              MIN(CASE WHEN event_type = 'view' THEN $evTs END) AS t_view,
              MIN(CASE WHEN event_type = 'click' THEN $evTs END) AS t_click,
              MIN(CASE WHEN event_type = 'purchase' THEN $evTs END) AS t_purchase
            FROM events GROUP BY 1)
          SELECT
            CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
            CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
              THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
            CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
              AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after_click
          FROM pu"""),
    "funnel_time_to_convert" -> Op(funnelTimeToConvert,
      s"""WITH pu AS (
            SELECT user_id,
              MIN(CASE WHEN event_type = 'view' THEN $evTs END) AS t_view,
              MIN(CASE WHEN event_type = 'click' THEN $evTs END) AS t_click,
              MIN(CASE WHEN event_type = 'purchase' THEN $evTs END) AS t_purchase
            FROM events GROUP BY 1),
          d AS (SELECT
              t_view IS NOT NULL AND t_click > t_view AS vc,
              t_view IS NOT NULL AND t_click > t_view
                AND t_purchase > t_click AS cp,
              epoch_us(t_click) - epoch_us(t_view) AS dvc,
              epoch_us(t_purchase) - epoch_us(t_click) AS dcp,
              epoch_us(t_purchase) - epoch_us(t_view) AS dvp
            FROM pu),
          a AS (SELECT
              CAST(SUM(CASE WHEN vc THEN 1 ELSE 0 END) AS BIGINT) AS n_vc,
              CAST(SUM(CASE WHEN cp THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
              round(quantile_cont(CAST(CASE WHEN vc THEN dvc END AS DOUBLE), 0.5) / 1000000.0, 6) AS vc50,
              round(quantile_cont(CAST(CASE WHEN vc THEN dvc END AS DOUBLE), 0.9) / 1000000.0, 6) AS vc90,
              round(quantile_cont(CAST(CASE WHEN cp THEN dcp END AS DOUBLE), 0.5) / 1000000.0, 6) AS cp50,
              round(quantile_cont(CAST(CASE WHEN cp THEN dcp END AS DOUBLE), 0.9) / 1000000.0, 6) AS cp90,
              round(quantile_cont(CAST(CASE WHEN cp THEN dvp END AS DOUBLE), 0.5) / 1000000.0, 6) AS vp50,
              round(quantile_cont(CAST(CASE WHEN cp THEN dvp END AS DOUBLE), 0.9) / 1000000.0, 6) AS vp90
            FROM d)
          SELECT '1_view_to_click' AS transition, n_vc AS n_users,
            vc50 AS p50_s, vc90 AS p90_s FROM a
          UNION ALL SELECT '2_click_to_purchase', n_cp, cp50, cp90 FROM a
          UNION ALL SELECT '3_view_to_purchase', n_cp, vp50, vp90 FROM a
          ORDER BY transition"""),
    "concentration_revenue" -> Op(revenueConcentration,
      s"""WITH per AS (SELECT o_custkey,
             round(${dsumSql("o_totalprice")}, 6) AS rev
           FROM orders GROUP BY 1),
         b AS (SELECT round(quantile_cont(rev, 0.9), 6) AS p90 FROM per),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CASE WHEN rev > b.p90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_top,
             ${dsumSql("rev")} AS total_rev,
             CAST(SUM(CASE WHEN rev > b.p90
               THEN CAST(rev AS DECIMAL(18,6)) END) AS DOUBLE) AS top_rev,
             MAX(rev) AS max_rev,
             ANY_VALUE(b.p90) AS p90
           FROM per, b)
         SELECT n_customers, n_top, total_rev, top_rev, max_rev, p90,
           round(top_rev / total_rev, 6) AS top_share,
           round(max_rev / total_rev, 6) AS max_share
         FROM a"""),
    "trending_decayed_parts" -> Op(trendingDecayed,
      """WITH m AS (SELECT MAX(o_orderdate) AS max_d FROM orders),
         t AS (SELECT l.l_partkey,
             LEAST(CAST(FLOOR(date_diff('day', o.o_orderdate, m.max_d) / 7)
               AS INT), 40) AS weeks
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           CROSS JOIN m)
         SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           SUM(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << weeks)) AS decayed
         FROM t GROUP BY 1 ORDER BY decayed DESC, l_partkey LIMIT 20"""),
    "session_top_paths" -> Op(sessionPaths,
      s"""WITH seq AS (SELECT user_id, event_id, event_type,
             epoch_us($evTs) AS us,
             LAG(epoch_us($evTs)) OVER w AS prev_us
           FROM events WINDOW w AS (PARTITION BY user_id
             ORDER BY $evTs, event_id)),
         marked AS (SELECT *,
             CASE WHEN prev_us IS NULL OR us - prev_us > 7200000000
               THEN 1 ELSE 0 END AS is_new
           FROM seq),
         sess AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
             ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM marked),
         arrs AS (SELECT user_id, session_idx,
             list(event_type ORDER BY us, event_id) AS types
           FROM sess GROUP BY 1, 2),
         grams AS (SELECT types[i] || '>' || types[i+1] || '>' || types[i+2]
             AS path
           FROM (SELECT types, unnest(range(1, len(types) - 1)) AS i
             FROM arrs WHERE len(types) >= 3))
         SELECT path, CAST(COUNT(*) AS BIGINT) AS n
         FROM grams GROUP BY 1 ORDER BY n DESC, path LIMIT 10"""),
    "agg_winsorized_stats" -> Op(winsorizedStats,
      s"""WITH b AS (SELECT
             round(quantile_cont(CAST(value AS DOUBLE), 0.01), 6) AS lo,
             round(quantile_cont(CAST(value AS DOUBLE), 0.99), 6) AS hi
           FROM events),
         w AS (SELECT event_type, value,
             LEAST(GREATEST(value, b.lo), b.hi) AS wv,
             b.lo AS lo, b.hi AS hi
           FROM events, b)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_lo,
           CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_hi,
           round(${dsumSql("value")} / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_raw,
           round(${dsumSql("wv")} / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_winsor
         FROM w GROUP BY 1 ORDER BY 1"""),
    "rfm_segments" -> Op(rfmSegments,
      s"""WITH per AS (SELECT o_custkey,
             CAST(MAX(epoch_us(o_orderdate)) AS DOUBLE) AS rec,
             CAST(COUNT(*) AS DOUBLE) AS freq,
             round(${dsumSql("o_totalprice")}, 6) AS mon
           FROM orders GROUP BY 1),
         b AS (SELECT
             round(quantile_cont(rec, 0.25), 6) AS rec_q25,
             round(quantile_cont(rec, 0.5), 6) AS rec_q50,
             round(quantile_cont(rec, 0.75), 6) AS rec_q75,
             round(quantile_cont(freq, 0.25), 6) AS freq_q25,
             round(quantile_cont(freq, 0.5), 6) AS freq_q50,
             round(quantile_cont(freq, 0.75), 6) AS freq_q75,
             round(quantile_cont(mon, 0.25), 6) AS mon_q25,
             round(quantile_cont(mon, 0.5), 6) AS mon_q50,
             round(quantile_cont(mon, 0.75), 6) AS mon_q75
           FROM per),
         scored AS (SELECT mon,
             1 + CAST(rec > rec_q25 AS INT) + CAST(rec > rec_q50 AS INT)
               + CAST(rec > rec_q75 AS INT) AS r,
             1 + CAST(freq > freq_q25 AS INT) + CAST(freq > freq_q50 AS INT)
               + CAST(freq > freq_q75 AS INT) AS f,
             1 + CAST(mon > mon_q25 AS INT) + CAST(mon > mon_q50 AS INT)
               + CAST(mon > mon_q75 AS INT) AS m
           FROM per, b)
         SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
             AS segment,
           CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(mon AS DECIMAL(18,6))) AS DOUBLE) AS sum_spend
         FROM scored GROUP BY r, f, m ORDER BY segment"""),
    "cohort_retention_matrix" -> Op(cohortMatrix,
      s"""WITH act AS (SELECT DISTINCT user_id,
             date_trunc('day', $evTs) AS day
           FROM events),
         fd AS (SELECT user_id, MIN(day) AS cohort_day
           FROM act GROUP BY 1),
         sizes AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort
           FROM fd GROUP BY 1),
         m AS (SELECT f.cohort_day,
             date_diff('day', f.cohort_day, a.day) AS day_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
           FROM act a JOIN fd f USING (user_id)
           WHERE date_diff('day', f.cohort_day, a.day) BETWEEN 0 AND 6
           GROUP BY 1, 2)
         SELECT strftime(m.cohort_day, '%Y-%m-%d') AS cohort,
           CAST(m.day_offset AS INT) AS day_offset, s.n_cohort, m.n_active,
           round(CAST(m.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 6)
             AS rate
         FROM m JOIN sizes s USING (cohort_day)
         ORDER BY cohort, day_offset"""),
    "ab_test_ztest" -> Op(abTestZtest, {
      val arm = s"(${graft.Tables.h48Sql("CAST(user_id AS VARCHAR)")}) % 2"
      def z(nA: String, xA: String, nB: String, xB: String) =
        s"""round((CAST($xA AS DOUBLE) / CAST($nA AS DOUBLE)
            - CAST($xB AS DOUBLE) / CAST($nB AS DOUBLE))
          / sqrt((CAST($xA + $xB AS DOUBLE) / CAST($nA + $nB AS DOUBLE))
            * (1.0 - CAST($xA + $xB AS DOUBLE) / CAST($nA + $nB AS DOUBLE))
            * (1.0 / CAST($nA AS DOUBLE) + 1.0 / CAST($nB AS DOUBLE))), 6)"""
      s"""WITH u AS (SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN value END) AS mv
           FROM events GROUP BY 1),
         ca AS (SELECT ($arm) AS arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN mv > 180.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
           FROM u GROUP BY 1),
         cw AS (SELECT
             CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x_a,
             CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x_b
           FROM ca),
         ea AS (SELECT ($arm) AS arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value
               + (CASE WHEN ($arm) = 0 THEN 30.0 ELSE 0.0 END) > 200.0
               THEN 1 ELSE 0 END) AS BIGINT) AS x
           FROM events GROUP BY 1),
         ew AS (SELECT
             CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x_a,
             CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x_b
           FROM ea),
         rows_ AS (
           SELECT 'high_value_buyer' AS metric, n_a, x_a, n_b, x_b,
             round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
             round(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
             ${z("n_a", "x_a", "n_b", "x_b")} AS z
           FROM cw
           UNION ALL
           SELECT 'exceed_planted', n_a, x_a, n_b, x_b,
             round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6),
             round(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6),
             ${z("n_a", "x_a", "n_b", "x_b")}
           FROM ew)
         SELECT metric, n_a, x_a, n_b, x_b, p_a, p_b, z,
           abs(z) > 1.96 AS significant_95
         FROM rows_ ORDER BY metric"""
    }),
    "cohort_revenue_ltv" -> Op(cohortLtv,
      s"""WITH om AS (SELECT o_custkey,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             o_totalprice
           FROM orders),
         fm AS (SELECT o_custkey, MIN(month) AS m0 FROM om GROUP BY 1),
         sz AS (SELECT m0, CAST(COUNT(*) AS BIGINT) AS n_cohort
           FROM fm GROUP BY 1),
         cells AS (SELECT fm.m0,
             (CAST(year(om.month) AS BIGINT) * 12
               + CAST(month(om.month) AS BIGINT))
               - (CAST(year(fm.m0) AS BIGINT) * 12
                 + CAST(month(fm.m0) AS BIGINT)) AS age_months,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             round(${dsumSql("o_totalprice")} / 1e3, 6) AS rev_k
           FROM om JOIN fm ON om.o_custkey = fm.o_custkey
           GROUP BY 1, 2),
         cum AS (SELECT *,
             SUM(CAST(rev_k AS DECIMAL(18,6)))
               OVER (PARTITION BY m0 ORDER BY age_months
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_dec
           FROM cells)
         SELECT strftime(m0, '%Y-%m') AS cohort_month,
           age_months, n_cohort, n_orders, rev_k,
           CAST(cum_dec AS DOUBLE) AS cum_rev_k,
           CAST((2 * CAST(cum_dec * 1000000 AS BIGINT) + n_cohort)
             // (2 * n_cohort) AS DOUBLE) / 1e6 AS ltv_per_user_k
         FROM cum JOIN sz USING (m0)
         ORDER BY cohort_month, age_months"""),
    "rec_item_item_cf" -> Op(itemItemCf, {
      val h = graft.Tables.h48Sql(
        "CAST(c AS VARCHAR) || ':' || CAST(p AS VARCHAR)")
      s"""WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         bs AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS bs FROM cp GROUP BY 1),
         fan AS (SELECT c, p,
             CASE WHEN bs > $CfBasketCap THEN 1 ELSE 0 END AS capped
           FROM (SELECT cp.c, cp.p, bs,
               ROW_NUMBER() OVER (PARTITION BY cp.c
                 ORDER BY ($h), cp.p) AS rn
             FROM cp JOIN bs USING (c))
           WHERE bs <= $CfBasketCap OR rn <= $CfBasketCap),
         co AS (SELECT a.p AS item_a, b.p AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_co,
             CAST(SUM(a.capped) AS BIGINT) AS n_capped_custs
           FROM fan a JOIN fan b ON a.c = b.c AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         ni AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p FROM cp GROUP BY 1)
         SELECT item_a, item_b, n_co, na.n_p AS n_a, nb.n_p AS n_b,
           round(CAST(n_co AS DOUBLE)
             / sqrt(CAST(na.n_p AS DOUBLE) * CAST(nb.n_p AS DOUBLE)), 6)
             AS cosine, n_capped_custs
         FROM co JOIN ni na ON co.item_a = na.p JOIN ni nb ON co.item_b = nb.p
         ORDER BY cosine DESC, item_a, item_b LIMIT 20"""
    }),
    "basket_lift_pairs" -> Op(basketLift,
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
          pairs AS (SELECT x.p AS pa, y.p AS pb,
              CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          parts AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p
            FROM li GROUP BY 1),
          n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM li)
          SELECT pr.pa, pr.pb, pr.n_ab, a.n_p AS na, b.n_p AS nb,
            round((CAST(pr.n_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
              / (CAST(a.n_p AS DOUBLE) * CAST(b.n_p AS DOUBLE)), 6) AS lift
          FROM pairs pr
          JOIN parts a ON pr.pa = a.p
          JOIN parts b ON pr.pb = b.p
          CROSS JOIN n
          ORDER BY lift DESC, pa, pb LIMIT 20"""),
    "markov_event_transitions" -> Op(markovTransitions,
      s"""WITH seq AS (SELECT user_id, event_type,
            LAG(event_type) OVER (PARTITION BY user_id
              ORDER BY $evTs, event_id) AS from_type
          FROM events),
        trans AS (SELECT from_type, event_type AS to_type,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
        totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n
          FROM trans GROUP BY 1)
        SELECT t.from_type, t.to_type, t.n,
          round(CAST(t.n AS DOUBLE) / CAST(tt.row_n AS DOUBLE), 6) AS p
        FROM trans t JOIN totals tt USING (from_type)
        ORDER BY from_type, to_type"""),
    "win_moving_median" -> Op(winMovingMedian,
      s"""SELECT user_id, event_id,
          round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
            ORDER BY $evTs, event_id
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS med7
          FROM events ORDER BY user_id, event_id"""),
    "topk_with_ties" -> Op(topkWithTies,
      """SELECT o_orderstatus, o_orderkey, price_k, CAST(rnk AS INT) AS rnk FROM (
           SELECT o_orderstatus, o_orderkey,
             round(o_totalprice / 1000, 0) AS price_k,
             rank() OVER (PARTITION BY o_orderstatus
               ORDER BY round(o_totalprice / 1000, 0) DESC) AS rnk
           FROM orders)
         WHERE rnk <= 3 ORDER BY o_orderstatus, rnk, o_orderkey"""),
    "join_salted_hotkey" -> Op(joinSaltedHotkey,
      s"""SELECT o_orderstatus, c_mktsegment, COUNT(*) AS n,
          ${dsumSql("o_totalprice")} AS sum_price
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY o_orderstatus, c_mktsegment
          ORDER BY o_orderstatus, c_mktsegment"""),
    "scalar_string_format" -> Op(scalarStringFormat,
      """SELECT n_name,
         lpad(n_name, 20, '.') AS padded,
         rpad(n_name, 20, '_') AS rpadded,
         translate(n_name, 'AEIOU', 'aeiou') AS devoweled,
         reverse(n_name) AS rev,
         repeat(substring(n_name, 1, 3), 2) AS prefix2,
         concat_ws('-', lower(n_name), upper(n_name)) AS both_cases,
         CAST(length(n_name) AS INT) AS len
         FROM nation ORDER BY n_name"""),
    "scalar_null_semantics" -> Op(scalarNullSemantics,
      """WITH t AS (
           SELECT CAST(year(l_shipdate) AS INT) AS yr,
             NULLIF(l_returnflag, 'N') AS rf, NULLIF(l_linestatus, 'F') AS ls
           FROM lineitem)
         SELECT yr, COUNT(*) AS n, COUNT(rf) AS n_rf_nonnull,
           CAST(SUM(CASE WHEN rf IS NOT DISTINCT FROM ls THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq,
           CAST(SUM(CASE WHEN rf IS DISTINCT FROM ls THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_from,
           CAST(SUM(CASE WHEN COALESCE(rf, 'A') = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_coalesced_a
         FROM t GROUP BY yr ORDER BY yr"""),
    "scalar_regexp_extract" -> Op(scalarRegexpExtract,
      s"""WITH t AS (
            SELECT event_type,
              TRY_CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INT) AS k
            FROM events)
          SELECT event_type, COUNT(k) AS n_matched, MIN(k) AS min_k,
            MAX(k) AS max_k,
            ${dsumSql("k")} / CAST(COUNT(k) AS DOUBLE) AS avg_k
          FROM t GROUP BY event_type ORDER BY event_type"""),
  )
}
