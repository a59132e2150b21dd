package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.C): equi inner/outer/semi/anti, theta,
  * windowed stream-stream self-join, interval join.
  *
  * Scale notes (100 TB):
  *  - Dimension sides (nation/region/customer-at-dim-scale, supplier) are
  *    explicitly `broadcast()` — a 100 TB fact table never shuffles for a
  *    dim join (map-side broadcast-hash join).
  *  - Fact⋈fact (orders⋈lineitem) is a shuffle-on-key sort-merge join; AQE
  *    converts to broadcast/skew-split at runtime when applicable. At 100 TB
  *    both sides would be bucketed on the join key to skip the shuffle.
  *  - The theta join is a broadcast nested-loop on the *small* dims only —
  *    the shape is O(|part|·|supplier|) and is never applied to facts.
  *  - The windowed self-join and interval join key the shuffle on
  *    (user_id) with the time predicate evaluated inside the join —
  *    at 100 TB the streaming twin bounds state with watermarks instead of
  *    re-shuffling history.
  */
object Joins {

  /** C1+C7 — fact ⋈ broadcast dims, aggregated by nation. */
  def joinOrdersCustomer(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "inner")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("n_name")
  }

  /** C2 — left outer join: orders with no lineitem. The probe side is
    * pre-aggregated to its distinct join keys first (map-side combinable),
    * so the outer join matches 1:≤1 instead of materializing every
    * order×lineitem pair it is about to discard — at 100 TB this turns a
    * fact⋈fact row blowup into a key-set join of the same left-outer
    * shape. */
  def joinLeftOrdersWoLineitem(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val lKeys = lineitem(spark, dir).select(col("l_orderkey")).distinct()
    o.join(lKeys, o("o_orderkey") === lKeys("l_orderkey"), "left")
      .where(lKeys("l_orderkey").isNull)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** C2b — right outer join: per order its lineitem count, orderless
    * orders kept by the outer side with a zero count (the mirrored form
    * of [[joinLeftOrdersWoLineitem]]'s left outer; COUNT(l_orderkey)
    * counts only matched rows, so the null-side contributes 0). */
  def joinRightOrdersItemCounts(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val l = lineitem(spark, dir).select(col("l_orderkey"))
    l.join(o, l("l_orderkey") === o("o_orderkey"), "right")
      .groupBy(col("o_orderkey"))
      .agg(count(col("l_orderkey")).as("n_items"))
      .orderBy("o_orderkey")
  }

  /** C3 — anti join: customers with no URGENT-priority order. (Unfiltered
    * "no order at all" is empty at every sf — the filter keeps the anti join
    * result non-degenerate while exercising the same plan shape.) */
  def joinAntiCustomersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
    val o = orders(spark, dir).where(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** C4 — theta (non-equi) join over the two small dims: suppliers whose
    * balance is 3×-5× a part's retail price → BroadcastNestedLoopJoin
    * (band chosen to be non-degenerate at every fixture sf). */
  def joinThetaPriceBand(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir)
    val s = supplier(spark, dir)
    p.join(broadcast(s),
        s("s_acctbal") >= p("p_retailprice") * 3 && s("s_acctbal") <= p("p_retailprice") * 5)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("min_partkey"))
      .orderBy("s_suppkey")
  }

  /** C5 — windowed self-join: pairs of events of the same user inside the
    * same 1h tumbling bucket (batch form of a windowed stream-stream join). */
  def joinWindowEventsSelfpairs(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
    val e1 = ev.as("e1")
    val e2 = ev.as("e2")
    e1.join(e2,
        col("e1.user_id") === col("e2.user_id") &&
        col("e1.bucket_us") === col("e2.bucket_us") &&
        col("e1.event_id") < col("e2.event_id"))
      .groupBy(col("e1.user_id").as("user_id"), col("e1.bucket_us").as("bucket_us"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id", "bucket_us")
  }

  /** C6 — interval join: purchases within 15 minutes after a click by the
    * same user (Flink `intervalJoin.between(0, 15min)` shape). */
  def joinIntervalPurchaseAfterClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
              unix_micros(col("ts")).as("click_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
              unix_micros(col("ts")).as("purchase_us"))
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_us") >= col("click_us") &&
        col("purchase_us") <= col("click_us") + expr("15 * 60 * 1000000"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              (col("purchase_us") - col("click_us")).as("delay_us"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** C6b — AS-OF join: for every purchase, the same user's latest click
    * at-or-before it. Formulated the scale-correct way: instead of a
    * join + per-purchase argmax (two shuffles + a pair blowup), interleave
    * both event kinds in ONE per-user time-ordered window and carry the
    * last seen click forward with `last_value(..., ignoreNulls)` — a single
    * shuffle on user_id regardless of data size. */
  def joinAsofClickBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("click_id"), (unix_micros(col("ts")) - col("click_us")).as("age_us"))
      .orderBy("purchase_id")
  }

  /** L325 — FORWARD as-of join: for every click, the same user's FIRST
    * purchase at-or-after it (the time-to-convert direction; the
    * mirror of C6b's backward lookup, and the one attribution windows
    * and SLA clocks need — "how long until the click converted"
    * reads forward, not back). Same single-shuffle window formulation
    * as the backward twin with the frame reversed: one user-keyed
    * shuffle of the unioned stream, a FOLLOWING-frame first_value per
    * row. Clicks that never convert emit NULL purchase columns rather
    * than dropping (the outer-as-of contract). */
  def joinAsofNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .withColumn("purchase_id",
        first(when(col("event_type") === "purchase", col("event_id")),
          ignoreNulls = true).over(w))
      .withColumn("purchase_us",
        first(when(col("event_type") === "purchase", unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("purchase_id"),
        (col("purchase_us") - unix_micros(col("ts"))).as("wait_us"))
      .orderBy("click_id")
  }

  /** C6b through the CUSTOM PHYSICAL OPERATOR (SURVEY §4.3 tier (c),
    * [[graft.plans.GraftAsOfJoinExec]]): identical as-of semantics to
    * [[joinAsofClickBeforePurchase]] — for every purchase, the same
    * user's latest click at-or-before it on the (ts, event_id) order —
    * but planned as a real sort-merge-as-of node: EnsureRequirements
    * gives each side its own hash exchange + sort on user_id, and the
    * exec merges with O(1) state (one buffered right row, one remembered
    * match). Versus the composed form's single union-both-sides window
    * shuffle, this shape never carries probe rows through window state
    * and keeps each side's exchange independently AQE-coalescible — the
    * classic two-table as-of layout for fact⋈fact at scale. Shares the
    * window twin's DuckDB oracle, so the operator itself (not a
    * surrogate) is hash-verified by the driver on a plain session. */
  def joinAsofPhysical(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us"))
    // fresh aliases on every right column: AsOf.join refuses shared
    // attribute lineage (both sides scan the same events table)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("click_us"))
    graft.plans.AsOf.join(purchases, clicks,
        "user_id", "c_user", "ts_us", "click_us", "purchase_id", "click_id")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (col("ts_us") - col("click_us")).as("age_us"))
      .orderBy("purchase_id")
  }

  /** C6c — RANGE join with NO equi key (cross-user impact analysis):
    * every click within 1h after ANY high-severity error, regardless of
    * user. The naive predicate-only formulation can only plan as a
    * BroadcastNestedLoopJoin — O(|clicks|·|errors|) pair evaluations,
    * a cluster-killer at 100 TB (and banned outright by our
    * CartesianGuard). Scale shape: quantize the time axis into
    * window-sized buckets. An interval of span W crosses at most 2
    * buckets of width W, so the interval side is exploded to its ≤2
    * covering buckets (`array_distinct` collapses the aligned case) and
    * the point side maps to exactly ONE bucket — the join becomes a
    * plain equi join on the bucket id with the exact range predicate as
    * residual. Candidate count is proportional to true temporal
    * collocation, never |C|·|E|; each true pair is produced exactly once
    * (the point's single bucket matches at most one of the two interval
    * copies), so no dedup pass is needed. Generalizes to any band/range
    * predicate: bucket width = band width. */
  def joinRangeBucketed(spark: SparkSession, dir: String): DataFrame = {
    val w = 3600L * 1000000L // 1h in µs = bucket width = window span
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    val errors = ev.where(col("event_type") === "error" && col("value") >= 150)
      .select(col("event_id").as("err_id"), col("ts_us").as("err_us"))
      .withColumn("bucket",
        explode(graft.functions.TimeBuckets.coveringBuckets("err_us", w)))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts_us").as("click_us"),
        graft.functions.TimeBuckets.bucketOf("ts_us", w).as("bucket"))
    clicks.join(errors, Seq("bucket"))
      .where(col("click_us") >= col("err_us") &&
        col("click_us") < col("err_us") + w)
      .select(col("click_id"), col("err_id"),
        (col("click_us") - col("err_us")).as("lag_us"))
      .orderBy("click_id", "err_id")
  }

  /** CEP-analogue (Flink CEP `Pattern.begin("c1").next("c2").next("p")`
    * within a 3-day span — sized so the pattern is non-degenerate at every
    * fixture sf; sf0.001 has ~11h between a user's events): detect
    * strictly-consecutive click→click→purchase triples per user. Spark has no CEP library; the
    * idiomatic formulation is ordered per-key window navigation (lag over
    * (user, time)) with the span predicate — one shuffle on the key, state
    * bounded by the lag depth. The streaming twin is the same plan over a
    * watermarked stream (lag depth ≤ 2 rows of per-key state). */
  def cepClickClickPurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .withColumn("id1", lag(col("event_id"), 2).over(w))
      .withColumn("id2", lag(col("event_id"), 1).over(w))
      .withColumn("ts1", lag(col("ts_us"), 2).over(w))
      .where(col("t1") === "click" && col("t2") === "click" &&
        col("event_type") === "purchase" &&
        col("ts_us") - col("ts1") <= 3L * 24 * 3600 * 1000000)
      .select(col("user_id"), col("id1"), col("id2"),
        col("event_id").as("purchase_id"), (col("ts_us") - col("ts1")).as("span_us"))
      .orderBy("purchase_id")
  }

  /** CEP with a Kleene quantifier AND timeout semantics (Flink CEP
    * `Pattern.begin("views").oneOrMore().consecutive().next("purchase")
    * .within(2 days)` with timed-out partial matches emitted, à la
    * `PatternStream.select(timeoutTag, ...)`): each MAXIMAL run of
    * consecutive 'view' events per user is one partial match; it completes
    * iff the event immediately after the run is a purchase within 2 days of
    * the run's FIRST view, otherwise the run is emitted as a timed-out row
    * (purchase_id/span_us null, matched=false) — the batch surrogate of the
    * CEP timeout side-output.
    *
    * Shape: gaps-and-islands — one row_number + lag/lead pass, a running
    * sum for the island id, island stats via windows over (user, island),
    * keep each island's last view row. Everything reuses ONE user_id
    * shuffle partitioning; state is bounded by lag/lead depth 1 plus the
    * island window, exactly like the other window queries at 100 TB. */
  def cepKleeneTimeout(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val seq = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .withColumn("next_id", lead(col("event_id"), 1).over(byUser))
      .withColumn("next_ts", lead(col("ts_us"), 1).over(byUser))
      .withColumn("is_start", when(col("event_type") === "view" &&
        (col("prev_type").isNull || col("prev_type") =!= "view"), 1L).otherwise(0L))
      .withColumn("island", sum(col("is_start")).over(byUser))
    val islandW = Window.partitionBy(col("user_id"), col("island"))
    val islandOrd = islandW.orderBy(col("rn"))
    val spanUs = 2L * 24 * 3600 * 1000000
    val hit = col("next_type") === "purchase" &&
      col("next_ts") - col("first_ts_us") <= spanUs
    seq.where(col("event_type") === "view")
      .withColumn("n_views", count(lit(1)).over(islandW))
      .withColumn("first_view_id", first(col("event_id")).over(islandOrd))
      .withColumn("first_ts_us", first(col("ts_us")).over(islandOrd))
      // each island's LAST view is the only view whose successor is not a view
      .where(col("next_type").isNull || col("next_type") =!= "view")
      .select(col("user_id"), col("first_view_id"), col("n_views"),
        coalesce(hit, lit(false)).as("matched"),
        when(coalesce(hit, lit(false)), col("next_id")).as("purchase_id"),
        when(coalesce(hit, lit(false)), col("next_ts") - col("first_ts_us")).as("span_us"))
      .orderBy("user_id", "first_view_id")
  }

  /** CEP after-match SKIP strategies contrasted on one pattern (Flink
    * `AfterMatchSkipStrategy.skipToNext()` vs `skipPastLastEvent()` for
    * `click click`): within each MAXIMAL run of L consecutive clicks,
    * skip-to-next admits every overlapping pair (L−1 matches) while
    * skip-past-last restarts after each match (⌊L/2⌋ matches). Per user:
    * both counts + the longest run. Same gaps-and-islands machinery as
    * [[cepKleeneTimeout]]; the island aggregate and the per-user rollup
    * both reuse the single user_id window shuffle. Division is explicit
    * /2.0+floor for cross-engine parity. */
  def cepSkipStrategies(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("is_start", when(col("event_type") === "click" &&
        (col("prev_type").isNull || col("prev_type") =!= "click"), 1L).otherwise(0L))
      .withColumn("island", sum(col("is_start")).over(byUser))
      .where(col("event_type") === "click")
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len") - 1).as("n_skip_to_next"),
        sum(floor(col("len") / lit(2.0)).cast("long")).as("n_skip_past_last"),
        max(col("len")).as("longest_run"))
      .where(col("n_skip_to_next") > 0)
      .orderBy("user_id")
  }

  /** CEP ABSENCE pattern (Flink `begin("click").notFollowedBy("purchase")
    * .within(30 min)`): clicks with NO same-user purchase in the following
    * 30 minutes — the abandoned-cart alert. Flink CEP detects absence with
    * a timer that fires unless the forbidden event arrives; the batch
    * surrogate asks the same question of the next following purchase.
    *
    * Shape: one user-keyed window pass — the earliest FOLLOWING purchase
    * timestamp per event via `min(when(purchase, ts))` over
    * (1 following, unbounded) — then a row-local absence test. EXISTS over
    * a time range collapses to a running extremum, so the whole pattern
    * costs exactly one user shuffle + sort at any corpus size (the same
    * budget every other CEP query here runs on); no self-join, nothing
    * pairwise. Streaming twin: [[graft.streaming.Streams.absenceAlerts]]
    * (timer fires at click+30min unless a purchase cancels it). */
  def cepNotFollowedBy(spark: SparkSession, dir: String): DataFrame = {
    val following = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(following))
      .where(col("event_type") === "click" &&
        (col("next_purchase_us").isNull ||
          col("next_purchase_us") - col("ts_us") > 30L * 60 * 1000000))
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
      .orderBy("click_id")
  }

  /** The generic compiler ([[Cep]]) driving a pattern none of the
    * specialized queries cover — strictly-consecutive view→click→purchase
    * within 3 days — flattened from the canonical match schema. The four
    * specialized shapes are reproduced from their AST forms in Round9Spec;
    * this key proves the compiler end-to-end against its own oracle. */
  def cepPatternGeneric(spark: SparkSession, dir: String): DataFrame =
    viewClickPurchase(spark, dir, relaxed = false)

  /** view → click → purchase within 3 days through the compiler, strict
    * or relaxed contiguity; one row per match with the three event ids. */
  private def viewClickPurchase(spark: SparkSession, dir: String,
      relaxed: Boolean): DataFrame =
    Cep.matches(events(spark, dir),
        Cep.Pattern(
          Seq(Cep.Group("view"), Cep.Group("click"), Cep.Group("purchase")),
          withinUs = Some(3L * 24 * 3600 * 1000000),
          relaxed = relaxed))
      .select(col("user_id"),
        col("g_first_id")(0).as("view_id"),
        col("g_first_id")(1).as("click_id"),
        col("g_first_id")(2).as("purchase_id"),
        col("span_us"))
      .orderBy("purchase_id")

  /** RELAXED-contiguity chain through the compiler (Flink `followedBy` —
    * the default CEP contiguity mode, where unrelated events may sit
    * between stages): view ~> click ~> purchase within 3 days,
    * latest-predecessor selection (at most one match per purchase — the
    * tightest chain; see [[Cep]] scaladoc for why full NO_SKIP
    * enumeration is deliberately not offered). The strict `next()` twin
    * is [[cepPatternGeneric]]; every strict match is provably also a
    * relaxed match with identical ids (Round9Spec pins the containment
    * on the fixture). */
  def cepFollowedByRelaxed(spark: SparkSession, dir: String): DataFrame =
    viewClickPurchase(spark, dir, relaxed = true)

  /** Strict block chained relaxedly (Flink `times(2).consecutive()` then
    * `followedBy`): two strictly consecutive clicks (a double-click, no
    * interleaved event), then a purchase anywhere within 3 days —
    * latest-predecessor selection as in [[cepFollowedByRelaxed]]. The
    * missing cell of the contiguity matrix: L47 is strict×strict, L167
    * relaxed×singletons, this is relaxed×blocks. */
  def cepRelaxedBlocks(spark: SparkSession, dir: String): DataFrame =
    Cep.matches(events(spark, dir),
        Cep.Pattern(
          Seq(Cep.Group("click", Cep.Exact(2)), Cep.Group("purchase")),
          withinUs = Some(3L * 24 * 3600 * 1000000),
          relaxed = true))
      .select(col("user_id"),
        col("g_first_id")(0).as("click1_id"),
        col("g_last_id")(0).as("click2_id"),
        col("g_first_id")(1).as("purchase_id"),
        col("span_us"))
      .orderBy("purchase_id")

  /** `seq`: each event with the types, ids and time of its two
    * predecessors in the user's (ts, event_id) order — the strict
    * three-event chain oracles read t1/t2/id1/id2/ts1. */
  private val lag3Sql =
    s"""seq AS (
            SELECT user_id, event_id, event_type, epoch_us($evTs) AS ts_us,
              lag(event_type, 2) OVER w AS t1, lag(event_type, 1) OVER w AS t2,
              lag(event_id, 2) OVER w AS id1, lag(event_id, 1) OVER w AS id2,
              lag(epoch_us($evTs), 2) OVER w AS ts1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY $evTs, event_id))"""

  /** Each purchase with the latest click at or before it, per user. */
  private val asOfClickBeforePurchaseSql =
    s"""WITH tagged AS (
            SELECT user_id, event_id, $evTs AS ts, event_type,
              last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                OVER w AS click_id,
              last_value(CASE WHEN event_type = 'click' THEN epoch_us($evTs) END IGNORE NULLS)
                OVER w AS click_us
            FROM events WHERE event_type IN ('click', 'purchase')
            WINDOW w AS (PARTITION BY user_id ORDER BY $evTs, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT user_id, event_id AS purchase_id, click_id,
            epoch_us(ts) - click_us AS age_us
          FROM tagged WHERE event_type = 'purchase' ORDER BY purchase_id"""

  val entries: Map[String, Op] = Map(
    "cep_relaxed_blocks" -> Op(cepRelaxedBlocks,
      s"""WITH t AS (SELECT user_id, event_id, event_type,
              epoch_us($evTs) AS us,
              ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY epoch_us($evTs), event_id) AS rn
            FROM events),
          c2 AS (SELECT cur.user_id, prev.event_id AS first_id,
              prev.us AS first_us, cur.event_id AS last_id,
              cur.us AS last_us, cur.rn
            FROM t cur JOIN t prev ON prev.user_id = cur.user_id
              AND prev.rn = cur.rn - 1
            WHERE cur.event_type = 'click' AND prev.event_type = 'click'),
          p AS (SELECT * FROM t WHERE event_type = 'purchase'),
          sel AS (SELECT p.user_id, b.first_id AS click1_id,
              b.last_id AS click2_id, p.event_id AS purchase_id,
              p.us - b.first_us AS span_us
            FROM p, LATERAL (SELECT * FROM c2
              WHERE c2.user_id = p.user_id AND c2.rn <= p.rn - 1
              ORDER BY c2.last_us DESC, c2.last_id DESC LIMIT 1) b)
          SELECT * FROM sel
          WHERE span_us <= CAST(3 AS BIGINT) * 24 * 3600 * 1000000
          ORDER BY purchase_id"""),
    "cep_followed_by_relaxed" -> Op(cepFollowedByRelaxed,
      s"""WITH t AS (SELECT user_id, event_id, event_type,
              epoch_us($evTs) AS us FROM events)
          SELECT p.user_id, v.view_id, c.click_id,
            p.event_id AS purchase_id, p.us - v.view_us AS span_us
          FROM (SELECT * FROM t WHERE event_type = 'purchase') p,
          LATERAL (SELECT c.event_id AS click_id, c.us AS click_us FROM t c
                   WHERE c.user_id = p.user_id AND c.event_type = 'click'
                     AND (c.us < p.us OR (c.us = p.us AND c.event_id < p.event_id))
                     AND EXISTS (SELECT 1 FROM t v WHERE v.user_id = c.user_id
                                 AND v.event_type = 'view'
                                 AND (v.us < c.us OR (v.us = c.us AND v.event_id < c.event_id)))
                   ORDER BY c.us DESC, c.event_id DESC LIMIT 1) c,
          LATERAL (SELECT v.event_id AS view_id, v.us AS view_us FROM t v
                   WHERE v.user_id = p.user_id AND v.event_type = 'view'
                     AND (v.us < c.click_us OR (v.us = c.click_us AND v.event_id < c.click_id))
                   ORDER BY v.us DESC, v.event_id DESC LIMIT 1) v
          WHERE p.us - v.view_us <= CAST(3 AS BIGINT) * 24 * 3600 * 1000000
          ORDER BY purchase_id"""),
    "cep_pattern_generic" -> Op(cepPatternGeneric,
      s"""WITH $lag3Sql
          SELECT user_id, id1 AS view_id, id2 AS click_id,
            event_id AS purchase_id, ts_us - ts1 AS span_us
          FROM seq
          WHERE t1 = 'view' AND t2 = 'click' AND event_type = 'purchase'
            AND ts_us - ts1 <= CAST(3 AS BIGINT) * 24 * 3600 * 1000000
          ORDER BY purchase_id"""),
    "cep_not_followed_by" -> Op(cepNotFollowedBy,
      s"""WITH seq AS (SELECT user_id, event_id, event_type,
              epoch_us($evTs) AS ts_us FROM events)
          SELECT user_id, event_id AS click_id, ts_us
          FROM seq c
          WHERE event_type = 'click' AND NOT EXISTS (
            SELECT 1 FROM seq p
            WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
              AND (p.ts_us > c.ts_us
                OR (p.ts_us = c.ts_us AND p.event_id > c.event_id))
              AND p.ts_us - c.ts_us <= 1800000000)
          ORDER BY click_id"""),
    "cep_skip_strategies" -> Op(cepSkipStrategies,
      s"""WITH seq AS (
            SELECT user_id, event_id, event_type, epoch_us($evTs) AS ts_us,
              row_number() OVER w AS rn, lag(event_type) OVER w AS prev_type
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY $evTs, event_id)),
          x AS (SELECT *, CASE WHEN event_type = 'click'
              AND (prev_type IS NULL OR prev_type <> 'click')
              THEN 1 ELSE 0 END AS is_start FROM seq),
          y AS (SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY rn)
              AS island FROM x),
          runs AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
            FROM y WHERE event_type = 'click' GROUP BY 1, 2)
          SELECT user_id,
            CAST(SUM(len - 1) AS BIGINT) AS n_skip_to_next,
            CAST(SUM(CAST(FLOOR(len / 2.0) AS BIGINT)) AS BIGINT) AS n_skip_past_last,
            MAX(len) AS longest_run
          FROM runs GROUP BY user_id
          HAVING CAST(SUM(len - 1) AS BIGINT) > 0
          ORDER BY user_id"""),
    "cep_kleene_timeout" -> Op(cepKleeneTimeout,
      s"""WITH seq AS (
            SELECT user_id, event_id, event_type, epoch_us($evTs) AS ts_us,
              row_number() OVER (PARTITION BY user_id ORDER BY $evTs, event_id) AS rn
            FROM events),
          x AS (
            SELECT *,
              lead(event_type) OVER w AS next_type,
              lead(event_id) OVER w AS next_id,
              lead(ts_us) OVER w AS next_ts,
              CASE WHEN event_type = 'view' AND (lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> 'view') THEN 1 ELSE 0 END AS is_start
            FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
          y AS (SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY rn) AS island
            FROM x),
          v AS (
            SELECT *, CAST(COUNT(*) OVER (PARTITION BY user_id, island) AS BIGINT) AS n_views,
              first_value(event_id) OVER (PARTITION BY user_id, island ORDER BY rn) AS first_view_id,
              first_value(ts_us) OVER (PARTITION BY user_id, island ORDER BY rn) AS first_ts_us
            FROM y WHERE event_type = 'view')
          SELECT user_id, first_view_id, n_views,
            COALESCE(next_type = 'purchase' AND next_ts - first_ts_us <= 172800000000, false) AS matched,
            CASE WHEN COALESCE(next_type = 'purchase' AND next_ts - first_ts_us <= 172800000000, false)
              THEN next_id END AS purchase_id,
            CASE WHEN COALESCE(next_type = 'purchase' AND next_ts - first_ts_us <= 172800000000, false)
              THEN next_ts - first_ts_us END AS span_us
          FROM v WHERE next_type IS NULL OR next_type <> 'view'
          ORDER BY user_id, first_view_id"""),
    "cep_click_click_purchase" -> Op(cepClickClickPurchase,
      s"""WITH $lag3Sql
          SELECT user_id, id1, id2, event_id AS purchase_id, ts_us - ts1 AS span_us
          FROM seq
          WHERE t1 = 'click' AND t2 = 'click' AND event_type = 'purchase'
            AND ts_us - ts1 <= CAST(3 AS BIGINT) * 24 * 3600 * 1000000
          ORDER BY purchase_id"""),
    "join_asof_next_purchase" -> Op(joinAsofNextPurchase,
      s"""WITH tagged AS (
            SELECT user_id, event_id, $evTs AS ts, event_type,
              first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
                OVER w AS purchase_id,
              first_value(CASE WHEN event_type = 'purchase' THEN epoch_us($evTs) END IGNORE NULLS)
                OVER w AS purchase_us
            FROM events WHERE event_type IN ('click', 'purchase')
            WINDOW w AS (PARTITION BY user_id ORDER BY $evTs, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          SELECT user_id, event_id AS click_id, purchase_id,
            purchase_us - epoch_us(ts) AS wait_us
          FROM tagged WHERE event_type = 'click' ORDER BY click_id"""),
    "join_asof_click_before_purchase" ->
      Op(joinAsofClickBeforePurchase, asOfClickBeforePurchaseSql),
    // the physical-operator route has the SAME contract as the window
    // form — one oracle text, two Spark plans, both must hash-match it
    "join_asof_physical" -> Op(joinAsofPhysical, asOfClickBeforePurchaseSql),
    "join_range_bucketed" -> Op(joinRangeBucketed,
      s"""WITH e AS (SELECT event_id AS err_id, epoch_us($evTs) AS err_us
            FROM events WHERE event_type = 'error' AND value >= 150),
          c AS (SELECT event_id AS click_id, epoch_us($evTs) AS click_us
            FROM events WHERE event_type = 'click')
          SELECT click_id, err_id, click_us - err_us AS lag_us
          FROM c JOIN e ON click_us >= err_us
            AND click_us < err_us + CAST(3600 AS BIGINT) * 1000000
          ORDER BY click_id, err_id"""),
    "join_orders_customer" -> Op(joinOrdersCustomer,
      s"""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
          ${dsumSql("o_totalprice")} AS sum_price
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1 ORDER BY 1"""),
    "join_left_orders_wo_lineitem" -> Op(joinLeftOrdersWoLineitem,
      """SELECT o_orderkey, o_totalprice
         FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_orderkey IS NULL ORDER BY o_orderkey"""),
    "join_right_orders_item_counts" -> Op(joinRightOrdersItemCounts,
      """SELECT o_orderkey, CAST(COUNT(l_orderkey) AS BIGINT) AS n_items
         FROM (SELECT l_orderkey FROM lineitem) l
         RIGHT JOIN orders ON l.l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1"""),
    "join_anti_customers_no_orders" -> Op(joinAntiCustomersNoOrders,
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    "join_theta_price_band" -> Op(joinThetaPriceBand,
      """SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_parts,
         MIN(p_partkey) AS min_partkey
         FROM part JOIN supplier
           ON s_acctbal >= p_retailprice * 3 AND s_acctbal <= p_retailprice * 5
         GROUP BY 1 ORDER BY 1"""),
    "join_window_events_selfpairs" -> Op(joinWindowEventsSelfpairs,
      s"""WITH ev AS (SELECT event_id, user_id,
            epoch_us(date_trunc('hour', $evTs)) AS bucket_us FROM events)
          SELECT e1.user_id AS user_id, e1.bucket_us AS bucket_us,
            CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM ev e1 JOIN ev e2
            ON e1.user_id = e2.user_id AND e1.bucket_us = e2.bucket_us
            AND e1.event_id < e2.event_id
          GROUP BY 1, 2 ORDER BY 1, 2"""),
    "join_interval_purchase_after_click" -> Op(joinIntervalPurchaseAfterClick,
      s"""WITH clicks AS (
            SELECT user_id, event_id AS click_id, epoch_us($evTs) AS click_us
            FROM events WHERE event_type = 'click'),
          purchases AS (
            SELECT user_id, event_id AS purchase_id, epoch_us($evTs) AS purchase_us
            FROM events WHERE event_type = 'purchase')
          SELECT c.user_id AS user_id, click_id, purchase_id,
            purchase_us - click_us AS delay_us
          FROM clicks c JOIN purchases p
            ON c.user_id = p.user_id
            AND purchase_us >= click_us
            AND purchase_us <= click_us + 15 * 60 * 1000000
          ORDER BY 1, 2, 3"""),
  )
}
