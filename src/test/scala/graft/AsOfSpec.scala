package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tier-(c) extension point (custom LogicalPlan + SparkStrategy +
  * SparkPlan): [[graft.plans.GraftAsOfJoinExec]], a single-merge sort-merge
  * as-of join, proven row-identical to the window-composed as-of query. */
class AsOfSpec extends AnyFunSuite {

  private lazy val ext: SparkSession = {
    val base = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session.builder(4).withExtensions(new plans.GraftExtensions).getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private val sf0001 = "/root/testdata/sf0.001"

  test("custom as-of exec equals the window-composed as-of query on the fixture") {
    val ev = Tables.events(ext, sf0001)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("c_ts"))
    val j = plans.AsOf.join(purchases, clicks,
      "user_id", "c_user", "ts_us", "c_ts", "purchase_id", "click_id")
    // SparkPlan.nodeName strips the Exec suffix: the physical node prints
    // as "GraftAsOfJoin" in the executed plan
    val plan = j.queryExecution.executedPlan.toString()
    assert(plan.contains("GraftAsOfJoin"), plan)
    assert(plan.contains("Exchange") && plan.contains("Sort"),
      s"EnsureRequirements must have aligned the children:\n$plan")
    val got = j.select(col("user_id"), col("purchase_id"), col("click_id"),
        (col("ts_us") - col("c_ts")).as("age_us"))
      .orderBy("purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSeq
    val want = ops.Joins.joinAsofClickBeforePurchase(ext, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("as-of tie and null semantics on a hand fixture") {
    val s = ext
    import s.implicits._
    // key 1: right at t=10 matches left at t=10 only for left tie >= right
    // tie; key 2 has no right rows at all → nulls
    val left = Seq((1L, 10L, 5L), (1L, 10L, 1L), (1L, 9L, 9L), (2L, 50L, 7L))
      .toDF("k", "t", "id")
    val right = Seq((1L, 10L, 3L), (1L, 2L, 2L)).toDF("rk", "rt", "rid")
    val j = plans.AsOf.join(left, right, "k", "rk", "t", "rt", "id", "rid")
      .select(col("k"), col("t"), col("id"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    assert(j === Set(
      (1L, 10L, 5L, 3L), // t equal, left id 5 >= right id 3 → matched
      (1L, 10L, 1L, 2L), // t equal but left id 1 < 3 → falls back to t=2 row
      (1L, 9L, 9L, 2L),  // earlier time → t=2 row
      (2L, 50L, 7L, null))) // no right rows for key 2
  }

  test("driver entry join_asof_physical: plain session, custom exec planned, twin parity") {
    // the driver's Verify/Bench sessions carry NO extensions — the
    // strategy must self-install via experimental.extraStrategies
    val s = SparkTestSession.spark
    val mine = ops.Joins.joinAsofPhysical(s, sf0001)
    val plan = mine.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAsOfJoin"), plan)
    // two side exchanges + the final orderBy range exchange, nothing more
    assert("Exchange".r.findAllIn(plan).size <= 3, plan)
    val a = mine.collect().map(_.toSeq).toSeq
    val b = ops.Joins.joinAsofClickBeforePurchase(s, sf0001).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("null keys and times follow the window twin's NULLS FIRST grouping") {
    val s = ext
    import s.implicits._
    // null key is its own group; null right time sorts before everything
    val left = Seq((Some(1L), 10L, 2L), (None, 10L, 3L))
      .toDF("k", "t", "id")
    val right = Seq((Some(1L), 5L, 1L), (None, 5L, 9L), (Some(2L), 1L, 4L))
      .toDF("rk", "rt", "rid")
    val j = plans.AsOf.join(left, right, "k", "rk", "t", "rt", "id", "rid")
      .select(col("id"), col("rid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSet
    // left key 1 matches right key 1 (not key 2, not null); left null key
    // matches the null-key right row, never key 0 or key 1
    assert(j === Set((2L, 1L), (3L, 9L)))
  }

  test("same-lineage inputs are refused instead of silently mis-binding") {
    val s = ext
    import s.implicits._
    val base = Seq((1L, 2L, 3L)).toDF("k", "t", "id")
    val e = intercept[IllegalArgumentException] {
      plans.AsOf.join(base.where(col("t") > 0), base.where(col("t") < 10),
        "k", "k", "t", "t", "id", "id")
    }
    assert(e.getMessage.contains("alias"), e.getMessage)
  }

  test("non-long columns are rejected at construction") {
    val s = ext
    import s.implicits._
    val l = Seq(("a", 1L, 1L)).toDF("k", "t", "id")
    val r = Seq(("a", 1L, 1L)).toDF("rk", "rt", "rid")
    val e = intercept[IllegalArgumentException] {
      plans.AsOf.join(l, r, "k", "rk", "t", "rt", "id", "rid")
    }
    assert(e.getMessage.contains("LongType"), e.getMessage)
  }
}
