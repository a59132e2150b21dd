package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H widening, round 7: the remaining classic query shapes the fixture
  * schema can express (no `partsupp` table exists, so Q2/Q9/Q11/Q16/Q20
  * are out of reach; Q12/Q21's lateness columns `l_commitdate` /
  * `l_receiptdate` / `l_shipmode` are absent, so Q21 is adapted to the
  * returns flag with its EXISTS/NOT-EXISTS algebra intact).
  *
  * Scale notes (100 TB): every query joins facts on their natural keys
  * with dimension sides broadcast; date-range and flag predicates sit
  * directly on the fact scans (pushdown-eligible); Q7/Q8's nation-pair /
  * market-share restrictions reduce to broadcast-joined dimension filters
  * so the lineitem shuffle carries only surviving rows. Q4/Q21 are
  * semi/anti-join aggregations — no EXISTS subquery is ever re-executed
  * per row; each is one additional orderkey-keyed shuffle.
  */
object Warehouse2 {

  /** TPC-H Q7 (volume shipping): revenue between the (NATION_12,
    * NATION_10) pair — chosen so every fixture SF has cross-volume —
    * both directions, by ship year 1996–1997.
    *
    * The pair restriction is applied to the DIMENSIONS first: supplier
    * and customer are inner-joined to the 2-nation slice before touching
    * lineitem, so the first fact join already drops ~92% of lineitem (at
    * 100 TB that pruning, not the aggregate, is the whole game); only the
    * cross-direction OR stays as a residual filter after both sides are
    * known. */
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_12", "NATION_10")
    val n1 = nation(spark, dir).where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = nation(spark, dir).where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val s = supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .select("s_suppkey", "supp_nation")
    val c = customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .select("c_custkey", "cust_nation")
    lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .where((col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
        (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q6 (forecasting revenue change): one pure scan-filter-aggregate
    * — every predicate sits on the lineitem scan, zero joins; the classic
    * pushdown/vectorization benchmark. */
  def tpchQ6(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q19 (discounted revenue, disjunctive brand/size/quantity
    * bands): the OR-of-ANDs predicate spans both sides of the part join,
    * so it stays a residual on a broadcast join — part is dimension-sized
    * at any scale — while the per-band part slices remain
    * broadcast-prunable. Bands widened to the fixture's 200-part
    * catalog. */
  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir).select("p_partkey", "p_brand", "p_size")
    lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 25) &&
          col("l_quantity").between(1, 25)) ||
        (col("p_brand") === "Brand#25" && col("p_size").between(1, 30) &&
          col("l_quantity").between(10, 35)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(1, 40) &&
          col("l_quantity").between(20, 50)))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q8 (national market share): NATION_3's share of ECONOMY-part
    * revenue among ASIA-region customers, by order year. The share is a
    * conditional-sum ratio over one aggregation — no second pass. Every
    * dimension restriction (ECONOMY parts, ASIA customers, supplier
    * nation name) is applied to the dimension BEFORE its fact join, so
    * each broadcast join both maps and prunes — the q7 lesson. */
  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val asia = nation(spark, dir)
      .join(broadcast(region(spark, dir).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("ck"))
    val c = customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(asia), col("c_nationkey") === col("ck"))
      .select("c_custkey")
    val sn = nation(spark, dir).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val s = supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(sn), col("s_nationkey") === col("sk"))
      .select("s_suppkey", "supp_nation")
    val p = part(spark, dir).where(col("p_type").startsWith("ECONOMY"))
      .select("p_partkey")
    lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_3",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          .as("nation_volume"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_volume"))
      .withColumn("mkt_share",
        round(col("nation_volume") / col("total_volume"), 6))
      .orderBy("o_year")
  }

  /** TPC-H Q4 shape (order-priority checking), adapted to the fixture's
    * returns flag: orders in a quarter with at least one returned item,
    * counted per priority. The EXISTS becomes one left-semi join. */
  def tpchQ4(spark: SparkSession, dir: String): DataFrame = {
    val returned = lineitem(spark, dir)
      .where(col("l_returnflag") === "R").select("l_orderkey")
    orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q21 shape (suppliers kept waiting), adapted to the returns
    * flag: NATION_13 suppliers (the nation with sole-blame rows at every
    * fixture SF) whose returned items sit in FINISHED
    * multi-supplier orders where NO other supplier's items were returned
    * — the sole-blame supplier.
    *
    * Q21's correlated EXISTS ("another supplier on the order") + NOT
    * EXISTS ("another supplier also at fault") pair is decorrelated into
    * per-order counts — n_supp ≥ 2 ∧ n_ret_supp = 1 is exactly that
    * conjunction given the probe row itself returned. ONE lineitem pass:
    * a (orderkey, suppkey) pre-aggregate (map-side combined), then an
    * orderkey aggregate in which `max(when(ret=1, suppkey))` recovers THE
    * sole returning supplier — the n_ret_supp = 1 filter makes that max a
    * well-defined witness, so no join back and no window sort. The
    * literal semi+anti formulation needs three full lineitem shuffles
    * (measured 2.46 s at sf0.1 vs ~1 s for this shape). The DuckDB
    * oracle intentionally KEEPS the correlated EXISTS/NOT-EXISTS form,
    * so the rewrite's equivalence is hash-verified, not asserted. */
  def tpchQ21(spark: SparkSession, dir: String): DataFrame = {
    val n0 = nation(spark, dir).where(col("n_name") === "NATION_13")
      .select(col("n_nationkey").as("nk"))
    val pairStats = lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_returnflag")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ret"))
    val fOrders = orders(spark, dir).where(col("o_orderstatus") === "F")
      .select("o_orderkey")
    pairStats
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum(col("ret")).as("n_ret_supp"),
        max(when(col("ret") === 1L, col("l_suppkey"))).as("l_suppkey"))
      .where(col("n_supp") >= 2 && col("n_ret_supp") === 1L)
      .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n0), col("s_nationkey") === col("nk"), "left_semi")
      .groupBy("s_name")
      // rows are one-per-order after the order aggregate (semi joins do
      // not duplicate, supplier is a key join), so the oracle's
      // COUNT(DISTINCT) is a plain count here — no distinct Expand
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(10)
  }


  val entries: Map[String, Op] = Map(
    "tpch_q7_nation_volume" -> Op(tpchQ7,
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            CAST(date_part('year', l_shipdate) AS BIGINT) AS l_year,
            ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM supplier JOIN lineitem ON l_suppkey = s_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
              OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    "tpch_q8_market_share" -> Op(tpchQ8,
      s"""SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
            ${dsumSql("CASE WHEN sn.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
              AS nation_volume,
            ${dsumSql("l_extendedprice * (1 - l_discount)")} AS total_volume,
            round(${dsumSql("CASE WHEN sn.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
              / ${dsumSql("l_extendedprice * (1 - l_discount)")}, 6) AS mkt_share
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = 'ASIA' AND p_type LIKE 'ECONOMY%'
          GROUP BY 1 ORDER BY 1"""),
    "tpch_q6_forecast_revenue" -> Op(tpchQ6,
      s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue,
            COUNT(*) AS n_items
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    "tpch_q19_discount_bands" -> Op(tpchQ19,
      s"""SELECT ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
            COUNT(*) AS n_items
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
                 AND l_quantity BETWEEN 1 AND 25)
             OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 30
                 AND l_quantity BETWEEN 10 AND 35)
             OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 40
                 AND l_quantity BETWEEN 20 AND 50)"""),
    "tpch_q4_priority_returns" -> Op(tpchQ4,
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY 1 ORDER BY 1"""),
    "tpch_q21_sole_blame" -> Op(tpchQ21,
      """WITH l1 AS (SELECT DISTINCT l_orderkey AS o1, l_suppkey AS s1
                     FROM lineitem WHERE l_returnflag = 'R')
         SELECT s_name, COUNT(DISTINCT o1) AS numwait
         FROM l1
         JOIN supplier ON s1 = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_13'
           AND EXISTS (SELECT 1 FROM orders
                       WHERE o_orderkey = o1 AND o_orderstatus = 'F')
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = o1 AND l2.l_suppkey <> s1)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = o1 AND l3.l_suppkey <> s1
                             AND l3.l_returnflag = 'R')
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10"""),
  )
}
