package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H widening, round 8: the ten classic shapes still missing after
  * round 7 (Q2/Q9/Q11/Q12/Q13/Q15/Q16/Q17/Q20/Q22), completing all 22
  * TPC-H query skeletons (Q1 ships as `agg_pricing_summary`). The fixture
  * has no `partsupp` table and no phone / ship-mode / container columns,
  * so each query keeps its reference ALGEBRA — correlated min, HAVING
  * against a global total, left-join count distribution, view-max
  * equality, anti-joined distinct count, correlated avg threshold, nested
  * semi-join chain, scalar-threshold + anti-join — re-grounded on columns
  * the fixture does have; every substitution is noted at the definition
  * site.
  *
  * Scale notes (100 TB): part/supplier/nation/region sides broadcast;
  * lineitem is only ever shuffled on its natural keys AFTER
  * pushdown-eligible predicates; the two 1-row global-total broadcasts
  * (Q11, Q22) are deliberate BNLJ-cross exceptions documented in
  * PlanSpec's allowlist — broadcasting one row is the correct distributed
  * shape for a scalar subquery (the alternative, a partition-all window,
  * serializes the whole table through one task). */
object Warehouse3 {

  /** TPC-H Q2 (minimum-cost supplier), adapted: no `partsupp`, so the
    * "cost" is the supplier's average sale price of the part observed in
    * lineitem (davg → decimal-exact, so the min-equality join is
    * bit-identical in both engines). Region EUROPE, STANDARD parts; the
    * correlated `price = (SELECT MIN ...)` subquery decorrelates to an
    * aggregate + equi self-join on (partkey, price). */
  def tpchQ2(spark: SparkSession, dir: String): DataFrame = {
    val sr = supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(nation(spark, dir)
          .join(region(spark, dir).where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name")
    val offers = lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(part(spark, dir).where(col("p_type") === "STANDARD")
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sr), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("s_name"))
      .agg(davg(col("l_extendedprice")).as("price"))
    val minPrice = offers.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("price")).as("min_price"))
    offers.join(minPrice,
        col("p_partkey") === col("mk") && col("price") === col("min_price"))
      .select("p_partkey", "s_name", "price")
      .orderBy("p_partkey", "s_name")
  }

  /** TPC-H Q9 (product-type profit), adapted: no `ps_supplycost`, so
    * profit is gross revenue l_extendedprice·(1−l_discount) — the
    * five-way join DAG (part-name LIKE slice ⋈ lineitem ⋈ supplier ⋈
    * nation ⋈ orders) and the (nation, order-year) rollup are intact.
    * Parts and the supplier→nation dim broadcast; lineitem joins orders
    * on orderkey — the only fact⋈fact shuffle. */
  def tpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir).where(col("p_name").like("%widget%"))
      .select("p_partkey")
    val sn = supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  /** TPC-H Q11 (important stock), adapted: part "stock value" is
    * Σ l_extendedprice·l_quantity over EUROPE-supplier lineitems (no
    * `ps_availqty`/`ps_supplycost`). The HAVING-fraction-of-global-total
    * scalar subquery survives: the 1-row total broadcasts into a
    * BNLJ cross (PlanSpec-allowlisted) — the right distributed shape
    * for a scalar threshold. Both per-part value and the total are
    * decimal sums, and the 0.001 fraction multiply is the same double
    * expression in both engines. */
  def tpchQ11(spark: SparkSession, dir: String): DataFrame = {
    val sr = supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(spark, dir)
          .join(region(spark, dir).where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(broadcast(sr), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(dsum(col("l_extendedprice") * col("l_quantity")).as("part_value"))
    val total = perPart.agg(dsum(col("part_value")).as("total_value"))
    perPart.crossJoin(broadcast(total))
      .where(col("part_value") > col("total_value") * lit(0.001))
      .select("p_partkey", "part_value")
      .orderBy(col("part_value").desc, col("p_partkey").asc)
  }

  /** TPC-H Q12 (shipping modes and order priority), adapted: no
    * `l_shipmode`/`l_receiptdate`, so lines are classed by ship DELAY
    * (days from order date to ship date: ≤30 FAST, ≤90 MEDIUM, else
    * SLOW) — the orders⋈lineitem join with CASE-conditional priority
    * counts is the query's skeleton and is unchanged. */
  def tpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_shipdate")
      .join(orders(spark, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_class",
        when(datediff(col("l_shipdate"), col("o_orderdate")) <= 30, "FAST")
          .when(datediff(col("l_shipdate"), col("o_orderdate")) <= 90, "MEDIUM")
          .otherwise("SLOW"))
      .groupBy("delay_class")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("delay_class")
  }

  /** TPC-H Q13 (customer order-count distribution): fully expressible.
    * LEFT join customer→orders with the join-side priority predicate (the
    * reference's comment-LIKE exclusion stand-in), count per customer —
    * nulls from orderless customers count 0 — then the distribution of
    * those counts. Two key-shuffles; the second is on the tiny
    * (c_count) domain. */
  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val perCust = customer(spark, dir).select("c_custkey")
      .join(orders(spark, dir)
          .where(col("o_orderpriority") =!= "1-URGENT")
          .select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 (top supplier): the revenue view over a 3-month ship
    * window, its max, and the equality join back — the view-max shape.
    * The 1-row max joins on revenue EQUALITY (plain equi broadcast join,
    * no cross), exact because revenue is a decimal sum on both engines;
    * ties (multiple top suppliers) surface as multiple rows, as in the
    * reference. */
  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(top), col("total_revenue") === col("max_revenue"))
      .join(supplier(spark, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16 (supplier-count by part attributes), adapted: supplier
    * pairs come from lineitem (no `partsupp`), and the complaint
    * exclusion list is suppliers with negative balance (no comment
    * column). The NOT-IN decorrelates to a broadcast anti-join BEFORE
    * the distinct-count aggregate; the count-distinct Expand runs on
    * (brand, type, size)-keyed groups. */
  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir)
      .where(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val complaints = supplier(spark, dir).where(col("s_acctbal") < 0)
      .select("s_suppkey")
    lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc,
        col("p_size").asc)
  }

  /** TPC-H Q17 (small-quantity-order revenue), adapted: the part slice is
    * a p_type (no container column). The correlated `0.2·AVG(quantity)`
    * subquery decorrelates to a per-part (sum, count) aggregate joined
    * back; the threshold compare is 5·qty·cnt < sum — all integral-double
    * arithmetic (quantities are integers), so both engines decide every
    * boundary row identically. */
  def tpchQ17(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(part(spark, dir).where(col("p_type") === "ECONOMY")
        .select("p_partkey")), col("l_partkey") === col("p_partkey"), "left_semi")
    val avgQ = li.groupBy(col("l_partkey").as("ak"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cq"))
    li.join(avgQ, col("l_partkey") === col("ak"))
      .where(lit(5.0) * col("l_quantity") * col("cq") < col("sq"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q20 (potential part promotion), adapted: the qty-threshold
    * inner subquery runs on lineitem shipments (no `ps_availqty` to halve
    * against — the fixed threshold 400 plays availqty/2's role); the
    * nested-IN chain decorrelates to aggregate → filter → two semi-joins
    * (qualified suppliers ∩ EUROPE suppliers). */
  def tpchQ20(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = part(spark, dir).where(col("p_type") === "PROMO")
      .select("p_partkey")
    val qualified = lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey")
      .agg(sum(col("l_quantity")).as("qty"))
      .where(col("qty") > 400.0)
    val euro = nation(spark, dir)
      .join(region(spark, dir).where(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(euro), col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q22 (global sales opportunity), adapted: the phone-prefix
    * country code is `c_nationkey % 10` (no phone column), and "never
    * placed an order" is bounded to the fixture's last ~1.5 years (on
    * this dense corpus every above-average customer has SOME order; the
    * recency bound restores the query's selectivity without touching its
    * algebra: scalar avg threshold + anti-join + country rollup). The
    * 1-row avg-balance broadcast is the Q11 cross shape
    * (PlanSpec-allowlisted); the threshold is a decimal-exact davg in
    * both engines. */
  def tpchQ22(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"),
        pmod(col("c_nationkey"), lit(10L)).cast("long").as("cntrycode"))
    val threshold = cust.where(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val recent = orders(spark, dir)
      .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(threshold))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  val entries: Map[String, Op] = Map(
    "tpch_q2_min_cost_supp" -> Op(tpchQ2,
      s"""WITH sr AS (
            SELECT s_suppkey, s_name FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'),
          offers AS (
            SELECT l_partkey AS p_partkey, s_name,
              ${davgSql("l_extendedprice")} AS price
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN sr ON l_suppkey = s_suppkey
            WHERE p_type = 'STANDARD'
            GROUP BY 1, 2)
          SELECT o.p_partkey, o.s_name, o.price
          FROM offers o
          JOIN (SELECT p_partkey, MIN(price) AS mp FROM offers GROUP BY 1) m
            ON o.p_partkey = m.p_partkey AND o.price = m.mp
          ORDER BY 1, 2"""),
    "tpch_q9_profit" -> Op(tpchQ9,
      s"""SELECT n_name AS nation,
            CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
            ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_profit
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          WHERE p_name LIKE '%widget%'
          GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC"""),
    "tpch_q11_important_parts" -> Op(tpchQ11,
      s"""WITH per_part AS (
            SELECT l_partkey AS p_partkey,
              ${dsumSql("l_extendedprice * l_quantity")} AS part_value
            FROM lineitem
            WHERE l_suppkey IN (
              SELECT s_suppkey FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE')
            GROUP BY 1)
          SELECT p_partkey, part_value FROM per_part
          WHERE part_value >
            (SELECT ${dsumSql("part_value")} FROM per_part) * 0.001
          ORDER BY part_value DESC, p_partkey ASC"""),
    "tpch_q12_ship_delay" -> Op(tpchQ12,
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
                     WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'MEDIUM'
                     ELSE 'SLOW' END AS delay_class,
            CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
            CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY 1 ORDER BY 1"""),
    "tpch_q13_cust_distribution" -> Op(tpchQ13,
      """WITH per_cust AS (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, COUNT(*) AS custdist FROM per_cust
         GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""),
    "tpch_q15_top_supplier" -> Op(tpchQ15,
      s"""WITH rev AS (
            SELECT l_suppkey,
              ${dsumSql("l_extendedprice * (1 - l_discount)")} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY 1)
          SELECT s_suppkey, s_name, total_revenue
          FROM rev JOIN supplier ON l_suppkey = s_suppkey
          WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
          ORDER BY s_suppkey"""),
    "tpch_q16_supplier_cnt" -> Op(tpchQ16,
      """SELECT p_brand, p_type, p_size,
            COUNT(DISTINCT l_suppkey) AS supplier_cnt
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
            AND p_size IN (1, 4, 7, 10, 14, 19, 23, 45)
            AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          GROUP BY 1, 2, 3
          ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    "tpch_q17_small_qty_revenue" -> Op(tpchQ17,
      s"""WITH li AS (
            SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
            WHERE l_partkey IN
              (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')),
          ag AS (
            SELECT l_partkey AS ak, CAST(SUM(l_quantity) AS DOUBLE) AS sq,
              COUNT(*) AS cq
            FROM li GROUP BY 1)
          SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly
          FROM li JOIN ag ON l_partkey = ak
          WHERE 5.0 * l_quantity * cq < sq"""),
    "tpch_q20_promo_suppliers" -> Op(tpchQ20,
      """SELECT s_suppkey, s_name FROM supplier
          WHERE s_nationkey IN
              (SELECT n_nationkey FROM nation
               JOIN region ON n_regionkey = r_regionkey
               WHERE r_name = 'EUROPE')
            AND s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN
                  (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY 1 HAVING CAST(SUM(l_quantity) AS DOUBLE) > 400.0)
          ORDER BY s_suppkey"""),
    "tpch_q22_idle_customers" -> Op(tpchQ22,
      s"""WITH cust AS (
            SELECT c_custkey, c_acctbal,
              CAST(c_nationkey % 10 AS BIGINT) AS cntrycode
            FROM customer)
          SELECT cntrycode, COUNT(*) AS numcust,
            ${dsumSql("c_acctbal")} AS totacctbal
          FROM cust
          WHERE c_acctbal >
              (SELECT ${davgSql("c_acctbal")} FROM cust WHERE c_acctbal > 0)
            AND NOT EXISTS
              (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                 AND o_orderdate >= TIMESTAMP '2000-01-01')
          GROUP BY 1 ORDER BY 1"""),
  )
}
