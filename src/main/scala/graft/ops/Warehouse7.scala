package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 continuation: market-structure analytics. */
object Warehouse7 {

  /** L373 — Herfindahl–Hirschman revenue-concentration index per part
    * (Herfindahl 1950 / Hirschman 1945 — the antitrust statistic, and
    * the single-supplier-risk screen procurement analytics run: a part
    * whose revenue concentrates in one supplier is a supply-chain
    * fragility). Per (part, supplier) revenue folds through the
    * repo-wide decimal lane (`dsum` — order-free, DuckDB-identical);
    * shares are double divisions of those exact decimals (identical
    * operands ⇒ identical IEEE quotients in both engines); HHI =
    * Σ (100·share)² with each term round-6 BEFORE the per-part decimal
    * sum so the ≤|suppliers-of-one-part| summation is order-free; the
    * 2 500-point DOJ "highly concentrated" line flags in-result. Scale:
    * one (partkey, suppkey) map-combinable aggregate (the shuffle key
    * is the natural join grain of lineitem), a part-keyed second fold,
    * top-20 via TakeOrderedAndProject under the total
    * (hhi desc, n_suppliers desc, p_partkey) order — no global sort,
    * nothing pairwise, at any corpus size. Parts with a single
    * supplier are excluded (HHI degenerately 10 000 — the interesting
    * ranking is among genuinely shared parts; the single-source count
    * would be a separate inventory query). */
  def hhiSupplierParts(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev"))
    // part totals via a part-keyed window over the compact (part, supp)
    // frame — the window reuses the aggregate's own partitioning
    val shared = rev.withColumn("part_total",
      sum(col("rev").cast("decimal(18,6)"))
        .over(Window.partitionBy(col("l_partkey"))).cast("double"))
    // share² as an IEEE self-multiply, never pow() (the L210 cross-libm
    // contract: both engines square the identical quotient exactly)
    val share = col("rev") / col("part_total") * lit(100.0)
    val perPart = shared
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(dsum(col("rev")), 6).as("total_rev"),
        round(sum(round(share * share, 6)
          .cast("decimal(18,6)")).cast("double"), 6).as("hhi"))
    perPart
      .where(col("n_suppliers") >= 2)
      .withColumn("highly_concentrated", col("hhi") > 2500.0)
      .select(col("l_partkey").as("p_partkey"), col("n_suppliers"),
        col("total_rev"), col("hhi"), col("highly_concentrated"))
      .orderBy(col("hhi").desc, col("n_suppliers").desc, col("p_partkey"))
      .limit(20)
  }

  val entries: Map[String, Op] = Map(
    "rev_hhi_parts" -> Op(hhiSupplierParts,
      """WITH rev AS (SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(18,6))) AS DOUBLE) AS rev
           FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT l_partkey, rev,
             CAST(SUM(CAST(rev AS DECIMAL(18,6)))
               OVER (PARTITION BY l_partkey) AS DOUBLE) AS part_total,
             CAST(COUNT(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS ns
           FROM rev),
         hhi AS (SELECT l_partkey,
             MAX(ns) AS n_suppliers,
             round(CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS total_rev,
             round(CAST(SUM(CAST(round((rev / part_total * 100.0)
               * (rev / part_total * 100.0), 6)
               AS DECIMAL(18,6))) AS DOUBLE), 6) AS hhi
           FROM tot GROUP BY 1)
         SELECT l_partkey AS p_partkey, n_suppliers, total_rev, hhi,
           hhi > 2500.0 AS highly_concentrated
         FROM hhi WHERE n_suppliers >= 2
         ORDER BY hhi DESC, n_suppliers DESC, p_partkey LIMIT 20"""),
  )
}
