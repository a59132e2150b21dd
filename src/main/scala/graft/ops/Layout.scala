package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout engineering for scan pruning: Z-order (Morton curve)
  * clustering vs 1-D sort vs natural order, graded by zone-map
  * (per-file min/max) bucket skipping — the data-layout decision that
  * dominates scan cost at 100 TB, made measurable as a query. */
object Layout {

  private val Buckets = 64 // 6 Morton bits = 3 per dimension
  // the audit predicate: a 300-day date range × a customer-id range
  private val DayLo = 600; private val DayHi = 899
  private val CustLo = 0L; private val CustHi = 187L

  /** L233 — Z-ORDER clustering + zone-map pruning audit (Morton 1966
    * interleaved keys; the multi-dimensional clustering behind
    * Delta/Iceberg `OPTIMIZE ZORDER BY` and DB2 MDC): assign every
    * order to one of 64 "files" under THREE layouts — natural
    * (orderkey mod 64), 1-D date range-sort, and the 6-bit Morton
    * interleave of the scaled (date, custkey) pair — then compute each
    * file's zone map (min/max of both columns) and count the files a
    * date-only and a date×customer predicate must scan. The point the
    * numbers make: 1-D sort wins date-only pruning but degrades to
    * date-level selectivity on 2-D predicates; Z-order prunes BOTH
    * dimensions (at 3+3 bits: ≤8 date-matching stripes × customer
    * pruning within them), natural order scans everything. 100 TB
    * shape: ONE scan computes all three layouts' zone maps (row-local
    * bucket math + a 3-struct explode → one (layout, bucket) agg,
    * 192 rows after map-side combine); min/max bounds are a 1-row
    * broadcast. All-integer output, exactly hash-gated.
    *
    * The WRITER-side 16-bit Morton key (mask/shift spread, codegen'd
    * bit ops) is [[graft.functions.ZOrder.withZKey]], spec-tested since
    * round 6; this query is its AUDIT twin — 3-bit buckets and div/mod
    * arithmetic precisely so DuckDB reproduces every bucket id and the
    * pruning claim itself becomes a hash-gated result rather than a
    * scaladoc assertion. */
  def zorderPrune(spark: SparkSession, dir: String): DataFrame = {
    val base = orders(spark, dir).select(
      col("o_orderkey"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
        .cast("long").as("day"),
      col("o_custkey").as("cust"))
    val st = base.agg(min(col("day")).as("mind"), max(col("day")).as("maxd"),
      min(col("cust")).as("minc"), max(col("cust")).as("maxc"))
    val scaled = base.crossJoin(broadcast(st))
      .withColumn("dk", expr("(day - mind) * 8 div (maxd - mind + 1)"))
      .withColumn("ck", expr("(cust - minc) * 8 div (maxc - minc + 1)"))
    val z = expr("""32 * (dk div 4 % 2) + 16 * (ck div 4 % 2) +
                     8 * (dk div 2 % 2) +  4 * (ck div 2 % 2) +
                     2 * (dk % 2)       +      (ck % 2)""")
    val lb = scaled
      .withColumn("bn", expr(s"o_orderkey % $Buckets"))
      .withColumn("bd", expr(s"(day - mind) * $Buckets div (maxd - mind + 1)"))
      .withColumn("bz", z)
      .select(col("day"), col("cust"), explode(array(
        struct(lit("1_natural").as("layout"), col("bn").as("bucket")),
        struct(lit("2_datesort").as("layout"), col("bd").as("bucket")),
        struct(lit("3_zorder").as("layout"), col("bz").as("bucket")))).as("lb"))
    val zones = lb.groupBy(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .agg(min(col("day")).as("d_lo"), max(col("day")).as("d_hi"),
        min(col("cust")).as("c_lo"), max(col("cust")).as("c_hi"),
        count(lit(1)).as("n"))
    val hitDate = col("d_lo") <= DayHi && col("d_hi") >= DayLo
    val hitBoth = hitDate && col("c_lo") <= CustHi && col("c_hi") >= CustLo
    zones.groupBy("layout")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(hitDate, 1L).otherwise(0L)).as("scan_date"),
        sum(when(hitBoth, 1L).otherwise(0L)).as("scan_2d"),
        sum(when(hitBoth, col("n")).otherwise(0L)).as("rows_2d"),
        sum(col("n")).as("rows_total"))
      .orderBy("layout")
  }

  val entries: Map[String, Op] = Map(
    "layout_zorder_prune" -> Op(zorderPrune,
      s"""WITH base AS (SELECT o_orderkey,
             CAST(date_diff('day', DATE '1995-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             o_custkey AS cust
           FROM orders),
         st AS (SELECT MIN(day) AS mind, MAX(day) AS maxd,
             MIN(cust) AS minc, MAX(cust) AS maxc FROM base),
         sc AS (SELECT o_orderkey, day, cust,
             (day - mind) * 8 // (maxd - mind + 1) AS dk,
             (cust - minc) * 8 // (maxc - minc + 1) AS ck,
             mind, maxd FROM base, st),
         lb AS (
           SELECT day, cust, '1_natural' AS layout,
             o_orderkey % $Buckets AS bucket FROM sc
           UNION ALL
           SELECT day, cust, '2_datesort',
             (day - mind) * $Buckets // (maxd - mind + 1) FROM sc
           UNION ALL
           SELECT day, cust, '3_zorder',
             32 * (dk // 4 % 2) + 16 * (ck // 4 % 2) +
              8 * (dk // 2 % 2) +  4 * (ck // 2 % 2) +
              2 * (dk % 2)      +      (ck % 2) FROM sc),
         zones AS (SELECT layout, bucket,
             MIN(day) AS d_lo, MAX(day) AS d_hi,
             MIN(cust) AS c_lo, MAX(cust) AS c_hi,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM lb GROUP BY 1, 2)
         SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN d_lo <= $DayHi AND d_hi >= $DayLo
             THEN 1 ELSE 0 END) AS BIGINT) AS scan_date,
           CAST(SUM(CASE WHEN d_lo <= $DayHi AND d_hi >= $DayLo
               AND c_lo <= $CustHi AND c_hi >= $CustLo
             THEN 1 ELSE 0 END) AS BIGINT) AS scan_2d,
           CAST(SUM(CASE WHEN d_lo <= $DayHi AND d_hi >= $DayLo
               AND c_lo <= $CustHi AND c_hi >= $CustLo
             THEN n ELSE 0 END) AS BIGINT) AS rows_2d,
           CAST(SUM(n) AS BIGINT) AS rows_total
         FROM zones GROUP BY 1 ORDER BY 1"""),
  )
}
