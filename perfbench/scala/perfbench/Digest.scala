package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's whole output: row count plus two
  * wrapping-free sums of the 64-bit row hash (low and high 32 bits). Every
  * output column feeds the hash, so no projected expression can be pruned.
  * Top-level floating-point columns are rounded to 6 decimals first, so a
  * last-bit difference in summation order does not change the digest. */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  /** Runs the digest aggregate and renders it as `rows:lo:hi`. */
  def of(digestFrame: DataFrame): String = {
    val r = digestFrame.collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case _ if hasMap(t) => to_json(c)
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
