package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Mergeable COUNT-MIN sketch (Cormode & Muthukrishnan 2005, "An improved
  * data stream summary: the count-min sketch and its applications") as a
  * custom [[TypedImperativeAggregate]] — the frequency-estimation sibling
  * of [[MinHashSig]] (set similarity) and `approx_count_distinct`
  * (cardinality): `depth` rows of `width` counters; each item increments
  * one counter per row chosen by a pairwise-independent hash; the
  * estimate for an item is the MIN over its `depth` counters, an
  * overestimate by at most εN (ε = e/width) with probability 1−δ
  * (δ = e^−depth).
  *
  * State is O(depth·width) longs per group REGARDLESS of stream length or
  * vocabulary size — the whole point at 100 TB, where exact per-token
  * counts shuffle the full vocabulary but the sketch ships a fixed
  * few-KB buffer that partials/merges cell-wise (counter addition is
  * commutative, so ObjectHashAggregate's partial/final split is exact).
  *
  * Like [[MinHashSig]] — and UNLIKE Spark's built-in
  * `count_min_sketch()` (xxhash-based, no DuckDB twin) — the hash family
  * here is portable integer arithmetic (`((a_j·x + b_j) mod p) mod
  * width` over the Mersenne prime p = 2^31−1), so a SQL engine
  * reproduces every counter and therefore every ESTIMATE exactly: the
  * oracle hash-gates the sketch's answers, not a tolerance band.
  */
case class CountMinAgg(
    child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySketchAgg {

  import MinHashSig.P

  require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
  require(width >= 2 && width <= 65536, s"width must be in [2, 65536], got $width")

  // same verified-bijection affine family as MinHashSig (a_j ≠ 0 mod p)
  private val as: Array[Long] = Array.tabulate(depth)(j => ((2L * j + 1) * 1299721L) % P)
  private val bs: Array[Long] = Array.tabulate(depth)(j => (j * 15485863L + 11L) % P)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val xm = java.lang.Math.floorMod(v.asInstanceOf[Long], P)
      var j = 0
      while (j < depth) {
        val cell = (((as(j) * xm + bs(j)) % P) % width).toInt // < p² ≈ 2^62
        buf(j * width + cell) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def prettyName: String = "graft_count_min"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
}

object CountMin {
  import MinHashSig.P

  /** Aggregate Column: depth×width count-min sketch of the group's items
    * (pre-hashed to nonnegative longs via [[graft.Tables.h48]]), flattened
    * row-major to `array<bigint>` of length depth·width. */
  def sketch(c: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CountMinAgg(ColumnBridge.expression(c), depth, width)
        .toAggregateExpression())

  /** Point estimate from a sketch column: MIN over the `depth` counters
    * this item hashes to. `h` must be the same nonnegative long hash the
    * sketch was built over. Pure `element_at`/`least` — codegen'd, no UDF. */
  def estimate(sk: Column, h: Column, depth: Int, width: Int): Column = {
    val cells = (0 until depth).map { j =>
      val a = (2L * j + 1) * 1299721L % P
      val b = (j * 15485863L + 11L) % P
      val cell = ((lit(a) * (h % P) + lit(b)) % P) % width
      element_at(sk, (lit(j * width) + cell).cast("int") + 1)
    }
    least(cells: _*)
  }

  /** DuckDB SQL for the cell index of row `j` (SQL expression text) over
    * hash expression `x` — identical arithmetic to [[CountMinAgg]]. */
  def cellSql(x: String, j: String, width: Int): String =
    s"((((((2*$j+1) * 1299721) % ${P}) * ($x % ${P}) + " +
      s"($j * 15485863 + 11) % ${P}) % ${P}) % $width)"
}
