package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Mergeable MinHash-signature SKETCH as a custom
  * [[TypedImperativeAggregate]] — the aggregate extension tier the
  * engine had not yet exercised (K2 uses the typed `Aggregator` API;
  * this is the serialized-buffer Catalyst form that ObjectHashAggregate
  * partials/merges, i.e. the same machinery behind
  * `approx_count_distinct`).
  *
  * State is `k` running minima of `k` fixed affine permutations
  * `h_i(x) = (a_i·(x mod p) + b_i) mod p` over the Mersenne prime
  * `p = 2^31−1` — O(k) bytes per group regardless of set size,
  * elementwise-min mergeable, so the shuffle carries one tiny signature
  * per group instead of the set itself. Estimated Jaccard between two
  * sets is the fraction of agreeing signature components (the classic
  * Broder estimator: P[min_i(A) = min_i(B)] = J(A,B)).
  *
  * Unlike the built-in sketches, the arithmetic here is fully portable:
  * the permutation constants are plain integer formulas, so a SQL engine
  * can reproduce the signature EXACTLY (`MIN((a_i·(x%p)+b_i)%p)` per
  * `i`) and the driver's DuckDB oracle hash-matches the estimate — a
  * sketch whose correctness gate is exact, not tolerance-based.
  */
case class MinHashSig(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySketchAgg {

  import MinHashSig.P

  require(k >= 1 && k <= 256, s"signature width k must be in [1, 256], got $k")

  // a_i in [1, p): (2i+1) is odd and < p, 1299721 is prime — product mod p
  // never 0, so every permutation is a genuine bijection on Z_p
  private val as: Array[Long] = Array.tabulate(k)(i => ((2L * i + 1) * 1299721L) % P)
  private val bs: Array[Long] = Array.tabulate(k)(i => (i * 15485863L + 11L) % P)

  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(P)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      // floorMod, not %: a negative input must map into [0, P) like any
      // other value rather than poisoning every component minimum with a
      // negative "hash" (the SQL mirror assumes nonnegative h48 inputs,
      // which stay identical under either operator)
      val xm = java.lang.Math.floorMod(v.asInstanceOf[Long], P)
      var i = 0
      while (i < k) {
        val h = (as(i) * xm + bs(i)) % P // < p² ≈ 2^62: no 64-bit overflow
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (other(i) < buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def prettyName: String = "graft_minhash_sig"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSig =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSig =
    copy(inputAggBufferOffset = newOffset)
}

/** Contract shared by the portable sketch aggregates ([[MinHashSig]],
  * [[CountMinAgg]], [[KmvAgg]]): one BIGINT input, pre-hashed with
  * [[graft.Tables.h48]], and an `array<bigint>` result. */
abstract class HashSketchAgg[T] extends TypedImperativeAggregate[T] {
  def child: Expression

  // analysis-time type gate (mirrors SortedIntersectSize): without it a
  // non-long child analyzes fine and then ClassCastExceptions per row
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a BIGINT input (pre-hash with h48), " +
        s"got ${child.dataType}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
}

/** A [[HashSketchAgg]] whose buffer is a fixed-length `Array[Long]`,
  * returned as the result. */
abstract class LongArraySketchAgg extends HashSketchAgg[Array[Long]] {
  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }
}

object MinHashSig {
  /** Mersenne prime 2^31−1: `a·x + b` for a, b, x < p stays under 2^62. */
  val P: Long = 2147483647L
}

object MinHash {
  /** Aggregate Column: k-wide MinHash signature of the group's values
    * (pre-hashed to nonnegative longs, e.g. via [[graft.Tables.h48]]). */
  def sig(c: Column, k: Int): Column =
    ColumnBridge.column(
      MinHashSig(ColumnBridge.expression(c), k).toAggregateExpression())

  /** DuckDB SQL reproducing component i of the signature over column
    * `x` (same constants, same modular arithmetic — exact parity). */
  def sigSqlComponent(x: String, i: String): String =
    s"(((((2*$i+1) * 1299721) % 2147483647) * ($x % 2147483647) + " +
      s"($i * 15485863 + 11) % 2147483647) % 2147483647)"
}
