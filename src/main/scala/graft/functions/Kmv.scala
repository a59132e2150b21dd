package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Mergeable KMV ("k minimum values" / bottom-k) distinct-count sketch
  * (Bar-Yossef et al. RANDOM 2002 counting-distinct framing; Beyer et
  * al. SIGMOD 2007 unbiased estimator and SET-OPERATION algebra) as a
  * custom [[TypedImperativeAggregate]] — the cardinality-with-set-algebra
  * member of the sketch family beside [[MinHashSig]] (set similarity),
  * [[CountMinAgg]] (frequency), and the engine's own HLL
  * (`approx_count_distinct`, D4) and Bloom (L173) sketches.
  *
  * The sketch keeps the k smallest DISTINCT values of a uniform hash of
  * the group's items. Because "the k smallest of a union is a subset of
  * the union of each side's k smallest", two sketches MERGE losslessly
  * (dedup, keep k smallest) — which is simultaneously the partial/final
  * aggregation split, the cross-partition combine, AND the set-union
  * operator on sketches of different columns: unlike HLL, a KMV sketch
  * supports union AND intersection estimates after the fact, which is
  * why warehouse engines (DataSketches' theta sketch is this design plus
  * sampling) deploy it for distinct-count set algebra.
  *
  * State is O(k) longs per group regardless of input size — at 100 TB
  * the exact pass shuffles every distinct key once, while the sketch
  * ships a bounded few-hundred-byte buffer whose merge is associative
  * and commutative (ObjectHashAggregate partial/final split exact).
  *
  * Like [[MinHashSig]]/[[CountMinAgg]] — and unlike HLL — the input is
  * the portable [[graft.Tables.h48]] hash, so a SQL engine reproduces
  * the EXACT sketch contents (`ROW_NUMBER() OVER (ORDER BY h) <= k`) and
  * therefore every downstream estimate bit-for-bit: KMV queries are
  * hash-gated, not tolerance-gated. Estimator arithmetic lives in
  * [[Kmv]] as integer SQL (`(k−1)·2^48 div h_(k)`) with the identical
  * DuckDB form.
  */
case class KmvAgg(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HashSketchAgg[java.util.TreeSet[Long]] {

  require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  /** Keep v iff it is among the k smallest distinct values seen. */
  private def offer(buf: java.util.TreeSet[Long], v: Long): Unit =
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) { if (buf.add(v)) { buf.remove(buf.last); () } }

  override def update(buf: java.util.TreeSet[Long], row: InternalRow)
      : java.util.TreeSet[Long] = {
    val v = child.eval(row)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[Long],
      other: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  /** Ascending `array<bigint>` of the ≤ k kept hashes (TreeSet iterates
    * in sorted order — the layout the SQL estimators index). */
  override def eval(buf: java.util.TreeSet[Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong()); i += 1 }
    buf
  }

  override def prettyName: String = "graft_kmv"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
}

object Kmv {

  /** 2^48 — the h48 hash range; the KMV estimator's normalization
    * constant. All estimator arithmetic stays in exact BIGINT. */
  val HashRange: Long = 1L << 48

  /** Aggregate Column: ascending bottom-k sketch (`array<bigint>`, ≤ k
    * elements) of the group's pre-hashed items. */
  def sketch(c: Column, k: Int): Column =
    ColumnBridge.column(
      KmvAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** Distinct-count estimate from a sketch column named `name` (SQL
    * fragment over named columns — exact integer arithmetic, `div` not
    * `/`, so Spark and DuckDB agree bit-for-bit): below k kept values
    * the sketch IS the distinct set (exact count); at k, the classic
    * KMV estimate (k−1)·2^48 div h_(k). */
  def estimateSql(name: String, k: Int): String =
    s"CASE WHEN size($name) < $k THEN CAST(size($name) AS BIGINT) " +
      s"ELSE ${(k - 1).toLong * HashRange} div element_at($name, $k) END"

  /** The identical estimator in DuckDB SQL over scalar columns `sz`
    * (kept count) and `hk` (k-th smallest hash). */
  def estimateDuck(sz: String, hk: String, k: Int): String =
    s"CASE WHEN $sz < $k THEN CAST($sz AS BIGINT) " +
      s"ELSE CAST(${(k - 1).toLong * HashRange} // $hk AS BIGINT) END"
}
