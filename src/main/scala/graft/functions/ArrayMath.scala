package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for array math on embedding columns.
  *
  * Why a custom Expression (SURVEY.md §4.3 extension point, exercised):
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate their
  * lambdas interpreted — they are excluded from whole-stage codegen — and on
  * O(pairs) similarity joins the per-pair lambda dispatch + intermediate
  * array dominated runtime (llm_dedup_embed: ~12.5 s at sf0.1). This
  * expression generates a tight primitive loop inside whole-stage codegen.
  *
  * Determinism: ascending-index sequential sum — bit-identical to the HOF
  * fold it replaces and to the DuckDB oracle's index-order `list_sum`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs are produced only by [[ArrayMath]] call sites and are always
  // array<double>; no ExpectsInputTypes (AbstractDataType is private[sql]).
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED, distinct-element string arrays via a
  * two-pointer merge — no per-row hash-set build, no intermediate array.
  *
  * Why: `array_intersect` constructs a hash set per invocation; on the
  * prefix-filtered Jaccard verify stage (4.2M candidate pairs at sf0.1)
  * that measured ~5 µs/row and, evaluated both in the join condition and
  * the projection, dominated the query (≈40 of 46 s). The merge loop is a
  * straight comparison scan inside whole-stage codegen.
  *
  * Precondition (callers': see [[graft.ops.Llm.dedupJaccardPrefix]]): both
  * arrays ascending-sorted with distinct non-null elements, as produced by
  * `sort_array(collect_set(_))`. Supports `array<string>` (UTF8String
  * binary order — sort_array's own order) and `array<bigint>` (numeric
  * order; the preferred form at scale — primitive `getLong` comparisons,
  * zero per-element allocation, vs a UTF8String wrapper per element). */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_size"

  // Registered on the SQL surface, so inputs are user-controlled: accept
  // exactly two equal-element-type arrays of string or bigint. Without
  // this, a mismatched pair (array<bigint>, array<string>) would dispatch
  // off the left side only and silently read garbage.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{ArrayType, StringType}
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && (l == StringType || l == LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<string> or two array<bigint> " +
          s"arguments, got $l and $r")
    }
  }

  private lazy val longElements: Boolean = left.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n1, n2) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var s = 0L
    while (i < n1 && j < n2) {
      val c =
        if (longElements) java.lang.Long.compare(x.getLong(i), y.getLong(j))
        else x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { s += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val cmp =
        if (longElements) s"Long.compare($x.getLong($i), $y.getLong($j))"
        else s"$x.getUTF8String($i).compareTo($y.getUTF8String($j))"
      s"""
         |final int $n1 = $x.numElements();
         |final int $n2 = $y.numElements();
         |int $i = 0; int $j = 0; long $s = 0L;
         |while ($i < $n1 && $j < $n2) {
         |  final int $c = $cmp;
         |  if ($c == 0) { $s++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** One kernel on the SQL surface: its name, argument count, expression
  * class and builder. */
final case class SqlFunction(name: String, arity: Int, cls: Class[_ <: Expression],
    build: Seq[Expression] => Expression) {
  /** [[build]], refusing a call with any other argument count. */
  def checkedBuild(exprs: Seq[Expression]): Expression = {
    require(exprs.length == arity,
      s"$name expects exactly $arity arguments, got ${exprs.length}")
    build(exprs)
  }
}

object ArrayMath {
  /** Every kernel on the SQL surface; both [[register]] and
    * [[graft.plans.GraftExtensions]] read this list. */
  val SqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_dot_product", 2, classOf[DotProduct],
      e => DotProduct(e(0), e(1))),
    SqlFunction("graft_sorted_intersect_size", 2, classOf[SortedIntersectSize],
      e => SortedIntersectSize(e(0), e(1))))

  /** Expose the kernels to the SQL surface of `spark`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlFunctions.foreach { f =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        f.name, f.checkedBuild, "built-in")
    }

  /** Column API: sequential-order dot product of two double arrays.
    * (Two alternatives measured at sf0.1 on llm_dedup_embed and rejected:
    * `zip_with`+`aggregate` HOF fold = interpreted lambdas, ~12.5 s; a
    * 64-term unrolled expression falls out of whole-stage codegen, ~51 s.) */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API: |a ∩ b| for sorted distinct string arrays (see
    * [[SortedIntersectSize]] preconditions). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectSize(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm via the same kernel (dot(a,a) then sqrt). */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** JVM twin of [[DotProduct]] for mapPartitions kernels — identical
    * ascending-index addition order, bit-identical results. */
  def dotJvm(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** JVM twin of Spark's `round(x, 6)` (BigDecimal HALF_UP, same as the
    * Round expression's double path). */
  def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
