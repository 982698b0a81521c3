package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Dot product of two `array<double>` columns as a NATIVE codegen'd
  * kernel — replaces the `aggregate(zip_with(a, b, *), 0.0, +)`
  * higher-order formulation, which is CodegenFallback in Spark 4 (each
  * pair allocates a zipped array and interprets a lambda per element).
  * This is the hot kernel of every similarity operator: the candidate
  * self-joins evaluate it once per PAIR, not per row.
  *
  * Summation is index order, identical to the fold-left of the
  * higher-order form and to DuckDB's `list_dot_product` on the quantized
  * (exact-integer) embeddings the engine uses — so gate hashes are
  * unchanged. Mismatched lengths dot the common prefix (zip_with
  * semantics would null-pad; embeddings are fixed-width so both agree —
  * kept strict-prefix to stay total). An array holding a null element
  * gives null, as the higher-order form's `x * y` did, so the kernel
  * never reads a null slot.
  */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (DotProductExpr.hasNull(x) || DotProductExpr.hasNull(y)) null
    else DotProductExpr.dot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if (graft.functions.DotProductExpr.hasNull($a) ||
         |    graft.functions.DotProductExpr.hasNull($b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.DotProductExpr.dot($a, $b);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {

  /** Whether `x` holds a null element — the expression's null test. */
  def hasNull(x: ArrayData): Boolean = {
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** The kernel, shared by the interpreted and the generated path and
    * the driver stages; callers pass arrays without null elements. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  def col(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
