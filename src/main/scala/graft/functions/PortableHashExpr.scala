package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's portable rolling hash:
  * base-31 Horner over the string's chars, mod 1e9+7 — bit-identical to
  * the declarative `aggregate(split(s,''), …)` fold in
  * [[graft.text.TextAnalysis.portableHash]] (and to the DuckDB
  * `list_reduce` oracle) for BMP strings, but with real `doGenCode`: the
  * builtin higher-order-function fold is CodegenFallback (interpreted,
  * one closure call per char); this stays inside whole-stage codegen as
  * one static call to [[PortableHashExpr.hash]], the loop `nullSafeEval`
  * runs too.
  *
  * This is the preference-order case (b) from the build brief: a scalar
  * kernel the builtin function set can only express interpretively,
  * promoted to a codegen'd `Expression`.
  */
case class PortableHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hash"

  override def nullSafeEval(input: Any): Any =
    PortableHashExpr.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PortableHashExpr.hash($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): PortableHashExpr =
    copy(child = newChild)
}

object PortableHashExpr {

  val Prime = 1000000007L

  /** The kernel, shared by the interpreted and the generated path. */
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31L + s.charAt(i)) % Prime
      i += 1
    }
    h
  }

  /** Column API entry point. */
  def portableHash(c: Column): Column =
    GraftBridge.column(PortableHashExpr(GraftBridge.expression(c)))
}
