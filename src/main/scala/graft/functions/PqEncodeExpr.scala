package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** PQ code assignment as a NATIVE codegen'd kernel (M70's encode hot
  * loop): for each of m subspaces, the id of the codebook entry nearest
  * to the row's quantized subvector.
  *
  * Why an Expression: the relational form (explode m subspaces × join
  * the broadcast codebook × `min_by` re-aggregate) evaluates N·m·ksub
  * CANDIDATE ROWS — at 1M vectors × 8 × 245 that is 1.96G operator-rows
  * and ~100 s of row overhead for ~8 GFLOP of actual arithmetic. The
  * codebook is metadata-sized BY CONSTRUCTION (ksub = N/centroidMod,
  * chosen by the caller), so the scalable plan is one NARROW projection
  * with the codebook as a driver-collected reference object and the
  * argmin as one kernel call per row — no join, no aggregate, no
  * shuffle; encode throughput scales with cores.
  *
  * The arithmetic lives once, in [[PqEncodeExpr.encode]]: the
  * interpreted path and the generated code (one call, the state passed
  * as reference objects) both call it.
  *
  * Arithmetic contract (gate-hash compatible with the relational form
  * and the DuckDB oracle): d² = vn − 2·dot + cn on quantized
  * integer-valued doubles, every sum in index order; cn is precomputed
  * per (sub, centroid) the same way; ties broken by ascending
  * centroid_id (strict `<` while iterating ids ascending — exactly
  * `min_by(centroid_id, (d2, centroid_id))`).
  *
  * @param cents  ksub × dims quantized centroid vectors, ascending id
  * @param ids    ksub centroid ids, ascending
  */
case class PqEncodeExpr(
    child: Expression,
    cents: Array[Array[Double]],
    ids: Array[Long],
    m: Int,
    subDim: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  // cn[s*ksub + c] = Σ_d cents(c)(s·subDim+d)², index order
  @transient private lazy val cn: Array[Double] = {
    val out = new Array[Double](m * cents.length)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < cents.length) {
        var acc = 0.0
        var d = 0
        while (d < subDim) {
          val x = cents(c)(s * subDim + d)
          acc += x * x
          d += 1
        }
        out(s * cents.length + c) = acc
        c += 1
      }
      s += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PqEncodeExpr.encode(
      input.asInstanceOf[ArrayData], cents, ids, cn, m, subDim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("pqCents", cents, "double[][]")
    val idsRef = ctx.addReferenceObj("pqIds", ids, "long[]")
    val cnRef = ctx.addReferenceObj("pqCn", cn, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqEncodeExpr.encode(
         |    $v, $centsRef, $idsRef, $cnRef, $m, $subDim));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqEncodeExpr {
  def col(v: Column, cents: Array[Array[Double]], ids: Array[Long],
      m: Int, subDim: Int): Column =
    GraftBridge.column(
      PqEncodeExpr(GraftBridge.expression(v), cents, ids, m, subDim))

  /** The kernel, shared by the interpreted and the generated path: per
    * subspace s, the id of the nearest of `cents` to `v`'s s-th
    * subvector under the arithmetic contract above. `cn(s·ksub + c)` is
    * centroid c's subspace-s self-dot, `ids` ascending. */
  def encode(v: ArrayData, cents: Array[Array[Double]], ids: Array[Long],
      cn: Array[Double], m: Int, subDim: Int): Array[Long] = {
    val ksub = cents.length
    val codes = new Array[Long](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var vn = 0.0
      var d = 0
      while (d < subDim) {
        val x = v.getDouble(off + d)
        vn += x * x
        d += 1
      }
      var best = Double.PositiveInfinity
      var bestId = 0L
      var c = 0
      while (c < ksub) {
        val cc = cents(c)
        var dot = 0.0
        d = 0
        while (d < subDim) {
          dot += v.getDouble(off + d) * cc(off + d)
          d += 1
        }
        val d2 = vn - 2.0 * dot + cn(s * ksub + c)
        if (d2 < best) { best = d2; bestId = ids(c) }
        c += 1
      }
      codes(s) = bestId
      s += 1
    }
    codes
  }
}
