package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The `g` nearest coarse lists of a quantized vector as a NATIVE
  * codegen'd kernel — the IVF coarse-assignment hot loop of every
  * index build (the writers, the append, the in-plan searches and the
  * trained coarse quantizer) as one narrow projection.
  *
  * Why an Expression (the [[PqEncodeExpr]] argument, applied to the
  * OTHER index half): the relational assignment is
  * `crossJoin(broadcast(cents))` + a corpus-scale `groupBy(vec_id)`
  * argmax — N×nlists scored operator-rows, an N-row exchange for the
  * aggregate, and then an N-row JOIN back onto the encoded corpus to
  * assemble the (neighbor_id, list_id, codes) index relation: the
  * corpus is self-joined on vec_id purely to attach a value that is a
  * pure function of the row (guide §2.4 — remove shuffles outright).
  * The centroid table is metadata-sized BY CONSTRUCTION (nlists is
  * caller-fixed, or N/coarseMod with the same driver bound as the PQ
  * codebook), so the scalable plan is a driver-collected reference
  * object and a generated loop — no join, no aggregate, no shuffle;
  * the whole index relation becomes ONE narrow projection over the
  * corpus scan.
  *
  * The arithmetic lives once, in [[IvfTopListsExpr.topLists]]: the
  * interpreted path, the generated code (one call, the state passed as
  * reference objects) and every ADC search's driver probe stage
  * ([[graft.similarity.Similarity.probes]]) all call it.
  *
  * Arithmetic contract (gate-hash compatible with the relational form
  * and the DuckDB oracle — every operation mirrors the Column chain
  * `round(dot(v, cv) / (sqrt(dot(v, v)) * sqrt(cn)), 6)`):
  *  - dots are index-order sums over the common-prefix length, exactly
  *    [[DotProductExpr]];
  *  - cn per centroid is the full-length index-order self-dot,
  *    precomputed once (same doubles as the relational `cn` column);
  *  - rounding is Spark's `Round(_, 6)` double semantics verbatim:
  *    NaN/Infinity pass through, else
  *    `BigDecimal.valueOf(x).setScale(6, HALF_UP).doubleValue()`;
  *  - selection order is (cos desc, list id asc) under Spark's
  *    nan-safe double ordering (NaN greater than any non-NaN, NaN ==
  *    NaN) — identical to `max(struct(cos_sim, -list_id))` of
  *    [[graft.similarity.Similarity.ivfAssign]] and, for g > 1, to g
  *    rounds of that argmax, each excluding the lists already picked
  *    (successive selection ≡ top-g).
  *
  * @param cents nlists × dims quantized centroid vectors, ascending id
  * @param ids   nlists list ids, ascending
  * @param g     how many nearest lists to emit (≤ nlists emitted when
  *              g exceeds the list count — the iterative form's
  *              behavior when it runs out of unpicked lists)
  */
case class IvfTopListsExpr(
    child: Expression,
    cents: Array[Array[Double]],
    ids: Array[Long],
    g: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ivf_top_lists"

  // sqrt(cn) per centroid, cn the full-length index-order self-dot —
  // the same doubles the relational form computes per scored row
  @transient private lazy val sqrtCn: Array[Double] = {
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      var acc = 0.0
      val cv = cents(c)
      var d = 0
      while (d < cv.length) { acc += cv(d) * cv(d); d += 1 }
      out(c) = java.lang.Math.sqrt(acc)
      c += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(IvfTopListsExpr.topLists(
      input.asInstanceOf[ArrayData], cents, sqrtCn, ids, g))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    val idsRef = ctx.addReferenceObj("ivfIds", ids, "long[]")
    val sqRef = ctx.addReferenceObj("ivfSqrtCn", sqrtCn, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.IvfTopListsExpr.topLists(
         |    $v, $centsRef, $sqRef, $idsRef, $g));""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfTopListsExpr = copy(child = newChild)
}

object IvfTopListsExpr {
  def col(v: Column, cents: Array[Array[Double]], ids: Array[Long],
      g: Int): Column =
    GraftBridge.column(
      IvfTopListsExpr(GraftBridge.expression(v), cents, ids, g))

  /** The kernel, shared by the interpreted and the generated path and
    * by the searches' driver probe stage: the ids of the `g`
    * nearest of `cents` to `v` under the arithmetic contract above.
    * `sqrtCn(c)` is sqrt of centroid c's self-dot, `ids` ascending. */
  def topLists(v: ArrayData, cents: Array[Array[Double]],
      sqrtCn: Array[Double], ids: Array[Long], g: Int): Array[Long] = {
    val nv = v.numElements()
    var vn = 0.0
    var d = 0
    while (d < nv) { val x = v.getDouble(d); vn += x * x; d += 1 }
    val sqn = java.lang.Math.sqrt(vn)
    val n = cents.length
    val cos = new Array[Double](n)
    var c = 0
    while (c < n) {
      val cv = cents(c)
      val lim = java.lang.Math.min(nv, cv.length)
      var dot = 0.0
      var i = 0
      while (i < lim) { dot += v.getDouble(i) * cv(i); i += 1 }
      val div = sqn * sqrtCn(c)
      // ANSI division-by-zero contract, mirrored: the relational form's
      // Divide throws on a zero-magnitude vector or centroid
      if (div == 0.0) throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] zero-magnitude vector or centroid in IVF " +
          "coarse assignment (the relational form fails the same way)")
      cos(c) = round6(dot / div)
      c += 1
    }
    val k = java.lang.Math.min(g, n)
    val out = new Array[Long](k)
    val taken = new Array[Boolean](n)
    var r = 0
    while (r < k) {
      // strict greater-than keeps the earlier (smaller) id on ties
      var bi = -1
      var ci = 0
      while (ci < n) {
        if (!taken(ci) && (bi < 0 || nanSafeGt(cos(ci), cos(bi)))) bi = ci
        ci += 1
      }
      taken(bi) = true
      out(r) = ids(bi)
      r += 1
    }
    out
  }

  /** Spark `Round(_, 6)` on a double, verbatim (RoundBase semantics:
    * NaN/Infinity pass through; scala BigDecimal(double) is
    * java.math.BigDecimal.valueOf). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's nan-safe double ordering as a strict greater-than (NaN
    * greater than any non-NaN, NaN == NaN). */
  def nanSafeGt(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(b)
    else if (java.lang.Double.isNaN(b)) false
    else a > b
}
