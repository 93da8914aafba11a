package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** Product-quantization kernels (see [[graft.operators.Pq]] for the
  * operator and the scale rationale). Both ride whole-stage codegen
  * with the codebook / lookup table carried as plan constants via
  * `addReferenceObj` — the [[NearestCentroid]] pattern, fused across
  * all `m` subspaces so encoding is ONE expression eval per row, not
  * `m` slice+argmin chains. */
object PqOps {
  /** `array<int>` of `codebook.length` codes: per subspace, the index
    * of the nearest codeword by squared Euclidean distance over that
    * subspace's slice, in [[Nearest]]'s one order (Double's total
    * order on the distance, NaN last, then the lower index — the
    * winner [[VectorOpsImpl.nearestCentroid]] picks). A subspace with
    * any codeword never yields -1. */
  def pqEncode(a: Column, codebook: Array[Array[Array[Double]]]): Column =
    graftx.column(PqEncode(graftx.expr(a), codebook))

  /** Asymmetric-distance (ADC) score of a code array against a
    * query-specific lookup table: `Σ_j lut(j)(code_j)`, accumulated in
    * subspace order (the DuckDB oracle's `d0 + d1 + … + d7` chain —
    * identical left-associated IEEE adds). */
  def pqAdc(codes: Column, lut: Array[Array[Double]]): Column =
    graftx.column(PqAdc(graftx.expr(codes), lut))

  /** ADC with the query vector as a COLUMN instead of a driver-built
    * LUT constant — the batched-serving form: each subspace's distance
    * is computed against the selected codeword directly (same inner
    * t-loop as [[graft.operators.Pq.adcLut]]'s entries, then the same
    * subspace-order accumulation as [[pqAdc]] — bit-identical IEEE
    * adds), so a whole query SET scores codes in one plan with the
    * codebook riding as a plan constant. `m·sub` flops per row versus
    * the LUT's `m` lookups — the price of not having a per-query
    * constant, amortized by batching the queries themselves. */
  def pqAdcDirect(codes: Column, qvec: Column,
      codebook: Array[Array[Array[Double]]]): Column =
    graftx.column(PqAdcDirect(graftx.expr(codes), graftx.expr(qvec), codebook))
}

object PqOpsImpl {
  def pqEncode(a: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val v = a.toDoubleArray()
    val m = cb.length
    val sub = cb(0)(0).length
    if (v.length != m * sub)
      throw new IllegalArgumentException(
        s"pq_encode: vector length ${v.length} != $m subspaces x $sub dims")
    cb.foreach(_.foreach { w =>
      if (w.length != sub)
        throw new IllegalArgumentException(
          s"pq_encode: codeword length ${w.length} != subspace width $sub")
    })
    new GenericArrayData(Array.tabulate(m)(j => Nearest.nearest(v, j * sub, cb(j))))
  }

  def pqAdc(codes: ArrayData, lut: Array[Array[Double]]): Double = {
    if (codes.numElements() != lut.length)
      throw new IllegalArgumentException(
        s"pq_adc: ${codes.numElements()} codes != ${lut.length} lut subspaces")
    var s = 0.0
    var j = 0
    while (j < lut.length) { s += lut(j)(codes.getInt(j)); j += 1 }
    s
  }

  /** LUT-free ADC: per subspace, [[Nearest.dist2]] of the query's slice
    * to the SELECTED codeword ([[graft.operators.Pq.adcLut]] takes it
    * for every codeword, here only for code_j), accumulated in
    * subspace order — bit-identical to `adcLut` + [[pqAdc]]. */
  def pqAdcDirect(codes: ArrayData, q: ArrayData,
      cb: Array[Array[Array[Double]]]): Double = {
    val m = cb.length
    val sub = cb(0)(0).length
    if (codes.numElements() != m)
      throw new IllegalArgumentException(
        s"pq_adc_direct: ${codes.numElements()} codes != $m subspaces")
    if (q.numElements() != m * sub)
      throw new IllegalArgumentException(
        s"pq_adc_direct: query length ${q.numElements()} != $m x $sub")
    val v = q.toDoubleArray()
    var s = 0.0
    var j = 0
    while (j < m) {
      val code = codes.getInt(j)
      val words = cb(j)
      if (code < 0 || code >= words.length)
        throw new IllegalArgumentException(
          s"pq_adc_direct: code $code out of range for subspace $j (k=${words.length})")
      s += Nearest.dist2(v, j * sub, words(code))
      j += 1
    }
    s
  }
}

case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(a: Any): Any =
    PqOpsImpl.pqEncode(a.asInstanceOf[ArrayData], codebook)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook, "double[][][]")
    defineCodeGen(ctx, ev, a => s"graft.expressions.PqOpsImpl.pqEncode($a, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

case class PqAdc(child: Expression, lut: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override protected def nullSafeEval(a: Any): Any =
    PqOpsImpl.pqAdc(a.asInstanceOf[ArrayData], lut)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lut", lut, "double[][]")
    defineCodeGen(ctx, ev, a => s"graft.expressions.PqOpsImpl.pqAdc($a, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)
}

case class PqAdcDirect(left: Expression, right: Expression,
    codebook: Array[Array[Array[Double]]]) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_direct"
  override protected def nullSafeEval(codes: Any, q: Any): Any =
    PqOpsImpl.pqAdcDirect(codes.asInstanceOf[ArrayData], q.asInstanceOf[ArrayData], codebook)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook, "double[][][]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.PqOpsImpl.pqAdcDirect($a, $b, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcDirect =
    copy(left = l, right = r)
}
