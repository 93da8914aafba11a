package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math over
  * `array<double>`: single fused loop per row inside whole-stage codegen,
  * replacing interpreted `zip_with`/`aggregate` higher-order-function
  * chains (which evaluate a lambda per element per row — the dominant
  * cost in LSH-verify joins like v05, where each of ~n²/2^bits candidate
  * pairs evaluates a 64-dim cosine).
  *
  * Semantics identical to the HOF forms in
  * [[graft.functions.VectorFunctions]] (which delegate here): positions
  * are paired by index; inputs must be equal-length. */
object VectorOps {
  def dot(a: Column, b: Column): Column =
    graftx.column(DotProduct(graftx.expr(a), graftx.expr(b)))
  def squaredDistance(a: Column, b: Column): Column =
    graftx.column(SquaredDistance(graftx.expr(a), graftx.expr(b)))
  def cosineSimilarity(a: Column, b: Column): Column =
    graftx.column(CosineSimilarity(graftx.expr(a), graftx.expr(b)))
  def norm2(a: Column): Column =
    graftx.column(L2Norm(graftx.expr(a)))
  /** Index of the nearest centroid by squared Euclidean distance, in
    * [[Nearest]]'s one order: Double's total order on the distance
    * (NaN last), then the lower index. A non-empty matrix never yields
    * -1; an empty one is an error. */
  def nearestCentroid(a: Column, centroids: Array[Array[Double]]): Column =
    graftx.column(NearestCentroid(graftx.expr(a), centroids))
  /** Indices of the `nProbe` nearest centroids in [[Nearest]]'s one
    * order (Double's total order on the squared distance, NaN last,
    * then the lower index; never -1 for a non-empty matrix) — the
    * engine-side twin of the driver's probe sets, so a batched query
    * set derives its IVF probe sets in the plan instead of one driver
    * scan per query. */
  def nearestLists(a: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    graftx.column(NearestLists(graftx.expr(a), centroids, nProbe))
  /** All LSH band signatures in one fused pass (see [[LshBandSignatures]]).
    * `offsets` empty = classic (uncentered) hyperplane LSH. */
  def lshBandSignatures(a: Column, planes: Array[Array[Double]],
      offsets: Array[Double], nBits: Int): Column =
    graftx.column(LshBandSignatures(graftx.expr(a), planes, offsets, nBits))
  /** Max cosine similarity of the vector against every row of `mat`
    * in one fused pass (see [[MaxCosine]]). */
  def maxCosine(a: Column, mat: Array[Array[Double]]): Column =
    graftx.column(MaxCosine(graftx.expr(a), mat))
  /** ColBERT-style MaxSim: the flat vector is `tokenDim`-chunked into
    * token sub-vectors; score = Σ over query tokens of the max cosine
    * against any doc token, each cosine bit-portably rounded to 6 dp
    * (floor(c·10⁶ + 0.5)/10⁶) BEFORE the max so both engines take the
    * max over identical values (see [[MaxSim]]). */
  def maxSim(a: Column, queryTokens: Array[Array[Double]], tokenDim: Int): Column =
    graftx.column(MaxSim(graftx.expr(a), queryTokens, tokenDim))
  /** [[maxSim]] with the query tokens coming from a COLUMN (flat
    * token matrix, `tokenDim`-chunked like the doc side) instead of a
    * plan constant — the batched-serving form where each row carries
    * its own (doc, query) pair (see [[MaxSimPair]]). */
  def maxSimPair(doc: Column, query: Column, tokenDim: Int): Column =
    graftx.column(MaxSimPair(graftx.expr(doc), graftx.expr(query), tokenDim))
}

object VectorOpsImpl {
  /** Ragged inputs are an error, not a silent wrong answer: with
    * UnsafeArrayData a too-short side would be read out of bounds via
    * Platform memory access. Null array elements are likewise rejected
    * by construction — all kernels take `array<double>` containing no
    * nulls (cast/transform upstream turns null slots into errors or
    * drops them before the kernel). */
  private def checkLengths(a: ArrayData, b: ArrayData, fn: String): Unit =
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"$fn: array length mismatch (${a.numElements()} vs ${b.numElements()})")
  def dot(a: ArrayData, b: ArrayData): Double = {
    checkLengths(a, b, "vec_dot")
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  def squaredDistance(a: ArrayData, b: ArrayData): Double = {
    checkLengths(a, b, "vec_squared_distance")
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val t = a.getDouble(i) - b.getDouble(i); s += t * t; i += 1 }
    s
  }
  /** a·b / (‖a‖‖b‖) in one pass; NaN when either norm is 0 (same as the
    * HOF form's 0/0). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    checkLengths(a, b, "vec_cosine_similarity")
    val n = a.numElements()
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }
  /** Index of the nearest centroid in [[Nearest]]'s order — the same
    * winner as G-Stream's bmu1, so an IVF index built here is consistent
    * with the G-Stream assignment that trained it. */
  def nearestCentroid(a: ArrayData, cents: Array[Array[Double]]): Int = {
    if (cents.isEmpty)
      throw new IllegalArgumentException(
        "nearest_centroid: empty centroid matrix (untrained model?) — " +
          "every row would silently land in list -1")
    val v = a.toDoubleArray()
    checkCentroids(v, cents, "nearest_centroid")
    Nearest.nearest(v, 0, cents)
  }
  /** The first `nProbe` centroid indices in [[Nearest]]'s order — the
    * order of the driver-side probe sets ([[Nearest.nearestN]] on the
    * query), so engine-side probe sets are bit-identical to them. */
  def nearestLists(a: ArrayData, cents: Array[Array[Double]], nProbe: Int): ArrayData = {
    if (cents.isEmpty)
      throw new IllegalArgumentException(
        "nearest_lists: empty centroid matrix (untrained model?)")
    val v = a.toDoubleArray()
    checkCentroids(v, cents, "nearest_lists")
    new GenericArrayData(Nearest.nearestN(v, cents, nProbe))
  }
  private def checkCentroids(v: Array[Double], cents: Array[Array[Double]], fn: String): Unit =
    cents.foreach { c =>
      if (c.length != v.length)
        throw new IllegalArgumentException(
          s"$fn: vector length ${v.length} != centroid length ${c.length}")
    }
  /** All `planes.length / nBits` LSH band signatures in ONE pass over
    * the embedding: band b's bit i is sign(v · planes(b·nBits+i) −
    * offset(b·nBits+i)) — bit-identical to evaluating
    * [[graft.operators.Similarity.lshSignature]] per band (same
    * left-associated dot accumulation the inlined DuckDB oracles use),
    * but one expression eval instead of nBands×nBits separate `dot`
    * calls per row. `offsets` empty = uncentered (all-zero offsets). */
  def lshBands(a: ArrayData, planes: Array[Array[Double]],
      offsets: Array[Double], nBits: Int): ArrayData = {
    val v = a.toDoubleArray()
    val nBands = planes.length / nBits
    val out = new Array[Long](nBands)
    var idx = 0
    var b = 0
    while (b < nBands) {
      var sig = 0L
      var i = 0
      while (i < nBits) {
        val p = planes(idx)
        if (p.length != v.length)
          throw new IllegalArgumentException(
            s"lsh_bands: vector length ${v.length} != plane length ${p.length}")
        var d = 0.0
        var k = 0
        while (k < p.length) { d += v(k) * p(k); k += 1 }
        val off = if (offsets.length == 0) 0.0 else offsets(idx)
        if (d >= off) sig |= (1L << i)
        idx += 1
        i += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }
  def norm2(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    math.sqrt(s)
  }
  /** Max over the matrix rows of cosine(v, row) — the inner loop of
    * embedding-space decontamination (v's norm is hoisted out of the
    * row loop; per-row accumulation is the same index order as
    * [[cosine]], so a single-row matrix is bit-identical to it). NaN
    * rows (zero-norm v or row) never win the max unless ALL are NaN —
    * `>` is false for NaN, matching SQL `max()` ignoring NULLs. */
  /** [[MaxSim]]'s kernel: Σ_q max_t round6(cos(docToken_t, q)). The
    * doc vector length must be a multiple of tokenDim. Query token
    * norms could be hoisted, but |q| and token counts are single-digit
    * — clarity wins. */
  def maxSim(a: ArrayData, q: Array[Array[Double]], tokenDim: Int): Double = {
    val n = a.numElements()
    if (n % tokenDim != 0)
      throw new IllegalArgumentException(
        s"max_sim: embedding length $n is not a multiple of tokenDim $tokenDim")
    val nTok = n / tokenDim
    if (nTok == 0)
      throw new IllegalArgumentException("max_sim: empty embedding")
    var score = 0.0
    var j = 0
    while (j < q.length) {
      val qv = q(j)
      var best = Double.NegativeInfinity // every cosine is real (zero-norm → 0.0)
      var t = 0
      while (t < nTok) {
        val off = t * tokenDim
        var ab = 0.0; var aa = 0.0; var bb = 0.0
        var i = 0
        while (i < tokenDim) {
          val x = a.getDouble(off + i); val y = qv(i)
          ab += x * y; aa += x * x; bb += y * y
          i += 1
        }
        // zero-norm tokens score 0.0 by CONTRACT (not NaN): DuckDB's
        // max() ranks NaN above every double while Java's `>` never
        // lets NaN win — a NaN here would diverge the engines the
        // moment a fixture carries an all-zero chunk. The oracle
        // mirrors this with an explicit inner-product guard.
        // Then the bit-portable 6-dp round BEFORE the max
        // (math.round semantics; the scaled value is an exact integer,
        // /1e6 the same IEEE op both engines perform).
        val cos = if (aa == 0.0 || bb == 0.0) 0.0
          else ab / (math.sqrt(aa) * math.sqrt(bb))
        val c = math.floor(cos * 1e6 + 0.5) / 1e6
        if (c > best) best = c
        t += 1
      }
      score += best
      j += 1
    }
    score
  }

  /** [[maxSim]] with the query tokens read from a second ArrayData —
    * SAME accumulation order, zero-norm contract, and 6-dp pre-round,
    * so a pair evaluation is bit-identical to the constant-matrix
    * kernel over the same values (the batch == sequential-loop row
    * identity rests on this). */
  def maxSimPair(a: ArrayData, q: ArrayData, tokenDim: Int): Double = {
    val n = a.numElements()
    val m = q.numElements()
    if (n % tokenDim != 0 || m % tokenDim != 0)
      throw new IllegalArgumentException(
        s"max_sim_pair: lengths ($n, $m) must be multiples of tokenDim $tokenDim")
    val nTok = n / tokenDim
    val qTok = m / tokenDim
    if (nTok == 0 || qTok == 0)
      throw new IllegalArgumentException("max_sim_pair: empty embedding")
    var score = 0.0
    var j = 0
    while (j < qTok) {
      val qoff = j * tokenDim
      var best = Double.NegativeInfinity
      var t = 0
      while (t < nTok) {
        val off = t * tokenDim
        var ab = 0.0; var aa = 0.0; var bb = 0.0
        var i = 0
        while (i < tokenDim) {
          val x = a.getDouble(off + i); val y = q.getDouble(qoff + i)
          ab += x * y; aa += x * x; bb += y * y
          i += 1
        }
        val cos = if (aa == 0.0 || bb == 0.0) 0.0
          else ab / (math.sqrt(aa) * math.sqrt(bb))
        val c = math.floor(cos * 1e6 + 0.5) / 1e6
        if (c > best) best = c
        t += 1
      }
      score += best
      j += 1
    }
    score
  }

  def maxCosine(a: ArrayData, mat: Array[Array[Double]]): Double = {
    if (mat.isEmpty)
      throw new IllegalArgumentException(
        "max_cosine: empty comparison matrix (empty eval set?) — " +
          "every row would silently score -Infinity")
    val v = a.toDoubleArray()
    var vv = 0.0
    var i = 0
    while (i < v.length) { vv += v(i) * v(i); i += 1 }
    val nv = math.sqrt(vv)
    var best = Double.NaN
    var r = 0
    while (r < mat.length) {
      val c = mat(r)
      if (c.length != v.length)
        throw new IllegalArgumentException(
          s"max_cosine: vector length ${v.length} != matrix row length ${c.length}")
      var ab = 0.0
      var cc = 0.0
      var k = 0
      while (k < c.length) { ab += v(k) * c(k); cc += c(k) * c(k); k += 1 }
      val cos = ab / (nv * math.sqrt(cc))
      if (cos > best || java.lang.Double.isNaN(best)) best = cos
      r += 1
    }
    best
  }
}

sealed abstract class VectorBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  protected def implName: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.VectorOpsImpl.$implName($a, $b)")
}

case class DotProduct(left: Expression, right: Expression) extends VectorBinary {
  override def prettyName: String = "vec_dot"
  override protected def implName: String = "dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOpsImpl.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

case class SquaredDistance(left: Expression, right: Expression) extends VectorBinary {
  override def prettyName: String = "vec_squared_distance"
  override protected def implName: String = "squaredDistance"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOpsImpl.squaredDistance(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SquaredDistance =
    copy(left = l, right = r)
}

case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinary {
  override def prettyName: String = "vec_cosine_similarity"
  override protected def implName: String = "cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOpsImpl.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Nearest-centroid assignment with the centroid matrix carried as a
  * plan constant (codegen references it via `addReferenceObj` — no
  * per-row literal array traversal, no serde). The IVF scale path:
  * one codegen'd narrow pass tags every row with its inverted list. */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override protected def nullSafeEval(a: Any): Any =
    VectorOpsImpl.nearestCentroid(a.asInstanceOf[ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, a =>
      s"graft.expressions.VectorOpsImpl.nearestCentroid($a, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** [[NearestCentroid]] generalized to the top `nProbe` lists —
  * per-query IVF probe selection as a plan expression (centroid
  * matrix as a plan constant), so a batched query DataFrame derives
  * every probe set engine-side in one pass, in [[Nearest]]'s order. */
case class NearestLists(child: Expression, centroids: Array[Array[Double]],
    nProbe: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_lists"
  override protected def nullSafeEval(a: Any): Any =
    VectorOpsImpl.nearestLists(a.asInstanceOf[ArrayData], centroids, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, a =>
      s"graft.expressions.VectorOpsImpl.nearestLists($a, $ref, $nProbe)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestLists =
    copy(child = newChild)
}

/** Max cosine similarity against a fixed comparison matrix (e.g. an
  * eval set's embeddings) carried as a plan constant via
  * `addReferenceObj` — the embedding-space decontamination kernel: one
  * codegen'd narrow pass over the corpus, no join, no shuffle. */
case class MaxCosine(child: Expression, mat: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "max_cosine"
  override protected def nullSafeEval(a: Any): Any =
    VectorOpsImpl.maxCosine(a.asInstanceOf[ArrayData], mat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mat", mat, "double[][]")
    defineCodeGen(ctx, ev, a =>
      s"graft.expressions.VectorOpsImpl.maxCosine($a, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): MaxCosine =
    copy(child = newChild)
}

/** Late-interaction (ColBERT-style) MaxSim against a fixed query-token
  * matrix riding the plan as a reference object: the row's flat
  * embedding is chunked into tokenDim-wide token sub-vectors, and the
  * score is Σ over query tokens of the MAX cosine against any doc
  * token. One fused pass — per row this is |q|·(len/tokenDim) small
  * dots with no explode, no join, no shuffle: brute-force
  * late-interaction retrieval keeps v02's scan + TakeOrdered shape.
  * Each cosine is rounded bit-portably to 6 dp (floor(c·10⁶+0.5)/10⁶)
  * BEFORE the max so the DuckDB twin maxes over identical values; the
  * caller applies the final 4-dp nudge-round to the sum. A zero-norm
  * token (either side) scores cosine 0.0 by contract — NOT NaN, whose
  * ordering differs between DuckDB max() (NaN ranks above all doubles)
  * and a Java comparison loop. */
case class MaxSim(child: Expression, queryTokens: Array[Array[Double]],
    tokenDim: Int) extends UnaryExpression {
  require(tokenDim > 0, s"max_sim: tokenDim must be positive, got $tokenDim")
  require(queryTokens.nonEmpty && queryTokens.forall(_.length == tokenDim),
    s"max_sim: every query token must be $tokenDim-dimensional")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "max_sim"
  override protected def nullSafeEval(a: Any): Any =
    VectorOpsImpl.maxSim(a.asInstanceOf[ArrayData], queryTokens, tokenDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queryTokens", queryTokens, "double[][]")
    defineCodeGen(ctx, ev, a =>
      s"graft.expressions.VectorOpsImpl.maxSim($a, $ref, $tokenDim)")
  }
  override protected def withNewChildInternal(newChild: Expression): MaxSim =
    copy(child = newChild)
}

/** [[MaxSim]] with PER-ROW query tokens (a second `array<double>`
  * column, `tokenDim`-chunked like the doc side) — the batched-serving
  * form: a (doc, query) pair per row scores in one fused pass with the
  * identical arithmetic as the constant-matrix kernel, so the batched
  * plan is row-identical to a loop of single-query plans. */
case class MaxSimPair(left: Expression, right: Expression, tokenDim: Int)
    extends BinaryExpression {
  require(tokenDim > 0, s"max_sim_pair: tokenDim must be positive, got $tokenDim")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "max_sim_pair"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOpsImpl.maxSimPair(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], tokenDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.VectorOpsImpl.maxSimPair($a, $b, $tokenDim)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxSimPair =
    copy(left = l, right = r)
}

/** Fused multi-band LSH signature: `array<long>` of one signature per
  * band, computed in a single pass over the embedding with the plane
  * matrix and offsets riding the plan as reference objects (codegen via
  * `addReferenceObj`, like [[NearestCentroid]]). Replaces nBands×nBits
  * separate `dot` expressions per row — the dominant per-row cost in
  * the multi-band near-dup blocking stage at 12×14 defaults. */
case class LshBandSignatures(child: Expression, planes: Array[Array[Double]],
    offsets: Array[Double], nBits: Int) extends UnaryExpression {
  require(nBits > 0 && nBits <= 63, s"lsh_bands: nBits must be in [1, 63], got $nBits")
  require(planes.length > 0 && planes.length % nBits == 0,
    s"lsh_bands: plane count ${planes.length} must be a positive multiple of nBits=$nBits")
  require(offsets.length == 0 || offsets.length == planes.length,
    s"lsh_bands: offsets length ${offsets.length} != plane count ${planes.length}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_bands"
  override protected def nullSafeEval(a: Any): Any =
    VectorOpsImpl.lshBands(a.asInstanceOf[ArrayData], planes, offsets, nBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val oRef = ctx.addReferenceObj("offsets", offsets, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.expressions.VectorOpsImpl.lshBands($a, $pRef, $oRef, $nBits)")
  }
  override protected def withNewChildInternal(newChild: Expression): LshBandSignatures =
    copy(child = newChild)
}

case class L2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm2"
  override protected def nullSafeEval(a: Any): Any =
    VectorOpsImpl.norm2(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expressions.VectorOpsImpl.norm2($a)")
  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}
