package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** IMA/DVI ADPCM decode (m13) — the COMPRESSED-audio rung above m10's
  * raw PCM16: 4-bit nibbles expand to int16 through the public-spec
  * state machine (89-entry step-size table, per-nibble index walk,
  * predictor clamp), pure integer arithmetic, no codec library. Format
  * tag 0x0011 in a RIFF/WAVE container; each `blockAlign`-sized block
  * restarts from its own 4-byte header (predictor int16 LE, step index
  * u8, reserved), carries (blockAlign−4)·2 nibbles low-nibble-first,
  * and the `fact` chunk's sample count says where decoding stops
  * (trailing pad nibbles in the last block are never decoded).
  *
  * Scope: MONO (the channel-interleave of multi-channel IMA blocks is
  * a layout concern, not a decode one). NULL — never a throw — on
  * anything malformed: wrong tags, non-0x11 format, bits ≠ 4, a
  * samples-per-block extension disagreeing with blockAlign, a data
  * body that is truncated or not block-aligned, or a fact count the
  * blocks cannot hold ([[ByteWalk.samples]] holds these rules, shared
  * with m15).
  *
  * Features (exact integers, oracle-solid — the DuckDB oracle replays
  * the same state machine as a recursive CTE): sample_rate, n_samples,
  * peak_abs, zero_cross (strict sign flips across the concatenated
  * blocks), sum_sq, and the position-weighted checksum
  * Σ s(k)·(1 + k mod 97) that catches block-order or off-by-one
  * decode errors a plain sum would miss.
  */
object AudioAdpcm {

  def adpcmStats(payload: Column): Column =
    graftx.column(AdpcmStatsExpr(graftx.expr(payload)))

  val adpcmType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("peak_abs", LongType, nullable = false),
    StructField("zero_cross", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** The IMA step-size table (89 entries, public spec). */
  val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Index adjustment per nibble (depends on the magnitude bits only). */
  val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** ONE state transition: (valpred, index) + nibble → (valpred',
    * index'). Exactly the IMA reference arithmetic — vpdiff built from
    * the CURRENT step by bit shifts, predictor clamped to int16, index
    * clamped to the table. */
  def step(valpred: Int, index: Int, nibble: Int): (Int, Int) = {
    val st = StepTable(index)
    var vpdiff = st >> 3
    if ((nibble & 4) != 0) vpdiff += st
    if ((nibble & 2) != 0) vpdiff += st >> 1
    if ((nibble & 1) != 0) vpdiff += st >> 2
    var v = if ((nibble & 8) != 0) valpred - vpdiff else valpred + vpdiff
    if (v > 32767) v = 32767 else if (v < -32768) v = -32768
    var i = index + IndexTable(nibble & 7)
    if (i < 0) i = 0 else if (i > 88) i = 88
    (v, i)
  }

  def statsImpl(bytes: Array[Byte]): InternalRow = {
    val w = ByteWalk.wav(bytes)
    val ima = if (w == null || w.format != 0x11) null else ByteWalk.samples(bytes, w)
    if (ima == null) return null
    var peak = 0L; var zeroCross = 0L; var sumSq = 0L; var chk = 0L
    var prev = 0
    var k = 0L
    while (k < ima.count) {
      val s = ima.next()
      val a = math.abs(s.toLong)
      if (a > peak) peak = a
      sumSq += s.toLong * s.toLong
      if (k >= 1 && prev.toLong * s.toLong < 0L) zeroCross += 1
      chk += s.toLong * (1L + k % 97)
      prev = s
      k += 1
    }
    InternalRow(w.rate, ima.count, peak, zeroCross, sumSq, chk)
  }
}

case class AdpcmStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = AudioAdpcm.adpcmType
  override def nullable: Boolean = true
  override def prettyName: String = "adpcm_stats"

  override protected def nullSafeEval(input: Any): Any =
    AudioAdpcm.statsImpl(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.AudioAdpcm.statsImpl($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): AdpcmStatsExpr =
    copy(child = newChild)
}
