package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** PCM16 sample-level audio features (m10) — the tier ABOVE header
  * metadata (m06/wavMeta): the RIFF chunk walk reaches the `data`
  * chunk, the int16 little-endian samples are DECODED, and per-clip
  * features come off the raw waveform in one pass. This is the real
  * byte plumbing a 100 TB audio pipeline runs before any model —
  * deterministic, no codec involved (PCM is uncompressed), so nothing
  * here is a stub.
  *
  * Returns NULL (never throws) for anything malformed: wrong magic,
  * non-PCM audioFormat, bits ≠ 16, truncated data body, or a sample
  * count that breaks frame alignment. The header walk and the decoder
  * are [[ByteWalk]]'s.
  *
  * Features (exact integers, oracle-solid):
  *  - n_samples: total int16 samples (frames × channels)
  *  - peak_abs: max |s|
  *  - zero_cross: #(k ≥ 1 with s(k−1)·s(k) < 0) — strict sign flips
  *  - sum_sq: Σ s² (exact in LONG: ≤ 2³⁰ per sample, overflow needs
  *    ~2³³ samples — an 8-TB single clip; real clips never come close)
  * plus channels / sample_rate from the fmt chunk so duration and RMS
  * derive in the query.
  */
object AudioPcm {

  def pcmStats(payload: Column): Column =
    graftx.column(PcmStatsExpr(graftx.expr(payload)))

  val pcmType: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("peak_abs", LongType, nullable = false),
    StructField("zero_cross", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false)))

  def statsImpl(bytes: Array[Byte]): InternalRow = {
    val w = ByteWalk.wav(bytes)
    // the FULL sample body must be present (this feature tier decodes
    // the waveform — unlike m06's head probe, a truncated body is NULL)
    val pcm = if (w == null || w.format != 1) null else ByteWalk.samples(bytes, w)
    if (pcm == null) return null
    var peak = 0L
    var zeroCross = 0L
    var sumSq = 0L
    var prev = 0
    var k = 0L
    while (k < pcm.count) {
      val s = pcm.next()
      val a = math.abs(s.toLong)
      if (a > peak) peak = a
      sumSq += s.toLong * s.toLong
      if (k >= 1 && prev.toLong * s.toLong < 0L) zeroCross += 1
      prev = s
      k += 1
    }
    InternalRow(w.channels, w.rate, pcm.count, peak, zeroCross, sumSq)
  }
}

case class PcmStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = AudioPcm.pcmType
  override def nullable: Boolean = true
  override def prettyName: String = "pcm_stats"

  override protected def nullSafeEval(input: Any): Any =
    AudioPcm.statsImpl(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.AudioPcm.statsImpl($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): PcmStatsExpr =
    copy(child = newChild)
}
