package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** Perceptual AUDIO fingerprint over DECODED SAMPLES (m15) — the audio
  * twin of the image dedup ladder's dHash rung (m09/m12): a PCM↔ADPCM
  * re-encode of the same recording shares no payload bytes (m05's
  * byte sketches place the pair at random cosine), while its decoded
  * waveform is perceptually identical, so a robust fingerprint over
  * decoded band energies lands the pair at hamming 0.
  *
  * The scheme is Haitsma–Kalker's (ISMIR 2002, "A Highly Robust Audio
  * Fingerprint System") sub-fingerprint shape on integer arithmetic:
  * frame the stream, measure per-band energies, and emit one bit per
  * (band, frame) from the SIGN of the energy difference's temporal
  * delta — bit(f,m) = [ (E(f,m)−E(f,m+1)) − (E(f−1,m)−E(f−1,m+1)) > 0 ].
  * Here: 8 frames × 9 bands × 16 samples = 1152 samples, 64 bits.
  * Two robustness choices make the bits survive lossy re-encodes
  * DETERMINISTICALLY rather than probabilistically:
  *
  *  - settle-skip: each band's energy sums only its LAST 8 samples
  *    (`k mod 16 ≥ 8`), so an ADPCM encoder gets half a band to slew
  *    its step size after a level transition before anything is
  *    measured;
  *  - log-quantized energies: the comparisons run on
  *    q = [E ≥ 2^21] rather than raw E. IMA-ADPCM reconstruction
  *    error is far under the 4× energy headroom either side of the
  *    threshold for band levels a factor 16 apart in energy, so q —
  *    and hence every fingerprint bit — is EQUAL between the exact
  *    and the re-encoded stream (AudioFingerprintSpec pins fp(pcm) ==
  *    fp(adpcm) exactly across the fixture class space).
  *
  * Bands are time-domain sample blocks, not FFT bins — the published
  * scheme's filterbank is an implementation choice; the sign-of-delta
  * bit structure (what makes it a fingerprint) is kept, and exact
  * integer arithmetic is what makes both engines replay it bit-for-bit
  * (the DuckDB oracle re-derives the ADPCM arm through the same fused
  * encoder/decoder state machine as a recursive CTE).
  *
  * Container handling: RIFF/WAVE, MONO, either fmt 1 (PCM16, the m10
  * contract) or fmt 0x11 (IMA-ADPCM 4-bit, the m13 contract — per-
  * block header predictor/index restart, low-nibble-first, fact-count
  * stop). Streams shorter than 1152 decoded samples, any malformed
  * header, or any non-mono/unknown format yield NULL — never a throw.
  * The header rules and decoders are [[ByteWalk]]'s, shared with m10
  * and m13, so the three agree on what a valid stream is.
  */
object AudioFingerprint {

  /** `audio_fp64(payload)` → the 64-bit Haitsma–Kalker-style
    * fingerprint of the first 1152 decoded samples; NULL on anything
    * not a well-formed mono PCM16/IMA-ADPCM WAV long enough. */
  def audioFp64(payload: Column): Column =
    graftx.column(AudioFp64(graftx.expr(payload)))

  /** Samples required (8 frames × 9 bands × 16 samples). */
  val NSamples: Int = 1152

  /** Energy threshold between the two designed band levels: the 8
    * summed samples give 8·256² = 2^19 (quiet) vs 8·1024² = 2^23
    * (loud); 2^21 is the geometric midpoint — 4× headroom each side,
    * far above IMA-ADPCM reconstruction error. */
  val EnergyThreshold: Long = 1L << 21

  /** Decode the first [[NSamples]] samples of a mono PCM16 or
    * IMA-ADPCM WAV; null if malformed or too short. */
  private[expressions] def decodeSamples(bytes: Array[Byte]): Array[Int] = {
    val w = ByteWalk.wav(bytes)
    val s = if (w == null || w.channels != 1) null else ByteWalk.samples(bytes, w)
    if (s == null || s.count < NSamples) return null
    Array.fill(NSamples)(s.next())
  }

  /** The fingerprint over decoded samples: settle-skip band energies
    * → threshold quantization → Haitsma–Kalker sign bits. */
  private[expressions] def fpOf(s: Array[Int]): Long = {
    val q = new Array[Int](72)
    var gb = 0
    while (gb < 72) {
      var e = 0L
      var j = 8
      while (j < 16) {
        val v = s(gb * 16 + j).toLong
        e += v * v
        j += 1
      }
      q(gb) = if (e >= EnergyThreshold) 1 else 0
      gb += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) {
      val f = i / 8
      val m = i % 8
      val d = q(f * 9 + m) - q(f * 9 + m + 1)
      val dPrev = if (f == 0) 0 else q((f - 1) * 9 + m) - q((f - 1) * 9 + m + 1)
      if (d - dPrev > 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  /** Boxed entry for the Catalyst layer: Long fingerprint or null. */
  def audioFp64(b: Array[Byte]): java.lang.Long = {
    val s = decodeSamples(b)
    if (s == null) null else java.lang.Long.valueOf(fpOf(s))
  }
}

case class AudioFp64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "audio_fp64"

  override protected def nullSafeEval(input: Any): Any =
    AudioFingerprint.audioFp64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("fp")
      s"""
        java.lang.Long $boxed = graft.expressions.AudioFingerprint.audioFp64($c);
        ${ev.isNull} = ($boxed == null);
        if (!${ev.isNull}) ${ev.value} = $boxed.longValue();
      """
    })

  override protected def withNewChildInternal(newChild: Expression): AudioFp64 =
    copy(child = newChild)
}
