package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** Adversarial blobs for the binary kernels: well-formed fixtures of
  * every container they read, mutated with a fixed seed by byte flips,
  * 8-byte `7f ff…` / `ff ff…` stamps (a declared size or offset near
  * 2^63 or 2^64) and truncations. A malformed blob must yield NULL,
  * never an exception that kills the task. */
object ByteWalkFuzz {

  /** GPR1 (row-major) and GPC1 (column-major, XOR 0xA5) rasters of one
    * 18×16 picture — the containers gray_dhash64 decodes. */
  private def rasters(d: Int): Seq[Array[Byte]] = {
    val (w, h) = (18, 16)
    def px(x: Int, y: Int) = (x * 13 + y * 7 + d) & 0xff
    def head(t: String) = t.getBytes ++ Array(0, w, 0, h).map(_.toByte)
    Seq(
      head("GPR1") ++ Array.tabulate(w * h)(i => px(i % w, i / w).toByte),
      head("GPC1") ++ Array.tabulate(w * h)(j => (px(j / h, j % h) ^ 0xa5).toByte))
  }

  val seeds: Seq[Array[Byte]] = (1 to 6).flatMap { i =>
    val d = i * 8L + 2 // m15's fixture residue
    Seq(Multimodal.adpcmEncode(d), Multimodal.m15WavPcm(d), Multimodal.m15WavAdpcm(d),
      Multimodal.encodeMp4(d + i, remux = i % 2 == 0), Multimodal.pngEncode(d),
      // m16's well-formed residues: bare TIFF at 8 mod 32, JPEG at 12 mod 32
      Multimodal.m16Tiff(64L * i + 8), Multimodal.m16JpegExif(64L * i + 12),
      Multimodal.encodePngTextured(d)) ++ rasters(i)
  }

  /** `n` mutated seeds, deterministic in `seed`: each takes one to
    * three mutations in a row, so a truncation can leave a stamp or a
    * flipped byte at the very end of the buffer. */
  def blobs(n: Int, seed: Long = 20261018L): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    def mutate(b: Array[Byte]): Array[Byte] =
      if (b.isEmpty) b
      else rnd.nextInt(3) match {
        case 0 =>
          (0 until 1 + rnd.nextInt(4)).foreach(_ => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
          b
        case 1 =>
          val at = rnd.nextInt(b.length)
          val first = if (rnd.nextBoolean()) 0x7f else 0xff
          (0 until 8).foreach(k => if (at + k < b.length) b(at + k) = (if (k == 0) first else 0xff).toByte)
          b
        case _ => b.take(rnd.nextInt(b.length))
      }
    Seq.fill(n) {
      var b = seeds(rnd.nextInt(seeds.length)).clone()
      (0 to rnd.nextInt(3)).foreach(_ => b = mutate(b))
      b
    }
  }

  /** Every binary kernel's row-level entry, by its SQL name. */
  val kernels: Seq[(String, Array[Byte] => Any)] = Seq(
    "png_dims" -> ImageHeaderImpl.pngDims,
    "jpeg_dims" -> ImageHeaderImpl.jpegDims,
    "gif_dims" -> ImageHeaderImpl.gifDims,
    "wav_meta" -> ImageHeaderImpl.wavMeta,
    "mp4_meta" -> ImageHeaderImpl.mp4Meta,
    "pcm_stats" -> AudioPcm.statsImpl,
    "adpcm_stats" -> AudioAdpcm.statsImpl,
    "audio_fp64" -> AudioFingerprint.audioFp64,
    "exif_meta" -> ExifTiff.metaImpl,
    "mp4_samples" -> Mp4SampleTableImpl.samples,
    "png_stats" -> PngPixels.statsImpl,
    "gray_dhash64" -> PixelHashImpl.grayDhash64)
}

class ByteWalkFuzzSpec extends AnyFunSuite {
  import ByteWalkFuzz._

  test("20,000 mutated blobs: every binary kernel returns a value or NULL, never a throw") {
    val throws = for {
      (b, i) <- blobs(20000).zipWithIndex
      (name, k) <- kernels
      t <- scala.util.Try(k(b)).failed.toOption
    } yield s"$name on blob $i: $t"
    assert(throws.isEmpty, s"${throws.size} throws, first: ${throws.take(5).mkString("; ")}")
  }
}
