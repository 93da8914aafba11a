package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** REAL image-header decoding with pure byte arithmetic — no codec
  * library needed: PNG dimensions live in the IHDR chunk at a fixed
  * offset behind the signature, and JPEG dimensions live in the first
  * SOF segment, reachable by the standard marker-segment walk. This
  * replaces the arithmetic stub for the two formats whose headers are
  * parseable without decompression (m03); formats that genuinely need
  * a codec (RIFF media payloads etc.) keep the documented stub
  * ([[graft.operators.Multimodal.decodeImageStub]]).
  *
  * Both parsers return `struct<width int, height int, channels int>`,
  * NULL for anything that is not a well-formed header — truncation,
  * wrong magic, a JPEG whose entropy data starts before any SOF. A
  * malformed blob in a 100 TB crawl must yield a NULL to filter on,
  * never an exception that kills the stage (ANSI-mode discipline).
  */
object ImageHeader {

  /** `png_dims(payload)`: the IHDR width/height/channels, or NULL. */
  def pngDims(payload: Column): Column =
    graftx.column(PngDimsExpr(graftx.expr(payload)))

  /** `jpeg_dims(payload)`: frame dimensions from the first SOF
    * segment (baseline C0 through lossless CF, minus the non-frame
    * C4/C8/CC), or NULL. */
  def jpegDims(payload: Column): Column =
    graftx.column(JpegDimsExpr(graftx.expr(payload)))

  /** `gif_dims(payload)`: the logical-screen dimensions from a
    * GIF87a/GIF89a header — LITTLE-endian u16s, unlike PNG/JPEG's
    * big-endian fields — or NULL. */
  def gifDims(payload: Column): Column =
    graftx.column(GifDimsExpr(graftx.expr(payload)))

  /** `wav_meta(payload)`: channels / sample rate / bits / data bytes
    * from a RIFF-WAVE header via the chunk walk (fmt may sit behind
    * other chunks; chunk bodies pad to even lengths), or NULL. */
  def wavMeta(payload: Column): Column =
    graftx.column(WavMetaExpr(graftx.expr(payload)))

  val wavType: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("data_bytes", LongType, nullable = false)))

  /** `mp4_meta(payload)`: movie timescale/duration (mvhd), track count
    * (trak children of moov) and mdat payload size from an ISO-BMFF
    * box walk — header-probe semantics: mdat's size comes from its
    * declared size field, so a ranged read of the file HEAD suffices
    * (the 100 TB-crawl probe never fetches the media body). NULL for
    * anything not starting with a well-formed ftyp. */
  def mp4Meta(payload: Column): Column =
    graftx.column(Mp4MetaExpr(graftx.expr(payload)))

  val mp4Type: StructType = StructType(Seq(
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("mdat_bytes", LongType, nullable = false)))

  val dimsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))
}

object ImageHeaderImpl {
  import ByteWalk._

  private def row(w: Long, h: Long, channels: Int): InternalRow =
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue || channels <= 0) null
    else InternalRow(w.toInt, h.toInt, channels)

  /** PNG: 8-byte signature, then the IHDR chunk (the spec REQUIRES it
    * first): length(4)=13, type(4)="IHDR", width(4) height(4) BE,
    * bit depth(1), color type(1). Channels derive from the color type
    * (0 gray=1, 2 RGB=3, 3 palette=1, 4 gray+alpha=2, 6 RGBA=4). */
  def pngDims(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 26) return null
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { if (u8(bytes, i) != sig(i)) return null; i += 1 }
    if (be32(bytes, 8) != 13L) return null // IHDR data length is fixed
    if (!tag(bytes, 12, "IHDR")) return null
    val w = be32(bytes, 16)
    val h = be32(bytes, 20)
    val colorType = u8(bytes, 25)
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return null
    }
    row(w, h, channels)
  }

  /** True for the SOF markers that carry frame dimensions: C0–CF minus
    * C4 (DHT), C8 (JPG extension), CC (DAC) — the JPEG spec's frame
    * set. */
  @inline private def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  /** JPEG: SOI, then the marker-segment walk ([[ByteWalk.JpegSegments]],
    * which stops dead at SOS — every well-formed frame header precedes
    * the entropy-coded data — and at EOI). The first SOF segment
    * carries precision(1), height(2), width(2), component count(1) =
    * channels. */
  def jpegDims(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 4) return null
    if (u8(bytes, 0) != 0xff || u8(bytes, 1) != 0xd8) return null // SOI
    val seg = new JpegSegments(bytes)
    while (seg.next()) {
      if (isSof(seg.marker)) {
        if (seg.pos + 9 >= bytes.length) return null // truncated SOF
        return row(be16(bytes, seg.pos + 7), be16(bytes, seg.pos + 5), u8(bytes, seg.pos + 9))
      }
    }
    null
  }

  /** GIF: 6-byte version signature ("GIF87a" / "GIF89a"), then the
    * logical screen descriptor — width(2) height(2) LITTLE-endian,
    * packed(1), background(1), aspect(1). GIF pixels are always
    * palette-indexed, so channels = 1 (the PNG color-type-3
    * convention). */
  def gifDims(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 13) return null
    if (!tag(bytes, 0, "GIF8") || (u8(bytes, 4) != '7' && u8(bytes, 4) != '9') ||
        u8(bytes, 5) != 'a') return null
    row(le16(bytes, 6), le16(bytes, 8), 1)
  }

  /** RIFF-WAVE: (channels, sample_rate, bits_per_sample, data_bytes)
    * from [[ByteWalk.wav]]'s chunk walk — "data"'s size is the declared
    * PCM byte count, its body may be absent (head probe). A truncated
    * or desynchronized header yields NULL, never a crash. */
  def wavMeta(bytes: Array[Byte]): InternalRow = {
    val w = wav(bytes)
    if (w == null) null else InternalRow(w.channels, w.rate, w.bits, w.dataBytes)
  }

  /** ISO-BMFF (MP4): top-level [[ByteWalk.Boxes]] walk; the file must
    * open with `ftyp`. `moov` must be whole and is parsed for its
    * `mvhd` (version-0 layout: timescale/duration at fixed offsets
    * behind the version word) and its `trak` child count; `mdat`'s
    * payload size comes from the DECLARED size (minus its own header),
    * so the walk works on a head-only ranged read — the media body is
    * never needed. Anything malformed yields NULL, never a throw. */
  def mp4Meta(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 16) return null
    if (!tag(bytes, 4, "ftyp")) return null
    var timescale = -1L; var duration = -1L; var nTracks = 0; var mdatBytes = -1L
    val top = new Boxes(bytes, 0L, bytes.length)
    while (top.next()) {
      if (top.is("moov")) {
        if (!top.fits) return null // moov is metadata, tiny: whole or NULL
        val kids = new Boxes(bytes, top.body, top.pos + top.size)
        while (kids.next()) {
          if (!kids.fits) return null
          val body = kids.body
          val end = kids.pos + kids.size
          if (kids.is("mvhd")) {
            // version 0: ver/flags(4) ctime(4) mtime(4) timescale(4)
            // duration(4); version 1 widens the times to 64 bits
            if (body + 4 > end) return null
            val ver = u8(bytes, body)
            if (ver == 0) {
              if (body + 20 > end) return null
              timescale = be32(bytes, body + 12)
              duration = be32(bytes, body + 16)
            } else if (ver == 1) {
              if (body + 32 > end) return null
              timescale = be32(bytes, body + 20)
              duration = be64(bytes, body + 24)
            } else return null
          } else if (kids.is("trak")) {
            nTracks += 1
          }
        }
        if (kids.malformed) return null
      } else if (top.is("mdat")) {
        mdatBytes = top.size - (top.body - top.pos) // declared size: head-probe semantics
      }
    }
    if (top.malformed) return null
    if (timescale <= 0 || timescale > Int.MaxValue || duration < 0 || mdatBytes < 0)
      null
    else InternalRow(timescale.toInt, duration, nTracks, mdatBytes)
  }
}

abstract class DimsExpr extends UnaryExpression {
  override def dataType: DataType = ImageHeader.dimsType
  override def nullable: Boolean = true
  protected def implName: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.ImageHeaderImpl.$implName($c);
      ${ev.isNull} = (${ev.value} == null);
    """)
}

case class PngDimsExpr(child: Expression) extends DimsExpr {
  override def prettyName: String = "png_dims"
  override protected def implName: String = "pngDims"
  override protected def nullSafeEval(input: Any): Any =
    ImageHeaderImpl.pngDims(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): PngDimsExpr =
    copy(child = newChild)
}

case class JpegDimsExpr(child: Expression) extends DimsExpr {
  override def prettyName: String = "jpeg_dims"
  override protected def implName: String = "jpegDims"
  override protected def nullSafeEval(input: Any): Any =
    ImageHeaderImpl.jpegDims(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): JpegDimsExpr =
    copy(child = newChild)
}

case class GifDimsExpr(child: Expression) extends DimsExpr {
  override def prettyName: String = "gif_dims"
  override protected def implName: String = "gifDims"
  override protected def nullSafeEval(input: Any): Any =
    ImageHeaderImpl.gifDims(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): GifDimsExpr =
    copy(child = newChild)
}

case class Mp4MetaExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ImageHeader.mp4Type
  override def nullable: Boolean = true
  override def prettyName: String = "mp4_meta"
  override protected def nullSafeEval(input: Any): Any =
    ImageHeaderImpl.mp4Meta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.ImageHeaderImpl.mp4Meta($c);
      ${ev.isNull} = (${ev.value} == null);
    """)
  override protected def withNewChildInternal(newChild: Expression): Mp4MetaExpr =
    copy(child = newChild)
}

case class WavMetaExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ImageHeader.wavType
  override def nullable: Boolean = true
  override def prettyName: String = "wav_meta"
  override protected def nullSafeEval(input: Any): Any =
    ImageHeaderImpl.wavMeta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.ImageHeaderImpl.wavMeta($c);
      ${ev.isNull} = (${ev.value} == null);
    """)
  override protected def withNewChildInternal(newChild: Expression): WavMetaExpr =
    copy(child = newChild)
}
