package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EXIF/TIFF orientation + dimensions probe (m16) — the one common
  * image-container family m02/m03's magic-byte probes did not walk:
  * the TIFF IFD structure, both as a bare `.tif` head and embedded in
  * a JPEG APP1 `Exif\0\0` segment (how every camera JPEG carries its
  * orientation). Pure public-spec byte walk (TIFF 6.0 + JPEG marker
  * chain), no codec library:
  *
  *  - byte-order marker `II` (little) / `MM` (big) — EVERY multi-byte
  *    field thereafter honors it, including the left-justified value
  *    slot of a SHORT entry (the classic trap: a SHORT's 2 value
  *    bytes sit in the FIRST two bytes of the 4-byte slot in either
  *    order, not at a fixed end);
  *  - magic 42, IFD0 offset (LONG arithmetic — an adversarial 32-bit
  *    offset must not wrap an Int position);
  *  - 12-byte IFD entries walked in order: tag, type, count, value
  *    slot; unknown tags (e.g. the ExifIFDPointer 0x8769) are
  *    SKIPPED, not errors; ImageWidth 0x0100 (SHORT or LONG),
  *    ImageLength 0x0101, Orientation 0x0112 (SHORT 1..8).
  *
  * For a JPEG payload the probe walks the marker-segment chain
  * ([[ByteWalk.JpegSegments]], jpeg_dims' walk) to the first APP1 whose
  * body starts `Exif\0\0`, then parses the embedded TIFF stream
  * relative to ITS OWN origin (all TIFF offsets are relative to the
  * TIFF header, not the file). Ranged head probe: only declared
  * structures are touched, nothing is decoded.
  *
  * NULL — never a throw — on: bad byte-order marker/magic, IFD offset
  * or entry table out of bounds, an entry-count DoS (> 4096), width/
  * height missing, zero, or > 1e6, orientation outside 1..8, a JPEG
  * chain with no Exif APP1, or any truncation (m08 discipline).
  */
object ExifTiff {
  import ByteWalk._

  def exifMeta(payload: Column): Column =
    graftx.column(ExifMetaExpr(graftx.expr(payload)))

  val exifType: StructType = StructType(Seq(
    StructField("byte_order", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("orientation", IntegerType, nullable = false)))

  /** Parse a TIFF stream starting at `base` (offsets relative to it). */
  private def parseTiff(b: Array[Byte], base: Long, end: Long): InternalRow = {
    if (base + 8 > end) return null
    val be =
      if (u8(b, base) == 'M' && u8(b, base + 1) == 'M') true
      else if (u8(b, base) == 'I' && u8(b, base + 1) == 'I') false
      else return null
    if (u16(b, base + 2, be) != 42) return null
    val ifdOff = u32(b, base + 4, be)
    if (ifdOff < 8 || base + ifdOff + 2 > end) return null
    val p0 = base + ifdOff
    val count = u16(b, p0, be)
    if (count == 0 || count > 4096) return null
    if (p0 + 2 + 12L * count + 4 > end) return null
    var width = -1L; var height = -1L; var orient = -1
    var i = 0
    while (i < count) {
      val e = p0 + 2 + 12L * i
      val tag = u16(b, e, be)
      val typ = u16(b, e + 2, be)
      val cnt = u32(b, e + 4, be)
      // inline value slot: SHORT left-justified in byte order; LONG full
      if (cnt == 1) {
        if (tag == 0x0100) {
          if (typ == 3) width = u16(b, e + 8, be)
          else if (typ == 4) width = u32(b, e + 8, be)
        } else if (tag == 0x0101) {
          if (typ == 3) height = u16(b, e + 8, be)
          else if (typ == 4) height = u32(b, e + 8, be)
        } else if (tag == 0x0112 && typ == 3) {
          orient = u16(b, e + 8, be)
        }
      }
      i += 1
    }
    if (width <= 0 || width > 1000000L || height <= 0 || height > 1000000L)
      return null
    if (orient < 1 || orient > 8) return null
    InternalRow(UTF8String.fromString(if (be) "MM" else "II"),
      width.toInt, height.toInt, orient)
  }

  def metaImpl(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 8) return null
    if (u8(bytes, 0) != 0xff || u8(bytes, 1) != 0xd8) return parseTiff(bytes, 0L, bytes.length)
    // JPEG: walk the marker chain to the first whole Exif APP1
    val seg = new JpegSegments(bytes)
    while (seg.next()) {
      val p = seg.pos
      if (seg.marker == 0xe1 && seg.len >= 8 && p + 2 + seg.len <= bytes.length &&
        tag(bytes, p + 4, "Exif") && u8(bytes, p + 8) == 0 && u8(bytes, p + 9) == 0)
        return parseTiff(bytes, p + 10, p + 2 + seg.len)
    }
    null
  }
}

case class ExifMetaExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ExifTiff.exifType
  override def nullable: Boolean = true
  override def prettyName: String = "exif_meta"

  override protected def nullSafeEval(input: Any): Any =
    ExifTiff.metaImpl(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.ExifTiff.metaImpl($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): ExifMetaExpr =
    copy(child = newChild)
}
