package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** Perceptual image hashing over DECODED PIXELS — the rung m05's
  * byte-level sketches cannot reach: a re-encoded duplicate image
  * (same picture, different codec/byte stream) shares no payload
  * bytes, so byte 4-gram features miss it entirely, while its decoded
  * grayscale grid is identical (or nearly) and its difference hash
  * lands within a couple of bits.
  *
  * dHash (difference hash, the DCT-free member of the pHash family):
  * block-average the grayscale grid to 9 columns × 8 rows, then emit
  * one bit per adjacent-column comparison (bit r·8+c = mean[r][c] >
  * mean[r][c+1]) — 64 bits, brightness- and scale-invariant (any
  * global monotone brightness shift that doesn't cross the comparison
  * preserves every bit; resizing to the fixed 9×8 grid absorbs
  * resolution changes).
  *
  * Container-decode discipline: the real image codecs aren't in this
  * environment (the builder-prompt stub rule), so the DECODE step
  * understands the repo's deterministic raw-raster containers —
  *   `GPR1` w:be16 h:be16 row-major grayscale bytes, and
  *   `GPC1` w:be16 h:be16 COLUMN-major bytes each XOR 0xA5
  * (two genuinely different byte streams for the same picture — the
  * re-encode m05 misses by construction). Everything downstream of the
  * decode — the resize, the hash, the banding, the verify — is the
  * real production shape; swapping a libjpeg decode in changes only
  * the pixel-extraction lines. Hostile input (bad magic, impossible
  * dims, truncated body) yields NULL, never a throw — the m01/m08
  * probe discipline. Position arithmetic in LONG (wavMeta precedent).
  */
object PixelHash {

  /** `gray_dhash64(payload)` → the 64-bit difference hash of the
    * decoded grayscale raster; NULL on anything not a well-formed
    * GPR1/GPC1 container. */
  def grayDhash64(payload: Column): Column =
    graftx.column(GrayDhash64(graftx.expr(payload)))
}

object PixelHashImpl {
  import ByteWalk._

  /** Decode a GPR1/GPC1 container to a row-major grayscale grid.
    * Returns null (not an exception) on malformed input. */
  private[expressions] def decodeGray(b: Array[Byte]): (Int, Int, Array[Int]) = {
    if (b == null || b.length < 8) return null
    val rowMajor = tag(b, 0, "GPR1")
    val colMajor = tag(b, 0, "GPC1")
    if (!rowMajor && !colMajor) return null
    val w = be16(b, 4)
    val h = be16(b, 6)
    if (w < 9 || h < 8 || w > 4096 || h > 4096) return null
    if (b.length.toLong != 8L + w.toLong * h) return null
    val px = new Array[Int](w * h)
    if (rowMajor) {
      var i = 0
      while (i < w * h) { px(i) = u8(b, 8 + i); i += 1 }
    } else {
      // column-major, each byte XOR 0xA5 → de-interleave + unmask
      var j = 0
      while (j < w * h) {
        val x = j / h
        val y = j % h
        px(y * w + x) = u8(b, 8 + j) ^ 0xa5
        j += 1
      }
    }
    (w, h, px)
  }

  /** 9×8 block means → 64 adjacent-column comparison bits. Exact
    * integer arithmetic: block (r,c) spans x ∈ [c·w/9, (c+1)·w/9),
    * y ∈ [r·h/8, (r+1)·h/8) (never empty for w ≥ 9, h ≥ 8); mean is
    * the floor-div sum — bit-portable to the SQL oracle. */
  private[expressions] def dhashOf(w: Int, h: Int, px: Array[Int]): Long = {
    val means = new Array[Long](72)
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8
      val y1 = (r + 1) * h / 8
      var c = 0
      while (c < 9) {
        val x0 = c.toLong * w / 9
        val x1 = (c + 1).toLong * w / 9
        var sum = 0L
        var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0.toInt
          while (x < x1) { sum += px(y * w + x); n += 1; x += 1 }
          y += 1
        }
        means(r * 9 + c) = sum / n
        c += 1
      }
      r += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      val rr = i / 8
      val cc = i % 8
      if (means(rr * 9 + cc) > means(rr * 9 + cc + 1)) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Boxed entry for the Catalyst layer: Long dHash or null. */
  def grayDhash64(b: Array[Byte]): java.lang.Long = {
    val d = decodeGray(b)
    if (d == null) null else java.lang.Long.valueOf(dhashOf(d._1, d._2, d._3))
  }
}

case class GrayDhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "gray_dhash64"

  override protected def nullSafeEval(input: Any): Any =
    PixelHashImpl.grayDhash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("dh")
      s"""
        java.lang.Long $boxed = graft.expressions.PixelHashImpl.grayDhash64($c);
        ${ev.isNull} = ($boxed == null);
        if (!${ev.isNull}) ${ev.value} = $boxed.longValue();
      """
    })

  override protected def withNewChildInternal(newChild: Expression): GrayDhash64 =
    copy(child = newChild)
}
