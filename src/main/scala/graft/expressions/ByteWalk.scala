package graft.expressions

/** The one byte-walk library behind the binary kernels: the byte
  * readers, the three container walks (RIFF chunks, ISO-BMFF boxes,
  * JPEG marker segments), the RIFF-WAVE header reader and the
  * streaming PCM16 / IMA-ADPCM sample decoders. Each format or
  * validation rule lives here once, so two kernels reading the same
  * container cannot disagree on whether it is well formed.
  *
  * Every position is a LONG: a declared size near 2^31 (or a BE64
  * largesize near 2^63) must step a walk past the buffer and end it,
  * never wrap a position negative and index out of bounds — a
  * malformed blob yields NULL, never a throw that kills the task.
  * The readers themselves do no bounds checks; each walk checks a
  * range once and reads inside it.
  */
private[expressions] object ByteWalk {

  // ---- readers -------------------------------------------------------

  @inline def u8(b: Array[Byte], i: Long): Int = b(i.toInt) & 0xff

  @inline def le16(b: Array[Byte], i: Long): Int = u8(b, i) | (u8(b, i + 1) << 8)

  @inline def le32(b: Array[Byte], i: Long): Long =
    le16(b, i).toLong | (le16(b, i + 2).toLong << 16)

  @inline def be16(b: Array[Byte], i: Long): Int = (u8(b, i) << 8) | u8(b, i + 1)

  @inline def be32(b: Array[Byte], i: Long): Long =
    (be16(b, i).toLong << 16) | be16(b, i + 2).toLong

  @inline def be64(b: Array[Byte], i: Long): Long = (be32(b, i) << 32) | be32(b, i + 4)

  /** 16/32-bit reads in a byte order chosen at run time (TIFF's II/MM). */
  @inline def u16(b: Array[Byte], i: Long, bigEndian: Boolean): Int =
    if (bigEndian) be16(b, i) else le16(b, i)

  @inline def u32(b: Array[Byte], i: Long, bigEndian: Boolean): Long =
    if (bigEndian) be32(b, i) else le32(b, i)

  /** True when the four bytes at `i` spell the ASCII four-character code `t`. */
  @inline def tag(b: Array[Byte], i: Long, t: String): Boolean =
    u8(b, i) == t.charAt(0) && u8(b, i + 1) == t.charAt(1) &&
      u8(b, i + 2) == t.charAt(2) && u8(b, i + 3) == t.charAt(3)

  // ---- RIFF-WAVE -----------------------------------------------------

  /** The RIFF-WAVE header: the first `fmt `, `fact` and `data` chunk of
    * the walk. `fact` is -1 when absent or cut short; `dataBytes` is
    * the DECLARED data size, whose body may lie past the buffer (a head
    * probe still reads it). */
  final class Wav(val format: Int, val channels: Int, val rate: Int,
      val blockAlign: Int, val bits: Int, val spbExt: Int, val fact: Long,
      val dataOff: Long, val dataBytes: Long)

  /** Walk "RIFF" size "WAVE" then chunks of id(4) size(4 LE) body,
    * bodies padded to even length (an odd chunk without its pad byte
    * desynchronizes every later chunk), first chunk of each id winning.
    * Null without a data chunk header, or without a whole fmt chunk
    * (≥ 16 body bytes) declaring channels > 0, bits > 0 and a rate in
    * (0, Int.MaxValue]. */
  def wav(b: Array[Byte]): Wav = {
    if (b == null || b.length < 12 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    val n = b.length
    var fmt = -1L; var fact = -1L; var data = -1L
    var pos = 12L
    while (pos + 8 <= n && (fmt < 0 || fact < 0 || data < 0)) {
      if (fmt < 0 && tag(b, pos, "fmt ")) fmt = pos
      else if (fact < 0 && tag(b, pos, "fact")) fact = pos
      else if (data < 0 && tag(b, pos, "data")) data = pos
      val size = le32(b, pos + 4)
      pos += 8L + size + (size & 1L)
    }
    if (fmt < 0 || data < 0) return null
    val fmtSize = le32(b, fmt + 4)
    if (fmtSize < 16 || fmt + 8 + 16 > n) return null
    val channels = le16(b, fmt + 10)
    val rate = le32(b, fmt + 12)
    val bits = le16(b, fmt + 22)
    if (channels <= 0 || rate <= 0 || rate > Int.MaxValue || bits <= 0) return null
    // the cbSize ≥ 2 extension carries IMA's samples-per-block
    val spbExt =
      if (fmtSize >= 20 && fmt + 8 + 20 <= n && le16(b, fmt + 24) >= 2) le16(b, fmt + 26)
      else -1
    val factN = if (fact >= 0 && le32(b, fact + 4) >= 4 && fact + 12 <= n) le32(b, fact + 8) else -1L
    new Wav(le16(b, fmt + 8), channels, rate.toInt, le16(b, fmt + 20), bits,
      spbExt, factN, data + 8, le32(b, data + 4))
  }

  /** A streaming sample decoder: `count` samples, `next()` in order. */
  abstract class Samples(val count: Long) {
    def next(): Int
  }

  /** PCM16 little-endian samples (all channels interleaved). */
  final class Pcm16(b: Array[Byte], off: Long, count: Long) extends Samples(count) {
    private var p = off
    def next(): Int = { val s = le16(b, p).toShort.toInt; p += 2; s }
  }

  /** Mono IMA-ADPCM: each `blockAlign` block restarts from its 4-byte
    * header (predictor int16 LE, step index, reserved) and carries
    * (blockAlign − 4)·2 nibbles, low nibble first; decoding stops at
    * `count` (the fact samples), so pad nibbles are never decoded. */
  final class Ima(b: Array[Byte], off: Long, blockAlign: Int, count: Long)
      extends Samples(count) {
    private val spb = imaSpb(blockAlign)
    private var block = off - blockAlign
    private var r = spb
    private var valpred = 0
    private var index = 0
    def next(): Int = {
      if (r == spb) { block += blockAlign; r = 0 }
      if (r == 0) {
        valpred = le16(b, block).toShort.toInt
        index = u8(b, block + 2)
      } else {
        val byte = u8(b, block + 4 + ((r - 1) >> 1))
        val (v, i) = AudioAdpcm.step(valpred, index, if ((r & 1) == 1) byte & 0xf else byte >> 4)
        valpred = v; index = i
      }
      r += 1
      valpred
    }
  }

  /** Samples per IMA block: the header sample plus two per data byte. */
  @inline private def imaSpb(blockAlign: Int): Int = (blockAlign - 4) * 2 + 1

  /** The sample decoder for a WAV whose whole data body is present:
    * PCM16 (format 1, bits 16, frame-aligned body) at any channel count,
    * or mono IMA-ADPCM (format 0x11, bits 4) whose samples-per-block
    * extension, if present, equals (blockAlign − 4)·2 + 1, whose fact
    * count satisfies 0 < fact ≤ 2^31 and fills exactly the block-aligned
    * body, and whose every block header carries a step index ≤ 88.
    * Null for anything else. */
  def samples(b: Array[Byte], w: Wav): Samples = {
    if (w.dataOff + w.dataBytes > b.length) return null
    if (w.format == 1) {
      if (w.bits != 16 || w.dataBytes % (2L * w.channels) != 0) null
      else new Pcm16(b, w.dataOff, w.dataBytes / 2)
    } else if (w.format == 0x11) {
      if (w.bits != 4 || w.channels != 1) return null
      if (w.blockAlign < 8 || w.blockAlign > (1 << 20)) return null
      val spb = imaSpb(w.blockAlign)
      if (w.spbExt >= 0 && w.spbExt != spb) return null
      if (w.fact <= 0 || w.fact > (1L << 31)) return null
      if (w.dataBytes % w.blockAlign != 0) return null
      val nBlocks = w.dataBytes / w.blockAlign
      if ((w.fact + spb - 1) / spb != nBlocks) return null
      var k = 0L
      while (k < nBlocks) {
        if (u8(b, w.dataOff + k * w.blockAlign + 2) > 88) return null
        k += 1
      }
      new Ima(b, w.dataOff, w.blockAlign, w.fact)
    } else null
  }

  // ---- ISO-BMFF ------------------------------------------------------

  /** ISO-BMFF box walk over [start, end): each box is size(BE32) +
    * type(4CC); size 1 means a BE64 largesize follows, size 0 means to
    * `end`. `next()` steps to the following box header and returns
    * false at the end of the walk. A box whose declared size runs past
    * `end` is still reported (`fits` false) and ends the walk after it
    * — a head probe reads mdat's declared size without its body. A
    * header smaller than itself or a cut largesize ends the walk with
    * `malformed` set. The bound is `size > end - pos`: `pos + size`
    * wraps for a largesize near Long.MaxValue. */
  final class Boxes(b: Array[Byte], start: Long, end: Long) {
    var pos: Long = -1L
    var size: Long = 0L
    var body: Long = 0L
    var malformed = false
    private var at = start

    def next(): Boolean = {
      if (at + 8 > end) return false
      pos = at
      size = be32(b, pos)
      var hdr = 8L
      if (size == 1L) {
        if (pos + 16 > end) { malformed = true; return false }
        size = be64(b, pos + 8)
        hdr = 16L
      } else if (size == 0L) size = end - pos
      if (size < hdr) { malformed = true; return false }
      body = pos + hdr
      at = if (fits) pos + size else end
      true
    }

    def fits: Boolean = size <= end - pos
    def is(t: String): Boolean = tag(b, pos + 4, t)
  }

  /** [[box]]: the walk reached `end` without a box of that type. */
  val NoBox = -1L
  /** [[box]]: the walk stopped early on a malformed or overrunning
    * header, so whether the box exists is unknown. */
  val BadBox = -2L

  /** First whole box of type `t` in [start, end), packed as
    * (body start << 32) | box end; [[NoBox]] or [[BadBox]] otherwise. */
  def box(b: Array[Byte], start: Long, end: Long, t: String): Long = {
    val w = new Boxes(b, start, end)
    while (w.next()) {
      if (!w.fits) return BadBox
      if (w.is(t)) return (w.body << 32) | (w.pos + w.size)
    }
    if (w.malformed) BadBox else NoBox
  }

  @inline def bodyOf(box: Long): Long = box >>> 32
  @inline def endOf(box: Long): Long = box & 0xffffffffL

  // ---- JPEG ----------------------------------------------------------

  /** JPEG marker-segment walk behind the SOI: optional 0xFF fill bytes,
    * the marker byte, then — except for the standalone TEM, RSTn and
    * (nested) SOI — a 2-byte big-endian length covering itself.
    * `next()` stops at SOS (entropy-coded data follows) and EOI, at a
    * misaligned marker, and at a header cut by the end of the buffer.
    * `pos` is the marker's 0xFF; a segment's body may run past the
    * buffer, so a consumer reading it checks its own range. */
  final class JpegSegments(b: Array[Byte]) {
    private val n = b.length.toLong
    var pos: Long = 0L
    var marker = 0
    var len = 0
    private var at = 2L

    def next(): Boolean = {
      pos = at
      if (pos + 1 >= n || u8(b, pos) != 0xff) return false
      while (pos + 1 < n && u8(b, pos + 1) == 0xff) pos += 1
      if (pos + 1 >= n) return false
      marker = u8(b, pos + 1)
      if (marker == 0xd9 || marker == 0xda) return false
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) len = 0
      else {
        if (pos + 3 >= n) return false
        len = be16(b, pos + 2)
        if (len < 2) return false
      }
      at = pos + 2 + len
      true
    }
  }
}
