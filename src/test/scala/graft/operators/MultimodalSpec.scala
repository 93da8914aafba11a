package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSupport

/** Binary-column multimodal plumbing: format sniffing from real magic
  * bytes, metadata, frame sampling byte-math, and the feature-extraction
  * stub's contract. */
class MultimodalSpec extends AnyFunSuite with SparkTestSupport {

  private def bin(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray

  private lazy val payloads = {
    import spark.implicits._
    Seq(
      (1L, bin(0xFF, 0xD8, 0xFF, 0xE0) ++ "jpegdata".getBytes),
      (2L, bin(0x89, 0x50, 0x4E, 0x47) ++ "pngdata".getBytes),
      (3L, bin(0x52, 0x49, 0x46, 0x46) ++ "wavdata".getBytes),
      (4L, "plain text bytes".getBytes.map(identity)),
      (5L, Array.empty[Byte])
    ).toDF("id", "payload")
  }

  test("sniffFormat detects standard magics, bin otherwise") {
    val fmts = payloads.select(col("id"), Multimodal.sniffFormat(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fmts(1L) === "jpeg")
    assert(fmts(2L) === "png")
    assert(fmts(3L) === "riff")
    assert(fmts(4L) === "bin")
  }

  test("binaryMeta: byte lengths and deterministic fingerprints") {
    val meta = Multimodal.binaryMeta(payloads, col("payload"), col("id"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("byte_len"), r.getAs[String]("fingerprint"))).toMap
    assert(meta(1L)._1 === 12)
    assert(meta(5L)._1 === 0)
    assert(meta(1L)._2.length === 32)
    // fingerprint is md5 over the uppercase hex rendering
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("FFD8FFE0" .getBytes ++ "jpegdata".getBytes.flatMap(b => "%02X".format(b).getBytes))
      .map("%02x".format(_)).mkString
    assert(meta(1L)._2 === expected)
  }

  test("frameSample emits every `every`-th frame with correct offsets and bytes") {
    import spark.implicits._
    // 300 bytes → frames of 64 at offsets 0,64,128,192,256; every 2nd → 0,128,256
    val big = Seq((9L, Array.tabulate(300)(i => (i % 251).toByte))).toDF("id", "payload")
    val frames = Multimodal.frameSample(big, col("payload"), col("id"), frameBytes = 64, every = 2)
      .orderBy("frame_idx").collect()
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq === Seq(0, 2, 4))
    val f0 = frames(0).getAs[Array[Byte]]("frame")
    assert(f0.length === 64 && f0(0) === 0.toByte && f0(63) === 63.toByte)
    // last frame truncated: 300 - 256 = 44 bytes
    assert(frames(2).getAs[Array[Byte]]("frame").length === 44)
    // empty payloads emit no frames
    assert(Multimodal.frameSample(payloads.filter(col("id") === 5L),
      col("payload"), col("id")).count() === 0)
  }

  test("extractFeatures: dim-wide, in [-1,1], NULL for empty, deterministic") {
    val rows = payloads.select(col("id"),
        Multimodal.extractFeatures(col("payload"), dim = 8).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[Seq[Double]]("f"))).toMap
    assert(rows(5L).isEmpty)
    assert(rows(1L).get.length === 8)
    assert(rows(1L).get.forall(v => v >= -1.0 && v <= 1.0))
    // identical payloads → identical features; distinct → distinct
    assert(rows(1L) !== rows(2L))
  }

  test("png_dims: real IHDR parsing — color-type channels, malformed -> NULL") {
    import spark.implicits._
    def png(w: Int, h: Int, colorType: Int): Array[Byte] =
      bin(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, // signature
        0, 0, 0, 13) ++ "IHDR".getBytes ++                 // chunk length + type
        bin(w >>> 24, (w >>> 16) & 0xff, (w >>> 8) & 0xff, w & 0xff,
          h >>> 24, (h >>> 16) & 0xff, (h >>> 8) & 0xff, h & 0xff,
          8, colorType, 0, 0, 0,                           // depth, color, c/f/i
          0x1F, 0x15, 0xC4, 0x89)                          // CRC (unchecked)
    val rows = Seq(
      (1L, png(1, 1, 6)),        // the canonical 1x1 RGBA
      (2L, png(640, 480, 2)),    // RGB
      (3L, png(10000, 3, 0)),    // grayscale, wide
      (4L, png(7, 9, 4)),        // gray+alpha
      (5L, png(7, 9, 3)),        // palette -> 1 channel
      (6L, png(0, 5, 2)),        // zero width: malformed
      (7L, png(5, 5, 9)),        // invalid color type
      (8L, bin(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13) ++
        "IDAT".getBytes ++ Array.fill[Byte](17)(0)), // wrong first chunk
      (9L, png(5, 5, 2).take(20)), // truncated mid-IHDR
      (10L, "not a png at all".getBytes.map(identity)))
      .toDF("id", "payload")
    val got = rows.select(col("id"),
        graft.expressions.ImageHeader.pngDims(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(s => (s.getInt(0), s.getInt(1), s.getInt(2)))).toMap
    assert(got(1L) === Some((1, 1, 4)))
    assert(got(2L) === Some((640, 480, 3)))
    assert(got(3L) === Some((10000, 3, 1)))
    assert(got(4L) === Some((7, 9, 2)))
    assert(got(5L) === Some((7, 9, 1)))
    for (bad <- Seq(6L, 7L, 8L, 9L, 10L)) assert(got(bad).isEmpty, s"id=$bad must be NULL")
  }

  test("jpeg_dims: real segment walk — DHT skipped, fill bytes, SOF2, SOS/EOI stop") {
    import spark.implicits._
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      bin(0xFF, marker, (payload.length + 2) >>> 8, (payload.length + 2) & 0xff) ++ payload
    def sof(marker: Int, w: Int, h: Int, ncomp: Int): Array[Byte] =
      seg(marker, bin(8, h >>> 8, h & 0xff, w >>> 8, w & 0xff, ncomp) ++
        Array.fill[Byte](3 * ncomp)(0))
    val soi = bin(0xFF, 0xD8)
    val app0 = seg(0xE0, "JFIF".getBytes ++ bin(0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val dht = seg(0xC4, bin(1, 2, 3)) // C4 sits in C0-CF but is NOT a frame
    val com = seg(0xFE, "comment".getBytes)
    val fill = bin(0xFF, 0xFF, 0xFF) // fill bytes pad before a marker
    val rows = Seq(
      (1L, soi ++ app0 ++ dht ++ com ++ sof(0xC0, 640, 480, 3) ++ "body".getBytes),
      (2L, soi ++ app0 ++ fill.dropRight(1) ++ sof(0xC2, 1920, 1080, 3)), // progressive
      (3L, soi ++ sof(0xC1, 8, 8, 1)),                  // extended sequential, gray
      (4L, soi ++ app0 ++ seg(0xDA, bin(1, 0, 0)) ++ sof(0xC0, 9, 9, 3)), // SOS first
      (5L, soi ++ app0 ++ bin(0xFF, 0xD9)),             // EOI, no frame
      (6L, soi ++ app0.take(5)),                        // truncated segment
      (7L, bin(0xFF, 0xC0, 0, 0)),                      // no SOI
      (8L, soi ++ fill ++ sof(0xC0, 33, 44, 4)))        // pure fill run then SOF
      .toDF("id", "payload")
    val got = rows.select(col("id"),
        graft.expressions.ImageHeader.jpegDims(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(s => (s.getInt(0), s.getInt(1), s.getInt(2)))).toMap
    assert(got(1L) === Some((640, 480, 3)))
    assert(got(2L) === Some((1920, 1080, 3)))
    assert(got(3L) === Some((8, 8, 1)))
    for (bad <- Seq(4L, 5L, 6L, 7L)) assert(got(bad).isEmpty, s"id=$bad must be NULL")
    assert(got(8L) === Some((33, 44, 4)))
  }

  test("gif_dims: little-endian screen descriptor; 87a and 89a; malformed -> NULL") {
    import spark.implicits._
    def gif(ver: Char, w: Int, h: Int): Array[Byte] =
      s"GIF8${ver}a".getBytes ++
        bin(w & 0xff, w >>> 8, h & 0xff, h >>> 8, 0, 0, 0)
    val rows = Seq(
      (1L, gif('9', 640, 480)),
      (2L, gif('7', 1, 1)),
      (3L, gif('9', 300, 2)),          // LE: 300 = 0x2C 0x01 — a BE parse reads 11265
      (4L, gif('9', 0, 5)),            // zero width: malformed
      (5L, gif('9', 5, 5).take(9)),    // truncated descriptor
      (6L, "GIF90a".getBytes ++ bin(1, 0, 1, 0, 0, 0, 0)), // unknown version
      (7L, "not gif".getBytes.map(identity)))
      .toDF("id", "payload")
    val got = rows.select(col("id"),
        graft.expressions.ImageHeader.gifDims(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(s => (s.getInt(0), s.getInt(1), s.getInt(2)))).toMap
    assert(got(1L) === Some((640, 480, 1)))
    assert(got(2L) === Some((1, 1, 1)))
    assert(got(3L) === Some((300, 2, 1)))
    for (bad <- Seq(4L, 5L, 6L, 7L)) assert(got(bad).isEmpty, s"id=$bad must be NULL")
  }

  test("wav_meta: chunk walk with even padding; malformed/desync -> NULL") {
    import spark.implicits._
    def le16b(v: Int) = bin(v & 0xff, v >>> 8)
    def le32b(v: Int) = bin(v & 0xff, (v >>> 8) & 0xff, (v >>> 16) & 0xff, v >>> 24)
    def chunk(id: String, body: Array[Byte], pad: Boolean = true): Array[Byte] =
      id.getBytes ++ le32b(body.length) ++ body ++
        (if (pad && body.length % 2 == 1) bin(0) else Array.empty[Byte])
    def fmt(ch: Int, rate: Int, bits: Int): Array[Byte] =
      chunk("fmt ", le16b(1) ++ le16b(ch) ++ le32b(rate) ++ le32b(rate * ch * bits / 8) ++
        le16b(ch * bits / 8) ++ le16b(bits))
    def wav(chunks: Array[Byte]*): Array[Byte] =
      "RIFF".getBytes ++ le32b(4 + chunks.map(_.length).sum) ++ "WAVE".getBytes ++
        chunks.flatten
    val rows = Seq(
      (1L, wav(fmt(2, 44100, 16), chunk("data", Array.fill[Byte](20)(7)))),
      // odd-sized LIST before fmt: padding keeps the walk aligned
      (2L, wav(chunk("LIST", Array.fill[Byte](5)(1)), fmt(1, 8000, 8),
        chunk("data", Array.fill[Byte](9)(0)))),
      // data chunk declared but body truncated — size still reported
      (3L, wav(fmt(1, 16000, 24)) ++ "data".getBytes ++ le32b(500)),
      // odd LIST WITHOUT its pad byte: desync → fmt never parses → NULL
      (4L, wav(chunk("LIST", Array.fill[Byte](5)(1), pad = false), fmt(1, 8000, 8),
        chunk("data", Array.fill[Byte](4)(0)))),
      (5L, wav(chunk("data", Array.fill[Byte](8)(0)))), // no fmt → NULL
      (6L, "RIFX".getBytes ++ le32b(4) ++ "WAVE".getBytes), // wrong magic
      (7L, wav(fmt(0, 8000, 8), chunk("data", Array.empty[Byte]))), // zero channels
      // adversarial: a near-2^31 declared chunk size must end the walk
      // as NULL, never wrap pos negative and crash the task
      (8L, wav("JUNK".getBytes ++ le32b(Int.MaxValue - 7) ++ fmt(1, 8000, 8).take(0))),
      // and a full-u32 declared size (reads as ~4.29e9 unsigned)
      (9L, wav("JUNK".getBytes ++ bin(0xFF, 0xFF, 0xFF, 0xFF)))
    ).toDF("id", "payload")
    val got = rows.select(col("id"),
        graft.expressions.ImageHeader.wavMeta(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getInt(0), s.getInt(1), s.getInt(2), s.getLong(3)))).toMap
    assert(got(1L) === Some((2, 44100, 16, 20L)))
    assert(got(2L) === Some((1, 8000, 8, 9L)))
    assert(got(3L) === Some((1, 16000, 24, 500L)))
    for (bad <- Seq(4L, 5L, 6L, 7L, 8L, 9L)) assert(got(bad).isEmpty, s"id=$bad must be NULL")
  }

  test("mp4_meta: box walk — largesize, v0/v1 mvhd, head-probe mdat; malformed -> NULL") {
    import spark.implicits._
    def be32b(v: Long) = bin(((v >>> 24) & 0xff).toInt, ((v >>> 16) & 0xff).toInt,
      ((v >>> 8) & 0xff).toInt, (v & 0xff).toInt)
    def be64b(v: Long) = be32b(v >>> 32) ++ be32b(v & 0xffffffffL)
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32b(body.length + 8L) ++ t.getBytes ++ body
    val ftyp = box("ftyp", "isom".getBytes ++ be32b(512) ++ "mp41".getBytes)
    def mvhd0(ts: Int, dur: Int) = box("mvhd",
      be32b(0) ++ be32b(0) ++ be32b(0) ++ be32b(ts) ++ be32b(dur) ++
        Array.fill[Byte](80)(0))
    def mvhd1(ts: Int, dur: Long) = box("mvhd",
      bin(1, 0, 0, 0) ++ be64b(0) ++ be64b(0) ++ be32b(ts) ++ be64b(dur) ++
        Array.fill[Byte](80)(0))
    val trak = box("trak", Array.empty[Byte])
    def mdat(n: Long) = box("mdat", Array.fill[Byte](n.toInt)(9))
    def mdatHead(n: Long) = be32b(n + 8) ++ "mdat".getBytes // declared, body absent
    def mdatLarge(n: Long) = be32b(1) ++ "mdat".getBytes ++ be64b(n + 16)
    val rows = Seq(
      (1L, ftyp ++ box("moov", mvhd0(600, 6000) ++ trak ++ trak) ++ mdat(12)),
      // head-probe: mdat body absent, size declared; odd free box first
      (2L, ftyp ++ box("free", bin(1, 2, 3, 4, 5)) ++
        box("moov", mvhd0(1200, 48000) ++ trak) ++ mdatHead(777)),
      // version-1 mvhd + largesize mdat
      (3L, ftyp ++ box("moov", mvhd1(90000, 5400000L) ++ trak ++ trak ++ trak) ++
        mdatLarge(2048)),
      (4L, "junk".getBytes ++ be32b(8)), // no ftyp
      (5L, ftyp ++ mdat(4)), // no moov → NULL (no timescale)
      (6L, ftyp ++ box("moov", mvhd0(600, 100)) ++ mdatHead(5).take(6)), // truncated mdat header: walk ends, no mdat
      // hostile: moov child with a size smaller than its header
      (7L, ftyp ++ box("moov", be32b(4) ++ "mvhd".getBytes) ++ mdat(4)),
      // hostile: near-2^31 top-level size must end the walk, not wrap
      (8L, ftyp ++ be32b(Int.MaxValue.toLong - 3) ++ "skip".getBytes ++
        box("moov", mvhd0(600, 100)) ++ mdat(4)),
      // hostile: a largesize near Long.MaxValue must end the walk, not
      // wrap the position negative
      (9L, ftyp ++ be32b(1) ++ "junk".getBytes ++ be64b(Long.MaxValue) ++
        Array.fill[Byte](16)(0))
    ).toDF("id", "payload")
    val got = rows.select(col("id"),
        graft.expressions.ImageHeader.mp4Meta(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getInt(0), s.getLong(1), s.getInt(2), s.getLong(3)))).toMap
    assert(got(1L) === Some((600, 6000L, 2, 12L)))
    assert(got(2L) === Some((1200, 48000L, 1, 777L)))
    assert(got(3L) === Some((90000, 5400000L, 3, 2048L)))
    for (bad <- Seq(4L, 5L, 6L, 7L, 8L, 9L)) assert(got(bad).isEmpty, s"id=$bad must be NULL")
  }

  test("decodeImageHeader dispatches by sniffed magic; non-image formats stay NULL") {
    import spark.implicits._
    val jpeg = bin(0xFF, 0xD8, 0xFF, 0xC0, 0, 11, 8, 0, 5, 0, 6, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val rows = Seq(
      (1L, jpeg),
      (2L, bin(0x52, 0x49, 0x46, 0x46) ++ "wav".getBytes), // riff: no parser
      (3L, "plain".getBytes.map(identity)),
      (4L, "GIF89a".getBytes ++ bin(2, 1, 3, 1, 0, 0, 0))) // gif now dispatches
      .toDF("id", "payload")
    val got = rows.select(col("id"),
        Multimodal.decodeImageHeader(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(s => (s.getInt(0), s.getInt(1), s.getInt(2)))).toMap
    assert(got(1L) === Some((6, 5, 3)))
    assert(got(2L).isEmpty && got(3L).isEmpty)
    assert(got(4L) === Some((258, 259, 1)))
  }

  test("decodeImageStub + resizeStub metadata arithmetic") {
    val m = payloads.filter(col("id") === 1L)
      .select(Multimodal.decodeImageStub(col("payload")).as("meta"))
      .select(col("meta.width"), col("meta.height"), col("meta.channels"))
      .head()
    // len = 12 → width 16+12=28, height 16+(12/7=1)=17, channels 1+0=1
    assert((m.getInt(0), m.getInt(1), m.getInt(2)) === (28, 17, 1))
    val r = payloads.filter(col("id") === 1L)
      .select(Multimodal.resizeStub(
        Multimodal.decodeImageStub(col("payload")), 224, 224).as("r"))
      .select(col("r.width"), col("r.est_bytes")).head()
    assert(r.getInt(0) === 224 && r.getInt(1) === 224 * 224 * 1)
  }

  // ---- m09: perceptual dHash over decoded pixels --------------------------

  private def gpr1(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    val b = Array.newBuilder[Byte]
    b ++= "GPR1".getBytes; b += (w >> 8).toByte; b += w.toByte
    b += (h >> 8).toByte; b += h.toByte
    for (y <- 0 until h; x <- 0 until w) b += px(x, y).toByte
    b.result()
  }

  private def gpc1(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    val b = Array.newBuilder[Byte]
    b ++= "GPC1".getBytes; b += (w >> 8).toByte; b += w.toByte
    b += (h >> 8).toByte; b += h.toByte
    for (x <- 0 until w; y <- 0 until h) b += (px(x, y) ^ 0xa5).toByte
    b.result()
  }

  private def dhashOf(p: Array[Byte]): Option[Long] =
    Option(graft.expressions.PixelHashImpl.grayDhash64(p)).map(_.longValue())

  test("gray_dhash64: the same picture re-encoded (GPR1 vs GPC1) hashes identically") {
    def px(x: Int, y: Int): Int = (x * 37 + y * 91 + x * y * 13) % 256
    val a = dhashOf(gpr1(18, 16, px))
    val b = dhashOf(gpc1(18, 16, px))
    assert(a.isDefined && a === b, "re-encode must not change the perceptual hash")
    // while the BYTE streams share nothing (the m05 gap this closes):
    // byte-level cosine features of the two encodings are far apart
    import spark.implicits._
    val feats = Seq(("a", gpr1(18, 16, px)), ("b", gpc1(18, 16, px)))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.extractFeatures(col("payload"), dim = 64).as("emb"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val (fa, fb) = (feats("a"), feats("b"))
    val cos = fa.zip(fb).map { case (u, v) => u * v }.sum /
      (math.sqrt(fa.map(v => v * v).sum) * math.sqrt(fb.map(v => v * v).sum))
    assert(cos < 0.9, s"byte features should NOT see the re-encode as near-dup (cos=$cos)")
  }

  test("gray_dhash64: global brightness shift preserves the hash; real edits move few bits") {
    def px(x: Int, y: Int): Int = 30 + (x * 53 + y * 29 + x * x * 3) % 180
    val base = dhashOf(gpr1(18, 16, px)).get
    // +20 brightness, no wrap (values stay < 256): every comparison unchanged
    val brighter = dhashOf(gpr1(18, 16, (x, y) => px(x, y) + 20)).get
    assert(base === brighter, "monotone brightness shift must preserve dHash")
    // a local retouch moves only the bits whose blocks it touches
    val retouched = dhashOf(gpr1(18, 16,
      (x, y) => if (x < 2 && y < 2) (px(x, y) + 120) % 256 else px(x, y))).get
    val hamming = java.lang.Long.bitCount(base ^ retouched)
    assert(hamming <= 4, s"local retouch must stay local (hamming $hamming)")
  }

  test("gray_dhash64: block-mean resize — different resolutions of the same picture agree") {
    // 36x32 is the 18x16 picture with every pixel doubled in both axes:
    // block means are identical, so the hash must be too
    def px(x: Int, y: Int): Int = (x * 41 + y * 67 + x * y * 7) % 256
    val small = dhashOf(gpr1(18, 16, px)).get
    val big = dhashOf(gpr1(36, 32, (x, y) => px(x / 2, y / 2))).get
    assert(small === big, "2x upscale has identical block means — hash must match")
  }

  test("gray_dhash64: hostile containers yield NULL, never a throw") {
    assert(dhashOf(null) === None)
    assert(dhashOf(Array[Byte]()) === None)
    assert(dhashOf("GPR1".getBytes) === None) // truncated header
    assert(dhashOf(gpr1(18, 16, (_, _) => 7).dropRight(1)) === None) // short body
    assert(dhashOf(gpr1(18, 16, (_, _) => 7) ++ Array[Byte](0)) === None) // long body
    val badMagic = gpr1(18, 16, (_, _) => 7); badMagic(2) = 'X'
    assert(dhashOf(badMagic) === None)
    // impossible dims: w < 9 and h < 8 refuse
    assert(dhashOf(gpr1(8, 16, (_, _) => 7)) === None)
    assert(dhashOf(gpr1(18, 7, (_, _) => 7)) === None)
  }

  test("hamming64Pairs: exact recall to hamming 3, no pairs past the budget") {
    import spark.implicits._
    val base = 0x0123456789abcdefL
    val sigs = Seq(
      1L -> base,
      2L -> base,                       // hamming 0
      3L -> (base ^ 0x7L),              // hamming 3 — must be found
      4L -> (base ^ 0xfL),              // hamming 4 — must NOT emit
      5L -> ~base,                      // hamming 64
      6L -> (base ^ (1L << 63))         // hamming 1 across the sign bit
    ).toDF("id", "sig")
    val pairs = Dedup.hamming64Pairs(sigs, "id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // 3^4 = 0b0111^0b1111 = one bit -> hamming 1; 6 flips only the sign
    // bit (the arithmetic-shift band must mask correctly)
    assert(pairs === Seq((1L, 2L, 0L), (1L, 3L, 3L), (1L, 6L, 1L),
      (2L, 3L, 3L), (2L, 6L, 1L), (3L, 4L, 1L)), s"got $pairs")
  }

  // ---- m12: javax.imageio decode (truecolor/palette PNG + JPEG) ----------

  private def ioDhash(p: Array[Byte]): Option[Long] = {
    import spark.implicits._
    val r = Seq(Tuple1(p)).toDF("payload")
      .select(graft.expressions.ImageIoPixels.imageDhash64(col("payload")))
      .head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("imageio decode: truecolor PNG, palette PNG, GIF, and JPEG of the same picture hash identically") {
    for (d <- Seq(1L, 9L, 17L, 105L, 4097L)) {
      val a = ioDhash(Multimodal.encodePng24(d))
      val b = ioDhash(Multimodal.encodePng8(d))
      val c = ioDhash(Multimodal.encodeJpeg(d))
      val g = ioDhash(Multimodal.encodeGif(d))
      assert(a.isDefined, s"d=$d: truecolor decode failed")
      assert(a === b, s"d=$d: palette re-encode changed the hash")
      assert(a === g, s"d=$d: GIF re-encode changed the hash")
      // the DETERMINISTIC lossy claim: flat DCT-aligned blocks with
      // 17-apart levels cannot flip an adjacent-mean comparison
      assert(a === c, s"d=$d: JPEG re-encode changed the hash")
    }
  }

  test("imageio resize: exact box means vs a local recompute; upsample refused") {
    import spark.implicits._
    for (d <- Seq(1L, 5L, 13L, 29L)) {
      val (w, h) = (Multimodal.m14W(d), Multimodal.m14H(d))
      val (outW, outH) = (7, 5)
      val sums = Array.fill(outW * outH)(0L)
      val counts = Array.fill(outW * outH)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val cell = (y * outH / h) * outW + (x * outW / w)
        sums(cell) += Multimodal.m14Px(d, x, y); counts(cell) += 1
      }
      val vs = sums.indices.map(k => sums(k) / counts(k))
      val st = Seq(Tuple1(Multimodal.encodePngTextured(d))).toDF("payload")
        .select(graft.expressions.ImageIoPixels.imageResize(col("payload"), outW, outH).as("st"))
        .select("st.*").head()
      assert(st.getInt(0) === w && st.getInt(1) === h, s"d=$d dims")
      assert(st.getLong(2) === vs.sum, s"d=$d r_sum")
      assert(st.getInt(3) === vs.min && st.getInt(4) === vs.max, s"d=$d min/max")
      assert(st.getLong(5) ===
        vs.zipWithIndex.map { case (v, k) => v * (1L + k % 97) }.sum, s"d=$d checksum")
    }
    // a target larger than the source is an upsample — refused as NULL
    val up = Seq(Tuple1(Multimodal.encodePngTextured(1L))).toDF("payload")
      .select(graft.expressions.ImageIoPixels.imageResize(col("payload"), 500, 5).as("st"))
      .head()
    assert(up.isNullAt(0), "upsample must be NULL, not interpolated garbage")
  }

  test("imageio stats: lossless decodes replay the block formula exactly; JPEG stays within the DC budget") {
    import spark.implicits._
    val d = 33L
    def want: (Long, Int, Int) = {
      var sum = 0L; var mn = 255; var mx = 0
      for (br <- 0 until 8; bc <- 0 until 9) {
        val v = Multimodal.m12Block(d, br, bc)
        sum += v.toLong * 64; mn = math.min(mn, v); mx = math.max(mx, v)
      }
      (sum, mn, mx)
    }
    val (wSum, wMin, wMax) = want
    for (enc <- Seq(Multimodal.encodePng24(d), Multimodal.encodePng8(d))) {
      val st = Seq(Tuple1(enc)).toDF("payload")
        .select(graft.expressions.ImageIoPixels.imageStats(col("payload")).as("st"))
        .select("st.*").head()
      assert(st.getInt(0) === 72 && st.getInt(1) === 64)
      assert(st.getLong(2) === wSum, "lossless px_sum must equal the formula")
      assert(st.getInt(3) === wMin && st.getInt(4) === wMax)
    }
    val stJ = Seq(Tuple1(Multimodal.encodeJpeg(d))).toDF("payload")
      .select(graft.expressions.ImageIoPixels.imageStats(col("payload")).as("st"))
      .select("st.*").head()
    assert(stJ.getInt(0) === 72 && stJ.getInt(1) === 64)
    // lossy: sum moves, but bounded by the per-pixel DC-error budget
    // that underwrites the dHash-equality claim (|err| <= 8 per pixel)
    assert(math.abs(stJ.getLong(2) - wSum) <= 8L * 72 * 64,
      s"JPEG px_sum drifted past the DC budget: ${stJ.getLong(2)} vs $wSum")
  }

  // ---- m13: IMA-ADPCM decode ---------------------------------------------

  private def adpcmRow(p: Array[Byte]) = {
    import spark.implicits._
    val r = Seq(Tuple1(p)).toDF("payload")
      .select(graft.expressions.AudioAdpcm.adpcmStats(col("payload")).as("st"))
      .select("st.*").head()
    if (r.isNullAt(0)) None
    else Some((r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
  }

  /** Independent local replay: decode the formula-built blocks with a
    * straight-line state machine (not the kernel's walker). */
  private def adpcmLocal(d: Long): (Int, Long, Long, Long, Long, Long) = {
    val nf = Multimodal.m13Nf(d)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Int]
    var b = 0
    while (samples.size < nf) {
      var v = Multimodal.m13Predictor(d, b)
      var i = Multimodal.m13Index(d, b)
      samples += v
      var j = 0
      while (j < Multimodal.M13Spb - 1 && samples.size < nf) {
        val (v2, i2) = graft.expressions.AudioAdpcm.step(v, i, Multimodal.m13Nibble(d, b, j))
        v = v2; i = i2
        samples += v
        j += 1
      }
      b += 1
    }
    var peak = 0L; var zc = 0L; var sq = 0L; var chk = 0L
    for (k <- samples.indices) {
      val s = samples(k)
      peak = math.max(peak, math.abs(s.toLong))
      sq += s.toLong * s
      if (k >= 1 && samples(k - 1).toLong * s < 0) zc += 1
      chk += s.toLong * (1L + k % 97)
    }
    (Multimodal.m13Rate(d), nf.toLong, peak, zc, sq, chk)
  }

  test("adpcm decode: kernel equals the straight-line state-machine replay") {
    for (d <- Seq(2L, 6L, 66L, 130L, 998L)) {
      val got = adpcmRow(Multimodal.adpcmEncode(d))
      assert(got === Some(adpcmLocal(d)), s"d=$d diverged")
    }
    // at least one fixture must span two blocks (restart + pad-stop paths)
    assert(Multimodal.m13Nf(66L) > Multimodal.M13Spb)
  }

  test("adpcm decode: clamps engage on adversarial state") {
    // all-max nibbles from a high predictor must pin at 32767 and walk
    // the index to its ceiling without overflow; all-sign nibbles pin
    // at -32768 — exercised through the public step() directly
    var v = 30000; var i = 88
    for (_ <- 0 until 50) { val r = graft.expressions.AudioAdpcm.step(v, i, 7); v = r._1; i = r._2 }
    assert(v === 32767 && i === 88)
    var v2 = -30000; var i2 = 0
    for (_ <- 0 until 50) { val r = graft.expressions.AudioAdpcm.step(v2, i2, 15); v2 = r._1; i2 = r._2 }
    assert(v2 === -32768 && i2 === 88)
  }

  test("adpcm decode: hostile inputs yield NULL, never a throw") {
    val good = Multimodal.adpcmEncode(2L)
    val hostiles: Seq[Array[Byte]] = Seq(
      good.take(40), // truncated inside fmt/data
      good.updated(20, 0x01.toByte), // format tag flipped to PCM
      good.updated(34, 0x10.toByte), // bits=16 under an ADPCM tag
      good.updated(46, 0xff.toByte), // fact count the blocks can't hold
      Array.fill(64)(0x52.toByte),
      Array.empty[Byte])
    for ((p, i) <- hostiles.zipWithIndex)
      assert(adpcmRow(p) === None, s"hostile input $i must be NULL")
  }

  test("imageio decode: hostile inputs yield NULL, never a throw") {
    val hostiles = Seq(
      Multimodal.encodePng24(5L).take(24), // truncated after a reader matches
      Array.fill(64)(0x41.toByte), // no reader claims it
      Array.empty[Byte],
      // valid stream, adversarial dims: a 1x1 PNG (below the dHash grid)
      {
        val img = new java.awt.image.BufferedImage(1, 1,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
    for ((p, i) <- hostiles.zipWithIndex)
      assert(ioDhash(p) === None, s"hostile input $i must decode to NULL")
  }
}
