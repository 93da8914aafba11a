package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.expressions.Mp4SampleTableImpl

/** m17's ISO-BMFF sample-table walk: builder-parser identity against an
  * INDEPENDENT offset derivation (file-order window sum, not the
  * builder's chunk-position loop), the reversed-chunk re-mux layout,
  * stss-absent default-sync semantics, and the hostile-input NULL
  * table. */
class Mp4SampleTableSpec extends AnyFunSuite {

  private val Mod = 1000000007L

  private def parse(b: Array[Byte]): Option[Seq[InternalRow]] =
    Option(Mp4SampleTableImpl.samples(b)).map { a =>
      val arr = a.asInstanceOf[ArrayData]
      (0 until arr.numElements()).map(i =>
        arr.getStruct(i, 7).copy())
    }

  /** Ground truth straight from the fixture formulas — offsets via the
    * sort-by-file-order cumulative sum (the oracle's derivation), NOT
    * the builder's chunk loop. */
  private def expected(d: Long, remux: Boolean): Seq[(Int, Long, Long, Long, Int, Boolean, Long)] = {
    val nS = Multimodal.mp4SampleCount(d)
    val cpc = if (remux) 2 else 3
    val nC = (nS + cpc - 1) / cpc
    val nSync = (nS + 2) / 3
    val ne = if (nS % cpc == 0) 1 else 2
    val moovSz = 73 + (if (d % 6 == 5) 49 else 0) +
      32 + (if (d % 5 == 1 || d % 5 == 3) 32 else 0) +
      (20 + 4 * nS) + (16 + 12 * ne) +
      (16 + (if (d % 4 == 3) 8 else 4) * nC) + (16 + 4 * nSync)
    val mdatStart = 20 + (if (remux) (9 + d % 7).toInt else 0) + moovSz + 8
    val sizes = Array.tabulate(nS)(i => Multimodal.mp4SampleSize(d, i))
    val fileOrder = (0 until nS).sortBy { i =>
      val chunk = i / cpc
      (if (remux) -chunk else chunk, i)
    }
    val off = new Array[Long](nS)
    var acc = mdatStart.toLong
    fileOrder.foreach { i => off(i) = acc; acc += sizes(i) }
    val d1 = 100 + d % 50
    (0 until nS).map { i =>
      val dts = if (i < 3) i * d1 else 3 * d1 + (i - 3) * (d1 + 40)
      val pts = dts + Multimodal.mp4CttsOffset(d, i)
      val ck = (0 until sizes(i)).map(j =>
        Multimodal.mp4SampleByte(d, i, j).toLong * (j + 1)).sum % Mod
      (i, dts, pts, off(i), sizes(i), i % 3 == 0, ck)
    }
  }

  private def check(d: Long, remux: Boolean): Unit = {
    val rows = parse(Multimodal.encodeMp4(d, remux))
      .getOrElse(fail(s"NULL at d=$d remux=$remux"))
    val exp = expected(d, remux)
    assert(rows.length == exp.length, s"count at d=$d remux=$remux")
    rows.zip(exp).foreach { case (r, (i, dts, pts, off, sz, sync, ck)) =>
      assert(r.getInt(0) == i)
      assert(r.getLong(1) == dts, s"dts d=$d i=$i remux=$remux")
      assert(r.getLong(2) == pts, s"pts d=$d i=$i remux=$remux")
      assert(r.getLong(3) == off, s"offset d=$d i=$i remux=$remux")
      assert(r.getInt(4) == sz, s"size d=$d i=$i remux=$remux")
      assert(r.getBoolean(5) == sync, s"sync d=$d i=$i remux=$remux")
      assert(r.getLong(6) == ck, s"checksum d=$d i=$i remux=$remux")
    }
  }

  test("builder-parser identity vs independent file-order offsets, both arms, all nS/remainder shapes") {
    // d % 5 covers nS 6..10 (both 1- and 2-run stsc for each cpc);
    // d % 7 covers every free-box length on the remux arm
    (0L until 70L).foreach { d => check(d, remux = false); check(d, remux = true) }
    check(1000003L, remux = true) // large-id arithmetic
  }

  test("re-muxed twin: identical frame checksums, non-monotone offsets") {
    val d = 2L
    val a = parse(Multimodal.encodeMp4(d, remux = false)).get
    val b = parse(Multimodal.encodeMp4(d, remux = true)).get
    assert(a.map(_.getLong(6)) == b.map(_.getLong(6))) // same media
    // reversed chunks: the FIRST sample of the remux sits at a HIGHER
    // offset than the last — sequential-mdat shortcuts misparse it
    assert(b.head.getLong(3) > b.last.getLong(3))
    assert(a.head.getLong(3) < a.last.getLong(3))
  }

  test("stss absent means every sample is a sync sample") {
    val b = Multimodal.encodeMp4(5L, remux = false)
    // retag the stss box as a free box: the walk then finds no stss
    val i = indexOfTag(b, "stss")
    b(i) = 'f'; b(i + 1) = 'r'; b(i + 2) = 'e'; b(i + 3) = 'e'
    val rows = parse(b).getOrElse(fail("NULL after stss retag"))
    assert(rows.forall(_.getBoolean(5)))
  }

  private def indexOfTag(b: Array[Byte], t: String): Int = {
    val bytes = t.getBytes("US-ASCII")
    (0 to b.length - 4).find(i => bytes.indices.forall(k => b(i + k) == bytes(k)))
      .getOrElse(fail(s"tag $t not found"))
  }

  test("video-trak selection: the decoy audio trak is skipped via hdlr, not position") {
    // d % 6 == 5 files carry a sample-table-less 'soun' trak FIRST;
    // the identity sweep already proves they parse — here, break the
    // video trak's hdlr so no trak declares 'vide': the fallback picks
    // the FIRST trak (the audio decoy), which has no stbl → NULL.
    // A first-trak shortcut would behave identically before and after.
    val decoy = Multimodal.encodeMp4(5L, remux = false)
    assert(parse(decoy).nonEmpty)
    val broken = decoy.clone()
    broken(indexOfTag(broken, "vide")) = 'x'
    assert(parse(broken).isEmpty)
    // and a single-trak file with a non-'vide' hdlr still parses via
    // the legacy first-trak fallback
    val single = Multimodal.encodeMp4(4L, remux = false)
    single(indexOfTag(single, "vide")) = 'x'
    assert(parse(single).nonEmpty)
  }

  test("hostile inputs: NULL, never a throw") {
    val good = Multimodal.encodeMp4(9L, remux = false) // 9 % 4 = 1: stco form
    def patch(tag: String, rel: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(indexOfTag(b, tag) + rel) = v.toByte; b
    }
    val cases = Seq[Array[Byte]](
      null,
      Array.empty[Byte],
      good.take(12),                        // shorter than ftyp+box header
      good.take(40),                        // moov truncated
      good.dropRight(5),                    // mdat body truncated: frame range out
      patch("stco", 0, 'x'),                // offsets box neither stco nor co64
      patch("stsz", 4 + 8 + 3, 99),         // stsz count ≠ stts total
      patch("stts", 4 + 4 + 1, 0xff),       // stts entry-count DoS guard
      patch("stsc", 4 + 12 + 3, 0),         // samples_per_chunk = 0
      "ftypnotabox".getBytes("US-ASCII"))
    cases.foreach(b => assert(parse(b).isEmpty))
    // an optional box (stss) whose header declares a size below its own
    // 8 bytes stops the walk: unknown, not absent, so NULL rather than
    // "every frame is a sync frame"
    val bad = Multimodal.encodeMp4(7L, remux = false)
    val ss = indexOfTag(bad, "stss")
    Seq(0, 0, 0, 4).zipWithIndex.foreach { case (v, k) => bad(ss - 4 + k) = v.toByte }
    assert(parse(bad).isEmpty)
  }

  test("adversarial Long-overflow blobs: NULL, never an out-of-bounds throw") {
    // (1) hostile co64 offset near Long.MaxValue: off + sz would wrap
    // negative and pass a naive `off + sz > n` bound — must NULL
    val wide = Multimodal.encodeMp4(7L, remux = false) // co64 form
    val t = indexOfTag(wide, "co64")
    wide(t + 4 + 8) = 0x7f.toByte
    (1 until 8).foreach(k => wide(t + 4 + 8 + k) = 0xff.toByte)
    assert(parse(wide).isEmpty)
    // (2) adversarial BE64 largesize: pos + size wraps negative and a
    // naive walk keeps running on garbage positions — must NULL
    val junk = new java.io.ByteArrayOutputStream()
    junk.write(Multimodal.encodeMp4(4L, remux = false), 0, 20) // the ftyp
    Seq(0, 0, 0, 1).foreach(junk.write) // size = 1: largesize follows
    "junk".foreach(c => junk.write(c.toInt))
    Seq(0x7f, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff).foreach(junk.write)
    assert(parse(junk.toByteArray).isEmpty)
    // (3) count-0 stts run with totals still matching stsz: a naive run
    // walk charges the zero-count run's delta to one sample — must NULL
    val z = Multimodal.encodeMp4(9L, remux = false) // nS = 10
    val st = indexOfTag(z, "stts")
    z(st + 4 + 8 + 3) = 0   // run 1 count 3 → 0
    z(st + 4 + 16 + 3) = 10 // run 2 count 7 → 10 (total still 10)
    assert(parse(z).isEmpty)
  }

  test("co64 chunk offsets (the >4 GiB form) parse identically to stco") {
    // d % 4 == 3 fixtures store co64; the identity sweep covers them —
    // pin the form explicitly: the box tag is present and offsets match
    val b = Multimodal.encodeMp4(7L, remux = false) // 7 % 4 = 3
    indexOfTag(b, "co64")
    assertThrows[org.scalatest.exceptions.TestFailedException](indexOfTag(b, "stco"))
    val rows = parse(b).getOrElse(fail("NULL on co64"))
    assert(rows.map(r => (r.getInt(0), r.getLong(3))) ==
      expected(7L, remux = false).map(e => (e._1, e._4)))
  }

  test("ctts composition offsets: pts = dts + offset; absent means pts == dts") {
    // d % 5 ∈ {1, 3} carries the two-run ctts (identity sweep covers
    // the values); pin the semantics explicitly at both ends
    val withCtts = parse(Multimodal.encodeMp4(11L, remux = false)).get // 11 % 5 = 1
    assert(withCtts.exists(r => r.getLong(2) != r.getLong(1)))
    withCtts.foreach(r => assert(
      r.getLong(2) - r.getLong(1) == Multimodal.mp4CttsOffset(11L, r.getInt(0))))
    val noCtts = parse(Multimodal.encodeMp4(5L, remux = false)).get // 5 % 5 = 0
    assert(noCtts.forall(r => r.getLong(2) == r.getLong(1)))
  }

  test("uniform stsz form parses (spec default when sample_size != 0)") {
    // hand-build the stsz-uniform variant: set sample_size = s and keep
    // the (now unread) per-sample table in place — sizes all equal s
    val d = 6L // nS = 7, sizes vary normally
    val b = Multimodal.encodeMp4(d, remux = false)
    val t = indexOfTag(b, "stsz")
    // body: ver/flags(4) sample_size(4) count(4); make every size 24
    b(t + 4 + 4) = 0; b(t + 4 + 5) = 0; b(t + 4 + 6) = 0; b(t + 4 + 7) = 24
    val rows = parse(b).getOrElse(fail("NULL on uniform stsz"))
    assert(rows.forall(_.getInt(4) == 24))
    // offsets become uniform-strided within each chunk
    assert(rows(1).getLong(3) == rows.head.getLong(3) + 24)
  }
}
