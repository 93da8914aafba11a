package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.ExifTiff

/** m16's EXIF/TIFF probe: builder-parser identity across both byte
  * orders, both containers, both width entry types; hostile-input NULL
  * behavior including the adversarial-offset and DoS-count cases. */
class ExifTiffSpec extends AnyFunSuite {

  private def meta(b: Array[Byte]) = Option(ExifTiff.metaImpl(b))

  test("builder-parser identity: bare TIFF and JPEG-wrapped, II and MM, SHORT and LONG width") {
    // stride 4 over the fixture residue; skip the hostile residues
    (0 until 1000).map(i => 4L * i)
      .filterNot(d => d % 32 == 0 || d % 32 == 4).foreach { d =>
      val payload =
        if (d % 8 == 0) Multimodal.m16Tiff(d) else Multimodal.m16JpegExif(d)
      val m = meta(payload).getOrElse(fail(s"NULL at d=$d"))
      assert(m.getString(0) == (if (Multimodal.m16Be(d)) "MM" else "II"))
      assert(m.getInt(1) == Multimodal.m16Width(d), s"width at d=$d")
      assert(m.getInt(2) == Multimodal.m16Height(d), s"height at d=$d")
      assert(m.getInt(3) == Multimodal.m16Orient(d), s"orientation at d=$d")
    }
  }

  test("hostile fixtures: adversarial IFD offset and APP1-less JPEG are NULL") {
    assert(meta(Multimodal.m16Tiff(32L)).isEmpty)      // IFD at 0xFFFFFF00
    assert(meta(Multimodal.m16JpegExif(36L)).isEmpty)  // COM straight to SOS
  }

  test("hostile inputs: NULL, never a throw") {
    val good = Multimodal.m16Tiff(8L)
    def mut(i: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(i) = v.toByte; b
    }
    val cases = Seq[Array[Byte]](
      null,
      Array.empty[Byte],
      good.take(7),                // shorter than a TIFF header
      good.take(20),               // entry table truncated
      mut(0, 'X'),                 // bad byte-order marker
      mut(2, 99),                  // bad magic (LE low byte)
      mut(9, 0), {                 // entry count 0 (d=8 is MM: low byte at 9)
        val b = good.clone(); b(8) = 0xff.toByte; b(9) = 0xff.toByte; b
      },                           // entry count 65535 (DoS guard)
      "RIFFxxxxWAVE".getBytes,
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte), // JPEG cut mid-marker
      // fill bytes running into the end of the buffer after a COM segment
      "ffd8fffe000a4a4a4a4a4a7fffffffffffffff00".grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    )
    cases.foreach(b => assert(meta(b).isEmpty))
    // orientation out of 1..8 → NULL (strict): patch the SHORT slot.
    // entry 3 (orientation) value slot: 8 (hdr) + 2 (count) + 2*12 + 8 = 42
    val badOrient = good.clone(); badOrient(42) = 9
    assert(meta(badOrient).isEmpty)
  }

  test("TIFF offsets inside a JPEG are relative to the TIFF origin, not the file") {
    // the wrapped fixture puts the TIFF at a COM-dependent offset;
    // identity across comLen values 4..8 proves relative addressing
    Seq(12L, 20L, 28L, 44L, 76L).foreach { d => // %8==4, not %32==4, d%5 covers 2,0,3,4,1
      val m = meta(Multimodal.m16JpegExif(d)).getOrElse(fail(s"NULL at d=$d"))
      assert(m.getInt(1) == Multimodal.m16Width(d))
    }
  }
}
