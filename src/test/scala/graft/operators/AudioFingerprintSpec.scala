package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSupport
import graft.expressions.{AudioAdpcm, AudioFingerprint}

/** m15's audio perceptual fingerprint: the PCM↔ADPCM twin-identity
  * claim (the deterministic heart of the query), the IMA encoder's
  * decoder-state property, hostile-input NULL behavior, and the
  * banding recall contract. */
class AudioFingerprintSpec extends AnyFunSuite with SparkTestSupport {

  /** The fixture id domain: doc_id % 8 == 2 at any corpus size; the
    * fingerprint's class space is (d % 1009, d % 127), so a stride-8
    * sweep of 2000 ids crosses ~2000 distinct classes. */
  private val sweep: Seq[Long] = (0 until 2000).map(i => 2L + 8L * i)

  test("twin identity: fp(PCM arm) == fp(ADPCM arm) EXACTLY across the class sweep") {
    sweep.foreach { d =>
      val fpPcm = AudioFingerprint.audioFp64(Multimodal.m15WavPcm(d))
      val fpAdp = AudioFingerprint.audioFp64(Multimodal.m15WavAdpcm(d))
      assert(fpPcm != null && fpAdp != null, s"NULL fingerprint at d=$d")
      assert(fpPcm == fpAdp,
        s"re-encode twin diverged at d=$d: pcm=$fpPcm adpcm=$fpAdp " +
          s"(hamming ${java.lang.Long.bitCount(fpPcm ^ fpAdp)})")
    }
  }

  test("PCM decode is the signal exactly; ADPCM reconstruction stays inside the 4x energy headroom") {
    val d = 1234L * 8 + 2
    val pcm = invokeDecode(Multimodal.m15WavPcm(d))
    assert(pcm.length == Multimodal.M15N)
    (0 until Multimodal.M15N).foreach { k =>
      assert(pcm(k) == Multimodal.m15Sample(d, k))
    }
    val adp = invokeDecode(Multimodal.m15WavAdpcm(d))
    // per settle-skip band: reconstructed energy within (E/4, 4E)
    (0 until 72).foreach { gb =>
      var e = 0L; var er = 0L
      (8 until 16).foreach { j =>
        val s = Multimodal.m15Sample(d, gb * 16 + j).toLong
        val r = adp(gb * 16 + j).toLong
        e += s * s; er += r * r
      }
      assert(er > e / 4 && er < e * 4,
        s"band $gb energy out of headroom: exact=$e rec=$er")
    }
  }

  test("encoder state IS decoder state (IMA property): decode(encode) replays the encoder's valpred walk") {
    val d = 42L * 8 + 2
    // replay the encoder standalone
    var valpred = Multimodal.m15Sample(d, 0)
    var index = 0
    val expected = Array.fill(Multimodal.M15N)(0)
    expected(0) = valpred
    (1 until Multimodal.M15N).foreach { k =>
      val nib = Multimodal.imaEncodeNibble(
        Multimodal.m15Sample(d, k) - valpred, AudioAdpcm.StepTable(index))
      val (v2, i2) = AudioAdpcm.step(valpred, index, nib)
      valpred = v2; index = i2
      expected(k) = v2
    }
    assert(invokeDecode(Multimodal.m15WavAdpcm(d)).toSeq == expected.toSeq)
  }

  test("hostile inputs: NULL, never a throw") {
    val good = Multimodal.m15WavAdpcm(10L)
    val cases = Seq[Array[Byte]](
      null,
      Array.empty[Byte],
      good.take(40),                       // truncated mid-header
      good.take(good.length - 1),          // truncated last byte (block misaligned)
      "RIFFxxxxWAVE".getBytes,             // no chunks
      { val b = good.clone(); b(0) = 'X'.toByte; b }, // bad magic
      Multimodal.m15WavPcm(10L).take(100), // PCM too short
      Multimodal.adpcmEncode(2L)           // valid m13 WAV but < 1152 samples
    )
    cases.foreach { b =>
      assert(AudioFingerprint.audioFp64(b) == null)
    }
    // stereo PCM rejected (mono contract)
    val stereo = Multimodal.m15WavPcm(10L).clone()
    stereo(22) = 2 // channels LE16 at offset 22 in the canonical layout
    assert(AudioFingerprint.audioFp64(stereo) == null)
    // m13 and m15 agree on IMA validity: the honest file decodes in
    // both; a lying samples-per-block extension (honest: 505) or a fact
    // count past 2^31 decodes in neither
    val honest = imaWav(blockAlign = 256, nBlocks = 3, fact = 1515, spbExt = 505)
    assert(AudioAdpcm.statsImpl(honest) != null && AudioFingerprint.audioFp64(honest) != null)
    Seq(imaWav(256, 3, 1515, 999), imaWav(256, 3, (1L << 31) + 1, 505)).foreach { b =>
      assert(AudioAdpcm.statsImpl(b) == null)
      assert(AudioFingerprint.audioFp64(b) == null)
    }
  }

  /** A mono IMA-ADPCM WAV of all-zero blocks (predictor 0, step index 0)
    * with the given fact count and cbSize=2 samples-per-block field. */
  private def imaWav(blockAlign: Int, nBlocks: Int, fact: Long, spbExt: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 28 + 12 + 8 + blockAlign * nBlocks)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(bb.capacity - 8).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(20).putShort(0x11.toShort).putShort(1.toShort)
      .putInt(8000).putInt(4000).putShort(blockAlign.toShort).putShort(4.toShort)
      .putShort(2.toShort).putShort(spbExt.toShort)
    bb.put("fact".getBytes).putInt(4).putInt(fact.toInt)
    bb.put("data".getBytes).putInt(blockAlign * nBlocks)
    bb.array
  }

  test("fingerprints vary across docs (no trivial constant)") {
    val fps = sweep.take(200).map(d =>
      AudioFingerprint.audioFp64(Multimodal.m15WavPcm(d)).longValue)
    assert(fps.distinct.size > 150, s"only ${fps.distinct.size} distinct fingerprints in 200 docs")
  }

  test("query-level: banding catches every re-encode twin; hostile arm never pairs") {
    import spark.implicits._
    val ids = sweep.take(64)
    val wavs = ids.flatMap { id =>
      val base = Seq(
        (id * 4, Multimodal.m15WavPcm(id)),
        (id * 4 + 1, Multimodal.m15WavAdpcm(id)))
      if (id % 16 == 2) base :+ ((id * 4 + 2, Multimodal.m15WavAdpcm(id).take(40)))
      else base
    }.toDF("id", "payload")
    val sigs = wavs.select(col("id"),
      AudioFingerprint.audioFp64(col("payload")).as("fp"))
    val pairs = Dedup.hamming64Pairs(sigs, "id", "fp", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ids.foreach { id =>
      assert(pairs.contains((id * 4, id * 4 + 1)), s"twin pair missing for id=$id")
    }
    assert(!pairs.exists { case (a, b) => a % 4 == 2 || b % 4 == 2 },
      "hostile arm paired")
  }

  test("s33 fold: any slicing folds to exactly m15's one-shot pair set; old corpus never re-fingerprints") {
    import spark.implicits._
    val ids = sweep.take(48)
    val oneShot = {
      val sigs = ids.flatMap(Multimodal.m15Arms).toDF("id", "payload")
        .select(col("id"),
          graft.expressions.AudioFingerprint.audioFp64(col("payload")).as("fp"))
      Dedup.hamming64Pairs(sigs, "id", "fp", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    // two different slicings, including one that delivers SMALL ids
    // LAST (the later-member discovery must canonicalize, not assume
    // arrival order == id order)
    val slicings = Seq(
      Seq(ids.filter(_ % 3 == 0), ids.filter(_ % 3 == 1), ids.filter(_ % 3 == 2)),
      Seq(ids.drop(16), ids.take(8), ids.slice(8, 16)))
    slicings.foreach { slices =>
      val init = Seq.empty[(String, Long, Option[Long], Option[Long], Option[Long])]
        .toDF("kind", "id_a", "id_b", "fp", "hamming")
      val folded = slices.foldLeft(init) { (state, slice) =>
        Multimodal.audioNeardupFold(state, slice.toDF("doc_id")).localCheckpoint()
      }
      val pairs = folded.filter(col("kind") === "pair")
        .select(col("id_a"), col("id_b"), col("hamming"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairs === oneShot, s"fold diverged from one-shot for slicing $slices")
    }
  }

  private def invokeDecode(b: Array[Byte]): Array[Int] = {
    val m = AudioFingerprint.getClass.getDeclaredMethods
      .find(_.getName.endsWith("decodeSamples")).get
    m.setAccessible(true)
    m.invoke(AudioFingerprint, b).asInstanceOf[Array[Int]]
  }
}
