package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkTestSupport

/** Codegen ↔ interpreted parity for every native expression: a buggy
  * `doGenCode` produces results that silently diverge from
  * `nullSafeEval` — this gate evaluates each kernel under whole-stage
  * codegen AND with codegen fully disabled and requires identical
  * output. */
class CodegenParitySpec extends AnyFunSuite with SparkTestSupport {

  private def withCodegen[T](on: Boolean)(f: => T): T = {
    val ws = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val fm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.wholeStage", on.toString)
    spark.conf.set("spark.sql.codegen.factoryMode", if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try f
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", fm)
    }
  }

  private def bothWays(build: => DataFrame): (Seq[Row], Seq[Row]) = {
    val gen = withCodegen(on = true)(build.collect().toSeq)
    val interp = withCodegen(on = false)(build.collect().toSeq)
    (gen, interp)
  }

  private lazy val docs = {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "Short"), (3L, ""), (4L, "a b c d e f g h i j k l m n"))
      .toDF("id", "text")
  }

  private lazy val vecs = {
    import spark.implicits._
    Seq((1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(0.0, 0.0, 0.0), Seq(1.0, -1.0, 0.5)))
      .toDF("id", "a", "b")
  }

  test("TextHash expressions: codegen == interpreted") {
    val (g, i) = bothWays(docs.select(col("id"),
      TextHash.minHashSig(col("text"), 3, 16),
      TextHash.minHashBands(col("text"), 3, 16, 4),
      TextHash.simHash64(col("text")),
      TextHash.normalizeText(col("text")),
      TextHash.ngramJaccard(col("text"), lit("the quick brown fox"), 3)))
    assert(g === i)
  }

  test("text-stat kernels (langId/quality/tokens/fingerprint/shingles): codegen == interpreted") {
    val (g, i) = bothWays(docs.select(col("id"),
      TextHash.langId(col("text")),
      TextHash.stopwordHits(col("text"), 0),
      TextHash.qualityScore(col("text")),
      TextHash.wsTokenCount(col("text")),
      TextHash.rollingFingerprint(col("text")),
      TextHash.shingleHashes(col("text"), 3),
      TextHash.repetitionStats(col("text"))))
    assert(g === i)
    // and the known-value sanity: "the ... the ..." text is English
    assert(g.head.getString(1) === "en")
  }

  test("MaxSim: codegen == interpreted; single-token == rounded cosineSimilarity") {
    import spark.implicits._
    val mdocs = Seq((1L, Seq(1.0, 0.0, 0.0, 1.0)), (2L, Seq(0.5, -0.5, 2.0, 1.0)))
      .toDF("id", "v")
    val q = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val (g, i) = bothWays(mdocs.select(col("id"),
      VectorOps.maxSim(col("v"), q, tokenDim = 2)))
    assert(g === i)
    // the pairwise (column-column) form: codegen == interpreted, and
    // against the same query values it equals the constant-matrix
    // kernel bit-for-bit (the batch == loop identity rests on this)
    val qc = array(q.flatten.toIndexedSeq.map(lit): _*)
    val (gp, ip) = bothWays(mdocs.select(col("id"),
      VectorOps.maxSimPair(col("v"), qc, tokenDim = 2),
      VectorOps.maxSim(col("v"), q, tokenDim = 2)))
    assert(gp === ip)
    gp.foreach(r => assert(r.getDouble(1) === r.getDouble(2)))
    // one query token over a one-token doc degenerates to plain cosine
    // (6-dp pre-rounded)
    val single = Seq((1L, Seq(3.0, 4.0))).toDF("id", "v")
    val r = single.select(
      VectorOps.maxSim(col("v"), Array(Array(1.0, 0.0)), 2),
      VectorOps.cosineSimilarity(col("v"), array(lit(1.0), lit(0.0)))).head()
    assert(r.getDouble(0) === math.floor(r.getDouble(1) * 1e6 + 0.5) / 1e6)
    // zero-norm CONTRACT: an all-zero doc chunk scores 0.0 against any
    // query token (never NaN — DuckDB max() would rank NaN on top
    // while the kernel's `>` would drop it; the oracle guards the same
    // way). Doc = one zero chunk + one real chunk: the real chunk wins.
    val withZero = Seq((1L, Seq(0.0, 0.0, 3.0, 4.0))).toDF("id", "v")
    val z = withZero.select(
      VectorOps.maxSim(col("v"), Array(Array(0.6, 0.8)), 2)).head().getDouble(0)
    assert(z === 1.0) // cos((3,4),(0.6,0.8)) = 1; the zero chunk scored 0, not NaN
    val allZero = Seq((1L, Seq(0.0, 0.0))).toDF("id", "v")
    assert(allZero.select(VectorOps.maxSim(col("v"), Array(Array(1.0, 0.0)), 2))
      .head().getDouble(0) === 0.0)
  }

  test("BpeEncode: codegen == interpreted incl. empty and punct-only text") {
    import spark.implicits._
    val bdocs = Seq((1L, "the interesting thing"), (2L, ""), (3L, "!!! ???"),
      (4L, "Another 2000 things"), (5L, "aaa bbb a"))
      .toDF("id", "text")
    val (g, i) = bothWays(bdocs.select(col("id"), Bpe.encode(col("text"))))
    assert(g === i)
  }

  test("BpeEncodeWith/BpeApplyMerge: codegen == interpreted (table rides as a reference object)") {
    import spark.implicits._
    val bdocs = Seq((1L, "abab ab ba"), (2L, ""), (3L, "aaa Ab-ab!"))
      .toDF("id", "text")
    val learned = Seq(("a", "b"), ("ab", "ab"), ("b", "a"))
    val (g, i) = bothWays(bdocs.select(col("id"),
      Bpe.encodeWith(col("text"), learned),
      Bpe.applyMerge(Bpe.encodeWith(col("text"), Seq(("a", "b"))), "ab", "ab")))
    assert(g === i)
  }

  test("repetitionStats: known values and one kernel under project-level CSE") {
    val rep = TextHash.repetitionStats(col("text"))
    val out = docs.select(col("id"),
        element_at(rep, 1).as("dup"), element_at(rep, 2).as("top"))
      .orderBy("id").collect()
    // "the quick brown fox jumps over the lazy dog": 9 tokens, "the" twice
    // → dup = 1 − 8/9; all 8 bigrams distinct → top = 1/8
    assert(math.abs(out(0).getDouble(1) - (1.0 - 8.0 / 9)) < 1e-12)
    assert(math.abs(out(0).getDouble(2) - 0.125) < 1e-12)
    // single token → both 0; empty text → both 0
    assert(out(1).getDouble(1) === 0.0 && out(1).getDouble(2) === 0.0)
    assert(out(2).getDouble(1) === 0.0 && out(2).getDouble(2) === 0.0)
    // all-distinct 14 tokens → dup 0, every bigram unique → top 1/13
    assert(out(3).getDouble(1) === 0.0)
    assert(math.abs(out(3).getDouble(2) - 1.0 / 13) < 1e-12)
    // both consumers in one select: subexpression elimination runs the
    // kernel once per row (one repetition_stats in the codegen'd plan,
    // Subexprs section aside — assert it stays in a codegen stage)
    val plan = docs.select(element_at(rep, 1), element_at(rep, 2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("repetition_stats"))
  }

  test("VectorOps expressions: codegen == interpreted") {
    val (g, i) = bothWays(vecs.select(col("id"),
      graft.expressions.VectorOps.dot(col("a"), col("b")),
      graft.expressions.VectorOps.squaredDistance(col("a"), col("b")),
      graft.expressions.VectorOps.norm2(col("a")),
      // cosine of the zero vector is NaN — NaN != NaN under Row equality,
      // so compare the well-defined row only for cosine
      when(col("id") === 1L,
        graft.expressions.VectorOps.cosineSimilarity(col("a"), col("b")))))
    assert(g === i)
  }

  test("BinaryFeatures expression: codegen == interpreted") {
    import spark.implicits._
    val bins = Seq((1L, Option("payload bytes here".getBytes)),
      (2L, Option(Array.emptyByteArray)), (3L, None)).toDF("id", "payload")
    val (g, i) = bothWays(bins.select(col("id"),
      BinaryFeatures(col("payload"), 8)))
    assert(g === i)
  }

  test("ImageHeader expressions: codegen == interpreted incl. malformed and NULL") {
    import spark.implicits._
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13) ++
      "IHDR".getBytes ++ b(0, 0, 0, 2, 0, 0, 0, 3, 8, 6, 0, 0, 0, 1, 2, 3, 4)
    val jpg = b(0xFF, 0xD8, 0xFF, 0xFE, 0, 4, 1, 2,
      0xFF, 0xC0, 0, 11, 8, 0, 5, 0, 6, 3, 0, 0, 0)
    val bins = Seq((1L, Option(png)), (2L, Option(jpg)),
      (3L, Option("garbage".getBytes)), (4L, Option(Array.emptyByteArray)),
      (5L, None: Option[Array[Byte]])).toDF("id", "payload")
    val (g, i) = bothWays(bins.select(col("id"),
      ImageHeader.pngDims(col("payload")),
      ImageHeader.jpegDims(col("payload"))))
    assert(g === i)
    // and the well-formed rows actually decode under both modes
    assert(g.find(_.getLong(0) == 1L).get.getStruct(1).getInt(0) === 2)
    assert(g.find(_.getLong(0) == 2L).get.getStruct(2).getInt(2) === 3)
    // one seed of each container plus mutated blobs through every
    // byte-walk kernel
    val blobs = (ByteWalkFuzz.seeds.take(10) ++ ByteWalkFuzz.blobs(30)).zipWithIndex
      .map { case (p, k) => (k.toLong, p) }.toDF("id", "payload")
    val (gb, ib) = bothWays(blobs.select(col("id"), ImageHeader.pngDims(col("payload")),
      ImageHeader.wavMeta(col("payload")), ImageHeader.mp4Meta(col("payload")),
      AudioPcm.pcmStats(col("payload")), AudioAdpcm.adpcmStats(col("payload")),
      AudioFingerprint.audioFp64(col("payload")), ExifTiff.exifMeta(col("payload")),
      Mp4SampleTable.samples(col("payload")), PngPixels.pngStats(col("payload")),
      PixelHash.grayDhash64(col("payload"))))
    assert(gb === ib)
    // and every seed row decodes in some kernel
    assert(gb.filter(_.getLong(0) < 10).forall(r => (1 until r.length).exists(!r.isNullAt(_))))
  }

  test("NearestCentroid: codegen == interpreted, GngOps-consistent winner") {
    val cents = Array(Array(0.0, 0.0, 0.0), Array(5.0, 5.0, 5.0))
    val (g, i) = bothWays(vecs.select(col("id"),
      graft.expressions.VectorOps.nearestCentroid(col("a"), cents)))
    assert(g === i)
    // same winner as the one nearest-centroid kernel G-Stream assigns with
    g.foreach { r =>
      val emb = if (r.getLong(0) == 1L) Array(1.0, 2.0, 3.0) else Array(0.0, 0.0, 0.0)
      assert(r.getInt(1) === Nearest.nearest(emb, 0, cents))
    }
  }

  test("BandHashes: codegen == interpreted; sig path == fused text path") {
    val sig = TextHash.minHashSig(col("text"), 3, 16)
    val (g, i) = bothWays(docs.select(col("id"), TextHash.bandHashes(sig, 4)))
    assert(g === i)
    // the stored-index path must land in the SAME buckets as the fused
    // text kernel — this equality is what makes an incremental batch
    // joinable against a persisted signature index
    val both = docs.select(col("id"),
      TextHash.bandHashes(sig, 4).as("from_sig"),
      TextHash.minHashBands(col("text"), 3, 16, 4).as("fused")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"id ${r.getLong(0)}")
    }
    // signature width not divisible by rowsPerBand is an error
    intercept[Exception] {
      docs.filter(col("id") === 1L)
        .select(TextHash.bandHashes(sig, 5)).collect()
    }
  }

  test("MaxCosine: codegen == interpreted; single-row matrix == cosineSimilarity") {
    val mat = Array(Array(4.0, 5.0, 6.0), Array(-1.0, 0.0, 2.0))
    // id=2 is the zero vector → NaN; NaN-valued rows are masked like the
    // cosine case above
    val (g, i) = bothWays(vecs.select(col("id"),
      when(col("id") === 1L,
        graft.expressions.VectorOps.maxCosine(col("a"), mat))))
    assert(g === i)
    // max over one row degenerates to plain cosine — bit-identical
    val one = vecs.filter(col("id") === 1L)
      .select(
        graft.expressions.VectorOps.maxCosine(col("a"), Array(Array(4.0, 5.0, 6.0))),
        graft.expressions.VectorOps.cosineSimilarity(col("a"), col("b")))
      .head()
    assert(one.getDouble(0) === one.getDouble(1))
    // the max really is the max: against both rows, the winner is the
    // parallel-ish one
    val both = vecs.filter(col("id") === 1L)
      .select(graft.expressions.VectorOps.maxCosine(col("a"), mat)).head().getDouble(0)
    assert(both === one.getDouble(0))
    // empty matrix and ragged rows are errors, not silent scores
    intercept[Exception] {
      vecs.select(graft.expressions.VectorOps.maxCosine(col("a"),
        Array.empty[Array[Double]])).collect()
    }
    intercept[Exception] {
      vecs.select(graft.expressions.VectorOps.maxCosine(col("a"),
        Array(Array(1.0, 2.0)))).collect()
    }
  }

  test("PqEncode/PqAdc: codegen == interpreted") {
    // 3-d vectors → 3 subspaces of 1 dim, 2 codewords each (incl. a tie
    // at 0.5 between codewords 0.0 and 1.0 → the lower index 0 wins)
    val cb = Array.fill(3)(Array(Array(0.0), Array(1.0)))
    val lut = Array.fill(3)(Array(0.25, 4.0))
    val (g, i) = bothWays(vecs.select(col("id"),
      graft.expressions.PqOps.pqEncode(col("a"), cb),
      graft.expressions.PqOps.pqAdc(
        graft.expressions.PqOps.pqEncode(col("a"), cb), lut)))
    assert(g === i)
  }

  test("NearestLists/PqAdcDirect: codegen == interpreted, twins of the driver paths") {
    val cents = Array(Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0), Array(5.0, 5.0, 5.0))
    val cb = Array.fill(3)(Array(Array(0.0), Array(1.0)))
    val (g, i) = bothWays(vecs.select(col("id"),
      graft.expressions.VectorOps.nearestLists(col("a"), cents, 2),
      graft.expressions.PqOps.pqAdcDirect(
        graft.expressions.PqOps.pqEncode(col("a"), cb), col("a"), cb)))
    assert(g === i)
    g.foreach { r =>
      val emb = if (r.getLong(0) == 1L) Array(1.0, 2.0, 3.0) else Array(0.0, 0.0, 0.0)
      // same probe set as the driver-side selection
      assert(r.getSeq[Int](1) === Nearest.nearestN(emb, cents, 2).toSeq,
        s"id=${r.getLong(0)}")
      // direct ADC == LUT build + lookup (bit-identical IEEE adds)
      val codes = Array.tabulate(3)(j =>
        if (emb(j) < 0.5 || emb(j) == 0.5) 0 else 1)
      val lut = graft.operators.Pq.adcLut(cb, emb)
      val expect = codes.zipWithIndex.map { case (c, j) => lut(j)(c) }
        .foldLeft(0.0)(_ + _)
      assert(r.getDouble(2) === expect, s"id=${r.getLong(0)}")
    }
  }

  test("LshBandSignatures: codegen == interpreted, matches per-band dot math") {
    val nBits = 4
    val nBands = 3
    val planes = graft.operators.Similarity.hyperplanes(nBits * nBands, 3, seed = 7L)
    val offsets = Array.tabulate(nBits * nBands)(i => (i % 5 - 2) * 0.01)
    for (offs <- Seq(Array.emptyDoubleArray, offsets)) {
      val (g, i) = bothWays(vecs.select(col("id"),
        graft.expressions.VectorOps.lshBandSignatures(col("a"), planes, offs, nBits)))
      assert(g === i)
      // fused kernel == the per-band scalar definition it replaced
      g.foreach { r =>
        val v = if (r.getLong(0) == 1L) Array(1.0, 2.0, 3.0) else Array(0.0, 0.0, 0.0)
        val expected = (0 until nBands).map { b =>
          (0 until nBits).map { bit =>
            val idx = b * nBits + bit
            val d = planes(idx).zip(v).map { case (p, x) => p * x }.sum
            val off = if (offs.isEmpty) 0.0 else offs(idx)
            if (d >= off) 1L << bit else 0L
          }.reduce(_ | _)
        }
        assert(r.getSeq[Long](1) === expected)
      }
    }
  }

  test("lsh_bands is registered as a SQL function") {
    graft.GraftExtensions.register(spark)
    val rows = spark.sql(
      """SELECT lsh_bands(array(1.0D, 2.0D), array(array(1.0D, 1.0D), array(-1.0D, -1.0D)), array(), 1)
        |AS sigs""".stripMargin).collect()
    // plane 0: dot=3 >= 0 -> bit0 set; plane 1: dot=-3 -> 0
    assert(rows.head.getSeq[Long](0) === Seq(1L, 0L))
  }

  test("vector kernels reject ragged (length-mismatched) inputs") {
    import spark.implicits._
    val ragged = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception] {
      ragged.select(graft.expressions.VectorOps.dot(col("a"), col("b"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("length mismatch")), s"got: ${msgs(e)}")
  }

  test("SigAgreement: codegen == interpreted") {
    val (g, i) = bothWays(docs.filter(length(col("text")) > 10).select(
      TextHash.sigAgreement(
        TextHash.minHashSig(col("text"), 3, 16),
        TextHash.minHashSig(lit("the quick brown fox jumps high"), 3, 16))))
    assert(g === i)
  }

  test("CmsEstimate: codegen == interpreted; String-keyed build matches probe; NULL → NULL") {
    import spark.implicits._
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(1e-3, 0.999, 42)
    // build with java Strings — exactly what stat.countMinSketch adds
    Seq("a", "a", "a", "b", "b", "zzz").foreach(cms.add)
    val keys = (Seq("a", "b", "zzz", "absent").map(Option(_)) :+
      Option.empty[String]).toDF("k")
    val probe = keys.select(col("k"),
      graft.expressions.SketchOps.cmsEstimate(col("k"), cms).as("est"))
    val (g, i) = bothWays(probe)
    assert(g === i)
    val est = g.map(r => Option(r.get(0)) -> r.get(1)).toMap
    // one-sided guarantee: estimates never undercount; here no
    // collisions are possible at width 2000 over 3 keys
    assert(est(Some("a")) === 3L)
    assert(est(Some("b")) === 2L)
    assert(est(Some("zzz")) === 1L)
    assert(est(Some("absent")) === 0L)
    assert(est(None) === null)
  }

  test("SqEncode/SqAdc: codegen == interpreted; encode∘adc round-trips a stored vector") {
    import spark.implicits._
    val mins = Array(0.0, -10.0, 5.0)
    val scales = Array(1.0 / 255, 20.0 / 255, 0.0)
    val rows = Seq((1L, Seq(0.5, 3.25, 5.0)), (2L, Seq(1.0, -10.0, 5.0)))
      .toDF("id", "v")
    val enc = rows.select(col("id"),
      graft.expressions.SqOps.sqEncode(col("v"), mins, scales).as("c"))
    val probe = enc.select(col("id"), col("c"),
      graft.expressions.SqOps.sqAdc(col("c"),
        Array(0.5, 3.25, 5.0), mins, scales).as("d"))
    val (g, i) = bothWays(probe)
    assert(g === i)
    // querying with row 1's own vector: residual ≤ Σ (scale/2)²
    val self = g.find(_.getLong(0) == 1L).get.getDouble(2)
    val bound = scales.map(s => (s / 2) * (s / 2)).sum + 1e-12
    assert(self <= bound, s"self-distance $self exceeds quantization bound $bound")
    // ragged code/query is an error
    intercept[Exception] {
      rows.select(graft.expressions.SqOps.sqEncode(col("v"),
        Array(0.0), Array(1.0))).collect()
    }
  }

  test("BloomMightContainString: codegen == interpreted; UTF-8 byte hashing matches putString") {
    import spark.implicits._
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.001)
    Seq("alpha", "uñïcodé", "").foreach(bloom.putString)
    val keys = (Seq("alpha", "uñïcodé", "", "missing-key").map(Option(_)) :+
      Option.empty[String]).toDF("k")
    val probe = keys.select(col("k"),
      graft.expressions.BloomOps.bloomMightContainString(col("k"), bloom).as("hit"))
    val (g, i) = bothWays(probe)
    assert(g === i)
    val hits = g.map(r => Option(r.get(0)) -> r.get(1)).toMap
    Seq("alpha", "uñïcodé", "").foreach(k => assert(hits(Some(k)) === true))
    assert(hits(None) === null)
  }

  test("BloomMightContain: codegen == interpreted; inserted keys always hit; NULL → NULL") {
    import spark.implicits._
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(1L, 2L, 3L, 500L).foreach(bloom.putLong)
    val keys = (Seq(1L, 2L, 3L, 4L, 99L, 500L).map(Option(_)) :+
      Option.empty[Long]).toDF("k")
    val probe = keys.select(col("k"),
      graft.expressions.BloomOps.bloomMightContain(col("k"), bloom).as("hit"))
    val (g, i) = bothWays(probe)
    assert(g === i)
    val hits = g.map(r => Option(r.get(0)) -> r.get(1)).toMap
    // no false negatives on inserted keys; NULL key probes to NULL
    Seq(1L, 2L, 3L, 500L).foreach(k => assert(hits(Some(k)) === true))
    assert(hits(None) === null)
  }

  test("NfcNormalize: codegen == interpreted; composes decomposed input") {
    import spark.implicits._
    val rows = Seq(Some("cafe\u0301 e\u0328\u0301 and \u200Bzw"), Some("plain ascii"), Some(""), None)
      .map(Tuple1(_)).toDF("t")
    val probe = rows.select(col("t"), TextNorm.nfcNormalize(col("t")).as("n"))
    val (g, i) = bothWays(probe)
    assert(g === i)
    val byIn = g.map(r => Option(r.getString(0)) -> Option(r.getString(1))).toMap
    assert(byIn(Some("cafe\u0301 e\u0328\u0301 and \u200Bzw")) ===
      Some(java.text.Normalizer.normalize("cafe\u0301 e\u0328\u0301 and \u200Bzw", java.text.Normalizer.Form.NFC)))
    assert(byIn(Some("plain ascii")) === Some("plain ascii"))
    assert(byIn(None) === None)
  }
}
