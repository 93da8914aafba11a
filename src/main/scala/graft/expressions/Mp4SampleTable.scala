package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx
import org.apache.spark.sql.types._

/** ISO-BMFF (MP4) SAMPLE-TABLE frame extraction — the tier above m08's
  * head probe (`ImageHeader.mp4Meta`, which reads only mvhd/mdat
  * declared sizes): this kernel walks `moov/trak/mdia/minf/stbl` and
  * reconstructs the per-sample (frame) map the container actually
  * encodes, per the public ISO/IEC 14496-12 layout:
  *
  *  - `stts`  (decoding time-to-sample): run-length (count, delta)
  *    pairs → per-sample decode timestamps (dts);
  *  - `ctts`  (composition offsets, optional): run-length (count,
  *    offset) pairs — pts = dts + offset, how B-frame files express
  *    display order ≠ decode order; absent means pts == dts;
  *  - `stsz`  (sample sizes): either one uniform size or a per-sample
  *    table;
  *  - `stsc`  (sample-to-chunk): (first_chunk, samples_per_chunk) runs
  *    — each run applies from its first_chunk until the next run's;
  *  - `stco` / `co64` (chunk offsets, 32- or 64-bit): ABSOLUTE file
  *    offsets of each chunk — chunks need not be contiguous or in
  *    sample order (re-muxed files interleave or reverse them), which
  *    is exactly why frame extraction must follow the table instead of
  *    assuming mdat-sequential layout; co64 is what real >4 GiB files
  *    carry, so both forms parse;
  *  - `stss`  (sync samples): 1-based keyframe numbers; ABSENT means
  *    every sample is a sync sample (the spec's default).
  *
  * Output: `array<struct>` of one row per sample — 0-based index, dts
  * (sum of stts deltas before it), pts (dts + ctts offset), absolute
  * byte offset, size, sync flag, and an order-weighted byte checksum
  * Σ (byte_j)·(j+1) mod 1e9+7
  * over the frame's actual bytes (the cheap content fingerprint the
  * m18 near-dup arm folds; a real pipeline would hand the byte range
  * to a decoder here).
  *
  * NULL — never a throw — on anything malformed: missing/truncated
  * boxes, entry counts beyond the DoS caps (checked BEFORE any
  * allocation), stsz/stts sample-count disagreement, a chunk walk that
  * runs out of stco entries, or a frame byte range outside the buffer
  * (frame extraction needs the media body by definition, unlike the
  * m08 head probe). Multi-trak files are handled by GENUINE video-trak
  * selection: the first trak whose `mdia/hdlr` declares handler_type
  * 'vide' is parsed (audio-first files included), falling back to the
  * first trak only for legacy hdlr-less containers.
  *
  * Scale: one pass per row, codegen'd like every kernel here; no state
  * beyond the row. Reference provenance: the probe tier it extends is
  * SURVEY.md §2's multimodal family (reference has no video path; this
  * is part of the commissioned training-data-pipeline surface).
  */
object Mp4SampleTable {

  val sampleType: StructType = StructType(Seq(
    StructField("sample_idx", IntegerType, nullable = false),
    StructField("dts", LongType, nullable = false),
    StructField("pts", LongType, nullable = false),
    StructField("frame_offset", LongType, nullable = false),
    StructField("frame_bytes", IntegerType, nullable = false),
    StructField("is_sync", BooleanType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  val samplesType: DataType = ArrayType(sampleType, containsNull = false)

  /** `mp4_samples(payload)` → array<struct<sample_idx, pts,
    * frame_offset, frame_bytes, is_sync, checksum>>, or NULL. */
  def samples(payload: Column): Column =
    graftx.column(Mp4SamplesExpr(graftx.expr(payload)))
}

object Mp4SampleTableImpl {
  import ByteWalk._

  /** Entry-count caps, enforced BEFORE allocation (adversarial-blob
    * discipline: a declared 2^31 entry count must NULL, not OOM). */
  private val MaxSamples = 1 << 20
  private val MaxEntries = 1 << 16

  private val ChecksumMod = 1000000007L

  def samples(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 16) return null
    val n = bytes.length.toLong
    if (!tag(bytes, 4, "ftyp")) return null

    val moov = box(bytes, 0L, n, "moov")
    if (moov < 0) return null
    // VIDEO-trak selection per the spec's hdlr box (real files carry an
    // audio trak too, often first): walk every trak child of moov and
    // pick the first whose mdia/hdlr declares handler_type 'vide'; fall
    // back to the FIRST trak only when no trak declares 'vide' at all
    // (legacy hdlr-less files). A first-trak shortcut lands on the
    // audio trak of any audio-first file and dies on its missing stbl.
    var trak = -1L
    var firstTrak = -1L
    var tp = bodyOf(moov)
    while (trak < 0 && tp + 8 <= endOf(moov)) {
      val t = box(bytes, tp, endOf(moov), "trak")
      if (t < 0) tp = endOf(moov) // no more traks
      else {
        if (firstTrak < 0) firstTrak = t
        val md = box(bytes, bodyOf(t), endOf(t), "mdia")
        if (md >= 0) {
          val hd = box(bytes, bodyOf(md), endOf(md), "hdlr")
          // handler_type sits at body + 8 (behind ver/flags + pre_defined)
          if (hd >= 0 && bodyOf(hd) + 12 <= endOf(hd) &&
              tag(bytes, bodyOf(hd) + 8, "vide")) trak = t
        }
        tp = endOf(t)
      }
    }
    if (trak < 0) trak = firstTrak
    if (trak < 0) return null
    val mdia = box(bytes, bodyOf(trak), endOf(trak), "mdia")
    if (mdia < 0) return null
    val minf = box(bytes, bodyOf(mdia), endOf(mdia), "minf")
    if (minf < 0) return null
    val stbl = box(bytes, bodyOf(minf), endOf(minf), "stbl")
    if (stbl < 0) return null
    val sb = bodyOf(stbl); val se = endOf(stbl)

    // ---- stts: per-sample decode timestamps ---------------------------
    val stts = box(bytes, sb, se, "stts")
    if (stts < 0) return null
    var p = bodyOf(stts); var e = endOf(stts)
    if (p + 8 > e) return null
    val nTts = be32(bytes, p + 4)
    if (nTts < 0 || nTts > MaxEntries || p + 8 + 8 * nTts > e) return null
    val ttsCount = new Array[Long](nTts.toInt)
    val ttsDelta = new Array[Long](nTts.toInt)
    var i = 0
    var nSamplesL = 0L
    while (i < nTts) {
      ttsCount(i) = be32(bytes, p + 8 + 8 * i)
      ttsDelta(i) = be32(bytes, p + 8 + 8 * i + 4)
      // the spec requires positive sample_count per run — a count-0 run
      // would mischarge its delta to one sample (the run advance steps
      // at most one run per sample): malformed ⇒ NULL, never wrong dts
      if (ttsCount(i) <= 0) return null
      nSamplesL += ttsCount(i)
      i += 1
    }
    if (nSamplesL <= 0 || nSamplesL > MaxSamples) return null
    val nS = nSamplesL.toInt

    // ---- ctts (optional): composition-time offsets — pts = dts + off;
    // absent means composition == decode order (no B-frames) ----------
    val ctts = box(bytes, sb, se, "ctts")
    var ctCount: Array[Long] = null
    var ctOff: Array[Long] = null
    if (ctts >= 0) {
      p = bodyOf(ctts); e = endOf(ctts)
      if (p + 8 > e) return null
      val nCt = be32(bytes, p + 4)
      if (nCt <= 0 || nCt > MaxEntries || p + 8 + 8 * nCt > e) return null
      ctCount = new Array[Long](nCt.toInt)
      ctOff = new Array[Long](nCt.toInt)
      i = 0
      while (i < nCt) {
        ctCount(i) = be32(bytes, p + 8 + 8 * i)
        ctOff(i) = be32(bytes, p + 8 + 8 * i + 4)
        if (ctCount(i) <= 0) return null // the stts count-0 argument
        i += 1
      }
    }

    // ---- stsz: per-sample sizes ---------------------------------------
    val stsz = box(bytes, sb, se, "stsz")
    if (stsz < 0) return null
    p = bodyOf(stsz); e = endOf(stsz)
    if (p + 12 > e) return null
    val uniform = be32(bytes, p + 4)
    val nSz = be32(bytes, p + 8)
    if (nSz != nSamplesL) return null // stts/stsz must agree
    val sizes = new Array[Int](nS)
    if (uniform != 0L) {
      if (uniform > Int.MaxValue) return null
      java.util.Arrays.fill(sizes, uniform.toInt)
    } else {
      if (p + 12 + 4L * nS > e) return null
      i = 0
      while (i < nS) {
        val s = be32(bytes, p + 12 + 4 * i)
        if (s > Int.MaxValue) return null
        sizes(i) = s.toInt
        i += 1
      }
    }

    // ---- stsc: sample-to-chunk runs -----------------------------------
    val stsc = box(bytes, sb, se, "stsc")
    if (stsc < 0) return null
    p = bodyOf(stsc); e = endOf(stsc)
    if (p + 8 > e) return null
    val nSc = be32(bytes, p + 4)
    if (nSc <= 0 || nSc > MaxEntries || p + 8 + 12 * nSc > e) return null
    val scFirst = new Array[Long](nSc.toInt)
    val scPer = new Array[Long](nSc.toInt)
    i = 0
    while (i < nSc) {
      scFirst(i) = be32(bytes, p + 8 + 12 * i)
      scPer(i) = be32(bytes, p + 8 + 12 * i + 4)
      if (scPer(i) <= 0 || scFirst(i) <= 0 ||
          (i > 0 && scFirst(i) <= scFirst(i - 1))) return null
      i += 1
    }
    if (scFirst(0) != 1L) return null

    // ---- stco / co64: absolute chunk offsets --------------------------
    // co64 is the 64-bit form real >4 GiB files require — accept either
    val stco = box(bytes, sb, se, "stco")
    val wide = stco < 0
    val co = if (wide) box(bytes, sb, se, "co64") else stco
    if (co < 0) return null
    p = bodyOf(co); e = endOf(co)
    if (p + 8 > e) return null
    val entryW = if (wide) 8 else 4
    val nCo = be32(bytes, p + 4)
    if (nCo <= 0 || nCo > MaxEntries || p + 8 + entryW * nCo > e) return null
    val chunkOff = new Array[Long](nCo.toInt)
    i = 0
    while (i < nCo) {
      chunkOff(i) =
        if (wide) be64(bytes, p + 8 + 8 * i)
        else be32(bytes, p + 8 + 4 * i)
      i += 1
    }

    // ---- stss: sync (keyframe) samples; absent = all sync -------------
    val stss = box(bytes, sb, se, "stss")
    val sync = new Array[Boolean](nS)
    if (stss < 0) {
      java.util.Arrays.fill(sync, true)
    } else {
      p = bodyOf(stss); e = endOf(stss)
      if (p + 8 > e) return null
      val nSy = be32(bytes, p + 4)
      if (nSy < 0 || nSy > MaxEntries || p + 8 + 4 * nSy > e) return null
      i = 0
      while (i < nSy) {
        val s1 = be32(bytes, p + 8 + 4 * i) // 1-based
        if (s1 < 1 || s1 > nS) return null
        sync((s1 - 1).toInt) = true
        i += 1
      }
    }

    // ---- reconstruct: walk samples through the chunk map --------------
    val rows = new Array[Any](nS)
    var run = 0          // current stsc run
    var chunk = scFirst(0) // 1-based chunk number
    var inChunk = 0L     // samples already placed in this chunk
    var chunkBase = 0L   // byte offset within the chunk
    var dts = 0L
    var ttsRun = 0
    var ttsUsed = 0L
    var ctRun = 0
    var ctUsed = 0L
    i = 0
    while (i < nS) {
      // advance to next chunk when the current one is full
      var per = scPer(run)
      while (inChunk >= per) {
        chunk += 1
        inChunk = 0L
        chunkBase = 0L
        if (run + 1 < scFirst.length && chunk >= scFirst(run + 1)) run += 1
        per = scPer(run)
      }
      if (chunk > nCo) return null // ran out of stco entries
      val off = chunkOff((chunk - 1).toInt) + chunkBase
      val sz = sizes(i)
      // overflow-safe bound: a hostile co64 offset near Long.MaxValue
      // wraps `off + sz` negative and would index out of bounds —
      // `off > n - sz` cannot wrap (n, sz bounded by the array length)
      if (off < 0 || sz < 0 || sz > n || off > n - sz) return null
      var ck = 0L
      var j = 0
      val o = off.toInt
      while (j < sz) {
        ck += u8(bytes, o + j).toLong * (j + 1)
        // periodic reduction: 64K terms of ≤ 255·2^31 stay under 2^62,
        // so the running sum never wraps even for 2 GB frames
        if ((j & 0xffff) == 0xffff) ck %= ChecksumMod
        j += 1
      }
      val pts = dts + (if (ctOff == null) 0L else ctOff(ctRun))
      rows(i) = InternalRow(i, dts, pts, off, sz, sync(i), ck % ChecksumMod)
      chunkBase += sz
      inChunk += 1
      // dts advance via the stts runs; ctts runs walk in parallel
      ttsUsed += 1
      dts += ttsDelta(ttsRun)
      if (ttsUsed >= ttsCount(ttsRun) && ttsRun + 1 < ttsCount.length) {
        ttsRun += 1; ttsUsed = 0L
      }
      if (ctOff != null) {
        ctUsed += 1
        if (ctUsed >= ctCount(ctRun) && ctRun + 1 < ctCount.length) {
          ctRun += 1; ctUsed = 0L
        }
      }
      i += 1
    }
    new GenericArrayData(rows)
  }
}

case class Mp4SamplesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = Mp4SampleTable.samplesType
  override def nullable: Boolean = true
  override def prettyName: String = "mp4_samples"
  override protected def nullSafeEval(input: Any): Any =
    Mp4SampleTableImpl.samples(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.Mp4SampleTableImpl.samples($c);
      ${ev.isNull} = (${ev.value} == null);
    """)
  override protected def withNewChildInternal(newChild: Expression): Mp4SamplesExpr =
    copy(child = newChild)
}
