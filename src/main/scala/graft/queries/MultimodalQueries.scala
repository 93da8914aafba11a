package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.queries.QueryDef.sql

/** Multimodal binary-column operators over the documents table.
  *
  * There is no binary fixture table, so each query synthesizes payloads
  * deterministically from `documents`: a format magic chosen by
  * `doc_id % 4` (JPEG / PNG / RIFF / none) prepended to the UTF-8 text
  * bytes. Both engines build the identical blob, so metadata, format
  * sniffing, and frame hashing are verified end-to-end through real
  * byte plumbing; only the decoders themselves are stubs (see
  * [[graft.operators.Multimodal]]).
  */
object MultimodalQueries {

  /** Spark-side payload: unhex(magic) || text bytes. */
  private val payloadExpr =
    expr("concat(unhex(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'FFD8FF' " +
      "WHEN 1 THEN '89504E47' WHEN 2 THEN '52494646' ELSE '' END), " +
      "CAST(text AS BINARY))")

  /** DuckDB-side payload — byte-identical to [[payloadExpr]]. */
  private val payloadSql =
    "unhex(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'FFD8FF' " +
      "WHEN 1 THEN '89504E47' WHEN 2 THEN '52494646' ELSE '' END) || encode(text)"

  private val modalityCase =
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'image' " +
      "WHEN 2 THEN 'audio' ELSE 'text' END"

  /** m03's payload: a WELL-FORMED image header synthesized from doc_id,
    * followed by the text bytes as body. JPEG headers interleave
    * variable-length APP0/COM segments, a DHT, and a fill byte before
    * the SOF0 so the parser must walk the marker-segment chain; PNG
    * headers are a real signature + IHDR with a per-document color
    * type (big-endian dims); every doc_id % 8 == 5 document gets a
    * GIF89a header instead — LITTLE-endian dims, so the parser's
    * byte-order handling is exercised in both directions. */
  private val m03PayloadExpr = expr(
    """unhex(CASE WHEN CAST(doc_id % 4 AS INT) = 0 THEN
      |  concat('FFD8',
      |    'FFE0', lpad(hex(10 + doc_id % 8), 4, '0'),
      |    repeat('4A', CAST(8 + doc_id % 8 AS INT)),
      |    'FFC4', '0005', '010203',
      |    'FFFE', lpad(hex(6 + doc_id % 5), 4, '0'),
      |    repeat('43', CAST(4 + doc_id % 5 AS INT)),
      |    'FF',
      |    'FFC0', lpad(hex(8 + 3 * (1 + (doc_id % 2) * 2)), 4, '0'), '08',
      |    lpad(hex(120 + doc_id % 1000), 4, '0'),
      |    lpad(hex(80 + (doc_id * 7) % 1000), 4, '0'),
      |    lpad(hex(1 + (doc_id % 2) * 2), 2, '0'),
      |    repeat('00', CAST(3 * (1 + (doc_id % 2) * 2) AS INT)))
      |WHEN CAST(doc_id % 8 AS INT) = 5 THEN
      |  concat('474946383961',
      |    substr(lpad(hex(16 + doc_id % 2000), 4, '0'), 3, 2),
      |    substr(lpad(hex(16 + doc_id % 2000), 4, '0'), 1, 2),
      |    substr(lpad(hex(16 + (doc_id * 3) % 2000), 4, '0'), 3, 2),
      |    substr(lpad(hex(16 + (doc_id * 3) % 2000), 4, '0'), 1, 2),
      |    '000000')
      |ELSE
      |  concat('89504E470D0A1A0A', '0000000D', '49484452',
      |    lpad(hex(16 + doc_id % 2000), 8, '0'),
      |    lpad(hex(16 + (doc_id * 3) % 2000), 8, '0'),
      |    '08', lpad(hex(CASE CAST((doc_id DIV 4) % 4 AS INT)
      |      WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 6 END), 2, '0'),
      |    '000000', 'DEADBEEF')
      |END) || CAST(text AS BINARY)""".stripMargin)

  private def le16(e: String) =
    s"concat(substr(lpad(hex($e), 4, '0'), 3, 2), substr(lpad(hex($e), 4, '0'), 1, 2))"
  private def le32(e: String) =
    s"concat(substr(lpad(hex($e), 8, '0'), 7, 2), substr(lpad(hex($e), 8, '0'), 5, 2), " +
      s"substr(lpad(hex($e), 8, '0'), 3, 2), substr(lpad(hex($e), 8, '0'), 1, 2))"

  /** m06's payload: a WELL-FORMED RIFF-WAVE header synthesized from
    * doc_id — all multi-byte fields LITTLE-endian by formula, and
    * every doc_id % 3 == 0 document gets an ODD-sized LIST chunk (plus
    * its pad byte) BEFORE the fmt chunk, so the parser must walk
    * chunks with even-length padding, not read fixed offsets. */
  private val m06PayloadExpr = expr(
    s"""unhex(concat('52494646', ${le32("36 + 1000 + doc_id % 9000")}, '57415645',
       |  CASE WHEN doc_id % 3 = 0
       |       THEN concat('4C495354', ${le32("5")}, repeat('4A', 5), '00')
       |       ELSE '' END,
       |  '666D7420', ${le32("16")},
       |  ${le16("1")}, ${le16("1 + doc_id % 2")},
       |  ${le32("8000 * (1 + doc_id % 5)")},
       |  ${le32("8000")}, ${le16("4")}, ${le16("8 * (1 + doc_id % 3)")},
       |  '64617461', ${le32("1000 + doc_id % 9000")}))
       |  || CAST(text AS BINARY)""".stripMargin)

  /** m10's payload: a COMPLETE PCM16 WAV — m06's chunk-walk structure
    * (LIST-before-fmt on every third doc) but with a REAL sample body:
    * nf = 48 + doc_id % 80 frames × (1 + doc_id % 2) channels of int16
    * little-endian samples s_k = ((doc_id·131 + k·7919) % 20001) −
    * 10000 — both engines derive the waveform from this formula, so
    * the decoded features verify end-to-end (builder-parser identity
    * on actual sample bytes, not just headers). bits fixed at 16
    * (PCM16 is the decode contract); byteRate deliberately junk. */
  private val m10PayloadExpr = {
    val ch = "(1 + doc_id % 2)"
    val nf = "(48 + doc_id % 80)"
    val db = s"(2 * $nf * $ch)"
    val sampleHex =
      s"""array_join(transform(sequence(0, $nf * $ch - 1), k ->
         |  concat(substr(lpad(hex(pmod(pmod(doc_id * 131 + k * 7919, 20001) - 10000, 65536)), 4, '0'), 3, 2),
         |         substr(lpad(hex(pmod(pmod(doc_id * 131 + k * 7919, 20001) - 10000, 65536)), 4, '0'), 1, 2))), '')""".stripMargin
    expr(
      s"""unhex(concat('52494646', ${le32(s"36 + $db")}, '57415645',
         |  CASE WHEN doc_id % 3 = 0
         |       THEN concat('4C495354', ${le32("5")}, repeat('4A', 5), '00')
         |       ELSE '' END,
         |  '666D7420', ${le32("16")},
         |  ${le16("1")}, ${le16(ch)},
         |  ${le32(s"8000 * (1 + doc_id % 5)")},
         |  ${le32("8000")}, ${le16("4")}, ${le16("16")},
         |  '64617461', ${le32(db)},
         |  $sampleHex))""".stripMargin)
  }

  /** m08's payload: a WELL-FORMED ISO-BMFF (MP4) head synthesized from
    * doc_id — ftyp, an odd-sized `free` box on every third doc (the
    * walk must step by declared size, not even offsets), a moov whose
    * mvhd is VERSION 0 normally but VERSION 1 (64-bit times) on every
    * seventh doc, 1–3 stub trak children, and an mdat whose body is
    * ABSENT — its size is declared (largesize/BE64 form on every fifth
    * doc), exactly the head-only ranged read a crawl probe performs.
    * All multi-byte fields BIG-endian (lpad hex), the opposite of
    * m06's RIFF — both byte orders stay exercised. */
  private val m08PayloadExpr = {
    def be32(e: String) = s"lpad(hex($e), 8, '0')"
    def be64(e: String) = s"lpad(hex($e), 16, '0')"
    val matrix =
      "'000100000000000000000000000000000001000000000000000000000000000040000000'"
    val ts = "600 * (1 + doc_id % 4)"
    val dur = "6000 + doc_id % 90000"
    val nT = "CAST(1 + doc_id % 3 AS INT)"
    val mvhdV0 =
      s"concat(${be32("108")}, '6D766864', '00000000', ${be32("0")}, ${be32("0")}, " +
        s"${be32(ts)}, ${be32(dur)}, '00010000', '0100', '0000', ${be64("0")}, " +
        s"$matrix, repeat('00', 24), ${be32("99")})"
    val mvhdV1 =
      s"concat(${be32("120")}, '6D766864', '01000000', ${be64("0")}, ${be64("0")}, " +
        s"${be32(ts)}, ${be64(dur)}, '00010000', '0100', '0000', ${be64("0")}, " +
        s"$matrix, repeat('00', 24), ${be32("99")})"
    expr(
      s"""unhex(concat(
         |  ${be32("20")}, '66747970', '69736F6D', ${be32("512")}, '6D703431',
         |  CASE WHEN doc_id % 3 = 0
         |       THEN concat(${be32("13")}, '66726565', repeat('4A', 5)) ELSE '' END,
         |  ${be32(s"8 + (CASE WHEN doc_id % 7 = 0 THEN 120 ELSE 108 END) + 8 * (1 + doc_id % 3)")},
         |  '6D6F6F76',
         |  CASE WHEN doc_id % 7 = 0 THEN $mvhdV1 ELSE $mvhdV0 END,
         |  repeat('000000087472616B', $nT),
         |  CASE WHEN doc_id % 5 = 0
         |       THEN concat(${be32("1")}, '6D646174', ${be64("16 + 500 + doc_id % 4000")})
         |       ELSE concat(${be32("8 + 500 + doc_id % 4000")}, '6D646174') END))""".stripMargin)
  }

  // ---- m09: perceptual near-dup over DECODED pixels ----------------------

  /** m09's pixel formula — ONE SQL string both engines evaluate
    * (multiply-then-mod mixing so grids are pseudo-random per cell;
    * everything stays far inside BIGINT). `edit` = 1 brightens the
    * top-left two cells by +40 (mod 256) — the "slightly retouched
    * re-encode" that must still land within the hamming budget. */
  private def m09PxSql(src: String, x: String, y: String, edit: String): String = {
    val inner = s"($src*31 + ($x)*7 + ($y)*13 + ($x)*($y) + $src*($x) + 2*$src*($y))"
    s"((($inner * 2654435761) % 1000003) % 256 " +
      s"+ CASE WHEN $edit = 1 AND ($x) < 2 AND ($y) < 1 THEN 40 ELSE 0 END) % 256"
  }

  /** m09's 9×8 grayscale grid dims (blocks are 1×1 at this size; the
    * kernel's block-averaging path is exercised by MultimodalSpec on
    * larger grids). */
  private val m09W = 9
  private val m09H = 8

  /** Spark-side m09 payload builders — builder-parser identity: the
    * fixture encodes pixel grids with SQL expressions; the kernel
    * decodes them in Scala. Encoding A = GPR1 row-major; encoding B =
    * GPC1 column-major with every byte XOR 0xA5 — the same picture as
    * a byte stream sharing NOTHING with A (what m05's byte sketches
    * miss by construction). */
  private def m09PayloadA(src: String, edit: String) = expr(
    s"""unhex(concat('47505231', '000$m09W', '000$m09H',
       |  array_join(transform(sequence(0, ${m09W * m09H - 1}),
       |    i -> lpad(hex(${m09PxSql(src, s"i % $m09W", s"i div $m09W", edit)}), 2, '0')), '')))""".stripMargin)

  private def m09PayloadB(src: String, edit: String) = expr(
    s"""unhex(concat('47504331', '000$m09W', '000$m09H',
       |  array_join(transform(sequence(0, ${m09W * m09H - 1}),
       |    i -> lpad(hex((${m09PxSql(src, s"i div $m09H", s"i % $m09H", edit)}) ^ 165), 2, '0')), '')))""".stripMargin)

  /** m09's DuckDB oracle: replay the pixel formula → 9×8 means → 64
    * comparison bits → unsigned HUGEINT hash → the SAME 4×16-bit band
    * join and popcount verify as the engine. No payload bytes and no
    * kernel hash arithmetic appear — ground truth from the formulas
    * that built the fixture (m03's builder-parser identity), so a
    * decode bug, a resize bug, or a banding bug all surface as a
    * hash mismatch. */
  private val m09OracleSql: String = {
    def meanSql(r: String, c: String): String =
      s"(${m09PxSql("src", c, r, "edit")})" // 1×1 blocks at 9×8: mean == pixel
    s"""WITH imgs AS (
       |  SELECT doc_id AS id, doc_id AS src, 0 AS edit FROM documents
       |  WHERE CAST(doc_id % 4 AS INT) IN (0, 1)
       |  UNION ALL
       |  SELECT doc_id + 10000000, doc_id,
       |    CASE WHEN CAST(doc_id % 16 AS INT) = 1 THEN 0 ELSE 1 END
       |  FROM documents WHERE CAST(doc_id % 8 AS INT) = 1),
       |cells AS (
       |  SELECT id, r, c, ${meanSql("r", "c")} AS m
       |  FROM imgs, unnest(generate_series(0, 7)) AS tr(r),
       |       unnest(generate_series(0, 8)) AS tc(c)),
       |bits AS (
       |  SELECT l.id, l.r * 8 + l.c AS i,
       |    CASE WHEN l.m > rr.m THEN 1 ELSE 0 END AS bit
       |  FROM cells l JOIN cells rr ON rr.id = l.id AND rr.r = l.r AND rr.c = l.c + 1
       |  WHERE l.c < 8),
       |uh AS (
       |  SELECT id, CAST(sum(CAST((CAST(1 AS UBIGINT) << CAST(i AS INT)) AS HUGEINT) * bit)
       |    AS HUGEINT) AS u
       |  FROM bits GROUP BY id),
       |banded AS (
       |  SELECT id, 0 AS b, (u // 1) % 65536 AS chunk FROM uh
       |  UNION ALL SELECT id, 1, (u // 65536) % 65536 FROM uh
       |  UNION ALL SELECT id, 2, (u // 4294967296) % 65536 FROM uh
       |  UNION ALL SELECT id, 3, (u // 281474976710656) % 65536 FROM uh),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM banded a JOIN banded b2 ON a.b = b2.b AND a.chunk = b2.chunk AND a.id < b2.id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(CAST(sa.u AS UBIGINT), CAST(sb.u AS UBIGINT))) AS BIGINT) AS hamming
       |FROM cand JOIN uh sa ON sa.id = cand.id_a JOIN uh sb ON sb.id = cand.id_b
       |WHERE bit_count(xor(CAST(sa.u AS UBIGINT), CAST(sb.u AS UBIGINT))) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** m12's DuckDB oracle: ground truth from the block formula that
    * built the fixtures (builder-parser identity). Lossless features
    * replay exactly; the JPEG/hostile feature columns are NULL by
    * construction; `caught` states the deterministic banding claim
    * (all three encodings mutually at hamming 0 → every member pairs;
    * the hostile blob decodes to NULL → never pairs). */
  private val m12OracleSql: String = {
    val blockSql =
      "(((((d*31 + bc*7 + br*13 + bc*br + d*bc + 2*d*br) % 1000003) * 2654435761) % 1000003) % 12) * 17 + 25"
    s"""WITH m12d AS (SELECT doc_id AS d FROM documents WHERE CAST(doc_id % 8 AS INT) = 1),
       |px AS (
       |  SELECT d, k, $blockSql AS p
       |  FROM (SELECT d, k, (k // 576) AS br, ((k % 72) // 8) AS bc
       |        FROM m12d, LATERAL (SELECT unnest(generate_series(0, 4607)) AS k) kk) g),
       |feats AS (
       |  SELECT d, CAST(sum(p) AS BIGINT) AS px_sum,
       |    CAST(sum(p * (1 + k % 97)) AS BIGINT) AS checksum
       |  FROM px GROUP BY d),
       |rows_ AS (
       |  SELECT d, d * 8 AS id, 'png24' AS enc, TRUE AS lossless, TRUE AS ok FROM m12d
       |  UNION ALL SELECT d, d * 8 + 1, 'png8', TRUE, TRUE FROM m12d
       |  UNION ALL SELECT d, d * 8 + 2, 'jpeg', FALSE, TRUE FROM m12d
       |  UNION ALL SELECT d, d * 8 + 4, 'gif', TRUE, TRUE FROM m12d
       |  UNION ALL SELECT d, d * 8 + 3, 'hostile', FALSE, FALSE FROM m12d
       |    WHERE CAST(d % 16 AS INT) = 1)
       |SELECT r.id, r.enc,
       |  CASE WHEN r.ok THEN 72 END AS width,
       |  CASE WHEN r.ok THEN 64 END AS height,
       |  CASE WHEN r.lossless THEN f.px_sum END AS px_sum,
       |  CASE WHEN r.lossless THEN f.checksum END AS checksum,
       |  r.ok AS caught
       |FROM rows_ r JOIN feats f USING (d)
       |ORDER BY r.id""".stripMargin
  }

  /** m13's DuckDB oracle: the IMA state machine replayed as a
    * RECURSIVE CTE — per (doc, block), sample r+1 derives from sample
    * r through the step-size table (injected from the SAME Scala
    * constant the kernel uses), the nibble formula, and the spec's
    * clamps; features aggregate over the concatenated blocks. A
    * single mis-stepped nibble, a wrong clamp, or a decoded pad
    * nibble shifts the checksum and fails the hash. */
  private val m13OracleSql: String = {
    val stepValues = graft.expressions.AudioAdpcm.StepTable.zipWithIndex
      .map { case (sz, i) => s"($i, $sz)" }.mkString(", ")
    val nib = "(dec.d * 7 + dec.b * 5 + dec.r * 13) % 16"
    s"""WITH RECURSIVE
       |ad AS (SELECT doc_id AS d, CAST(8000 * (1 + doc_id % 5) AS INT) AS rate,
       |         64 + doc_id % 64 AS nf
       |       FROM documents WHERE CAST(doc_id % 4 AS INT) = 2),
       |blk AS (SELECT d, nf, b, least(65, nf - b * 65) AS inblk
       |        FROM ad, LATERAL (SELECT unnest(generate_series(0, (nf + 64) // 65 - 1)) AS b) bb),
       |stt(i, sz) AS (SELECT * FROM (VALUES $stepValues) t(i, sz)),
       |dec(d, b, r, val, idx) AS (
       |  SELECT d, b, 0, ((d * 131 + b * 7919) % 20001) - 10000, (d * 17 + b * 31) % 89
       |  FROM blk
       |  UNION ALL
       |  SELECT x.d, x.b, x.r + 1,
       |    least(greatest(CASE WHEN x.nib >= 8 THEN x.val - x.vpdiff
       |                        ELSE x.val + x.vpdiff END, -32768), 32767),
       |    least(greatest(x.idx + CASE x.nib % 8 WHEN 4 THEN 2 WHEN 5 THEN 4
       |                                          WHEN 6 THEN 6 WHEN 7 THEN 8
       |                                          ELSE -1 END, 0), 88)
       |  FROM (
       |    SELECT dec.d, dec.b, dec.r, dec.val, dec.idx, $nib AS nib,
       |      (stt.sz // 8)
       |        + CASE WHEN ($nib) % 8 >= 4 THEN stt.sz ELSE 0 END
       |        + CASE WHEN (($nib) % 8) % 4 >= 2 THEN stt.sz // 2 ELSE 0 END
       |        + CASE WHEN ($nib) % 2 = 1 THEN stt.sz // 4 ELSE 0 END AS vpdiff
       |    FROM dec
       |    JOIN stt ON stt.i = dec.idx
       |    JOIN blk ON blk.d = dec.d AND blk.b = dec.b
       |    WHERE dec.r + 1 < blk.inblk) x),
       |sm AS (
       |  SELECT d, b * 65 + r AS k, val AS s,
       |    lag(val) OVER (PARTITION BY d ORDER BY b * 65 + r) AS sp
       |  FROM dec)
       |SELECT ad.d AS doc_id, ad.rate AS sample_rate,
       |  CAST(ad.nf AS BIGINT) AS n_samples,
       |  CAST(ad.nf * 1000 // ad.rate AS BIGINT) AS duration_ms,
       |  CAST(max(abs(sm.s)) AS BIGINT) AS peak_abs,
       |  CAST(sum(CASE WHEN sm.sp IS NOT NULL AND sm.sp * sm.s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
       |  round(sqrt(sum(sm.s * sm.s) * 1.0 / ad.nf) + 1e-9, 4) AS rms,
       |  CAST(sum(sm.s * (1 + sm.k % 97)) AS BIGINT) AS checksum
       |FROM ad JOIN sm ON sm.d = ad.d
       |GROUP BY ad.d, ad.rate, ad.nf
       |ORDER BY doc_id""".stripMargin
  }

  // ---- m15: audio perceptual near-dup -------------------------------

  /** m15's signal formula as SQL: sample `k` of doc `d` — constant
    * ±amp per 16-sample band, amp 256/1024 by the two-modulus level
    * hash (Multimodal.m15Sample verbatim). */
  private def m15SigSql(d: String, k: String): String = {
    val gb = s"(($k) // 16)"
    s"""(CASE WHEN (((($d) % 1009 + 1) * ($gb + 3) + (($d) % 127) * ($gb * $gb + 1)) % 101) % 2 = 1
       |  THEN 1024 ELSE 256 END
       | * CASE WHEN $gb % 2 = 0 THEN 1 ELSE -1 END)""".stripMargin.replace("\n", " ")
  }

  /** m15's DuckDB oracle: ground truth from the SIGNAL formula — the
    * ADPCM arm re-derives its reconstructed waveform through the fused
    * IMA encoder/decoder state machine as a recursive CTE (the encoder
    * quantizes against the reconstructed predictor, so its state IS
    * the decoder's — no payload bytes appear), the PCM arm is the
    * formula directly; both then run the same settle-skip band
    * energies → threshold quantization → Haitsma–Kalker sign bits →
    * 4×16 banding + popcount verify as the engine. A mis-stepped
    * nibble, a wrong clamp, a settle-window off-by-one, or a banding
    * bug all surface as a hash mismatch. */
  private[queries] val m15OracleSql: String = {
    val stepValues = graft.expressions.AudioAdpcm.StepTable.zipWithIndex
      .map { case (sz, i) => s"($i, $sz)" }.mkString(", ")
    s"""WITH RECURSIVE
       |fx AS (SELECT doc_id AS d FROM documents WHERE CAST(doc_id % 8 AS INT) = 2),
       |stt(i, sz) AS (SELECT * FROM (VALUES $stepValues) t(i, sz)),
       |enc(d, r, val, idx) AS (
       |  SELECT d, 0, ${m15SigSql("d", "0")}, 0 FROM fx
       |  UNION ALL
       |  SELECT x.d, x.r + 1,
       |    least(greatest(CASE WHEN x.diff < 0 THEN x.val - x.vpdiff
       |                        ELSE x.val + x.vpdiff END, -32768), 32767),
       |    least(greatest(x.idx + CASE x.delta WHEN 4 THEN 2 WHEN 5 THEN 4
       |                                        WHEN 6 THEN 6 WHEN 7 THEN 8
       |                                        ELSE -1 END, 0), 88)
       |  FROM (
       |    SELECT d, r, val, idx, diff,
       |      b4 * 4 + b2 * 2 + b1 AS delta,
       |      (sz // 8) + b4 * sz + b2 * (sz // 2) + b1 * (sz // 4) AS vpdiff
       |    FROM (
       |      SELECT e.d, e.r, e.val, e.idx, t.sz,
       |        (${m15SigSql("e.d", "e.r + 1")}) - e.val AS diff,
       |        abs((${m15SigSql("e.d", "e.r + 1")}) - e.val) AS ad,
       |        CASE WHEN ad >= t.sz THEN 1 ELSE 0 END AS b4,
       |        ad - (CASE WHEN ad >= t.sz THEN 1 ELSE 0 END) * t.sz AS r4,
       |        CASE WHEN r4 >= t.sz // 2 THEN 1 ELSE 0 END AS b2,
       |        r4 - (CASE WHEN r4 >= t.sz // 2 THEN 1 ELSE 0 END) * (t.sz // 2) AS r2,
       |        CASE WHEN r2 >= t.sz // 4 THEN 1 ELSE 0 END AS b1
       |      FROM enc e JOIN stt t ON t.i = e.idx
       |      WHERE e.r + 1 < 1152) y) x),
       |pcm AS (SELECT d * 4 AS id, k, ${m15SigSql("d", "k")} AS s
       |        FROM fx, LATERAL (SELECT unnest(generate_series(0, 1151)) AS k) kk),
       |adp AS (SELECT d * 4 + 1 AS id, r AS k, val AS s FROM enc),
       |alls AS (SELECT * FROM pcm UNION ALL SELECT * FROM adp),
       |eng AS (SELECT id, k // 16 AS gb, sum(CAST(s AS BIGINT) * s) AS e
       |        FROM alls WHERE k % 16 >= 8 GROUP BY 1, 2),
       |qv AS (SELECT id, gb, CASE WHEN e >= 2097152 THEN 1 ELSE 0 END AS q FROM eng),
       |bits AS (
       |  SELECT a.id, (a.gb // 9) * 8 + (a.gb % 9) AS i,
       |    CASE WHEN (a.q - b2.q) - (COALESCE(pa.q, 0) - COALESCE(pb.q, 0)) > 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM qv a
       |  JOIN qv b2 ON b2.id = a.id AND b2.gb = a.gb + 1
       |  LEFT JOIN qv pa ON pa.id = a.id AND pa.gb = a.gb - 9
       |  LEFT JOIN qv pb ON pb.id = a.id AND pb.gb = a.gb - 8
       |  WHERE a.gb % 9 < 8),
       |uh AS (
       |  SELECT id, CAST(sum(CAST((CAST(1 AS UBIGINT) << CAST(i AS INT)) AS HUGEINT) * bit)
       |    AS HUGEINT) AS u
       |  FROM bits GROUP BY id),
       |banded AS (
       |  SELECT id, 0 AS b, (u // 1) % 65536 AS chunk FROM uh
       |  UNION ALL SELECT id, 1, (u // 65536) % 65536 FROM uh
       |  UNION ALL SELECT id, 2, (u // 4294967296) % 65536 FROM uh
       |  UNION ALL SELECT id, 3, (u // 281474976710656) % 65536 FROM uh),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM banded a JOIN banded b2 ON a.b = b2.b AND a.chunk = b2.chunk AND a.id < b2.id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(CAST(sa.u AS UBIGINT), CAST(sb.u AS UBIGINT))) AS BIGINT) AS hamming
       |FROM cand JOIN uh sa ON sa.id = cand.id_a JOIN uh sb ON sb.id = cand.id_b
       |WHERE bit_count(xor(CAST(sa.u AS UBIGINT), CAST(sb.u AS UBIGINT))) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- m17/m18: sample-table frame extraction + video near-dup ---------

  /** Shared m17/m18 fixture + kernel stage: one MP4 per doc_id % 3 == 2
    * document (arm 0), plus a re-muxed arm-1 twin for doc_id % 12 == 2
    * — vid = doc_id·4 + arm (the m12 multiply-don't-offset id
    * encoding, collision-free at any corpus size). Payloads are built
    * AND parsed per-row (one codegen pass, no shuffle); the exploded
    * samples keep their struct under column `s`. */
  private def m17Frames(s: SparkSession, d: String): DataFrame =
    m17FramesOfArms(m17ArmRows(Tables.documents(s, d)))

  /** The fixture's (doc_id, arm) rows: arm 0 for every doc_id % 3 == 2
    * document, plus the re-muxed arm 1 for doc_id % 12 == 2 — ARM
    * granularity so a streaming fixture can land a twin's two arms in
    * DIFFERENT micro-batches (s36's cross-batch pair discovery). */
  private def m17ArmRows(docs: DataFrame): DataFrame =
    docs.filter(expr("CAST(doc_id % 3 AS INT) = 2"))
      .select(col("doc_id"),
        explode(when(expr("CAST(doc_id % 12 AS INT) = 2"),
          array(lit(0), lit(1))).otherwise(array(lit(0)))).as("arm"))

  /** Build + sample-table-walk the container of each (doc_id, arm)
    * row — the per-batch unit of work s36 pays for its own arrivals. */
  private def m17FramesOfArms(armRows: DataFrame): DataFrame = {
    val s = armRows.sparkSession
    import s.implicits._
    val vids = armRows
      .select(col("doc_id").cast("long"), col("arm").cast("int"))
      .as[(Long, Int)]
      .map { case (id, arm) =>
        (id * 4 + arm, id, arm, Multimodal.encodeMp4(id, remux = arm == 1)) }
      .toDF("vid", "doc_id", "arm", "payload")
    vids.select(col("vid"), col("doc_id"), col("arm"),
      explode(graft.expressions.Mp4SampleTable.samples(col("payload"))).as("s"))
  }

  /** m18/s36's shared fingerprint stage: keyframe-sampled
    * order-weighted fold per video — (vid, doc_id, fp). */
  private def m17FingerprintsOfArms(armRows: DataFrame): DataFrame =
    m17FramesOfArms(armRows)
      .filter(col("s.is_sync"))
      .groupBy(col("vid"), col("doc_id"))
      .agg((sum(col("s.checksum") * (col("s.sample_idx") + 1)) % lit(1000000007L)).as("fp"))

  /** The m17/m18 oracles' shared prefix: per-(vid, sample) ground truth
    * from the fixture formulas. Frame offsets fall out of ONE window
    * sum over sizes in FILE order — natural chunk order for arm 0,
    * reversed for arm 1 (samples stay in natural order within a
    * chunk) — after the layout constants (moov size, free box, mdat
    * start) are restated arithmetically. */
  private val m17BaseSql: String =
    """d17 AS (SELECT doc_id AS d FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
      |vids AS (
      |  SELECT d, d * 4 AS vid, 0 AS arm FROM d17
      |  UNION ALL
      |  SELECT d, d * 4 + 1, 1 FROM d17 WHERE CAST(d % 12 AS INT) = 2),
      |par AS (
      |  SELECT vid, d, arm, CAST(6 + d % 5 AS INT) AS ns, 100 + d % 50 AS d1,
      |    CASE WHEN arm = 0 THEN 3 ELSE 2 END AS cpc
      |  FROM vids),
      |lay AS (
      |  SELECT par.*, (ns + cpc - 1) // cpc AS nc, (ns + 2) // 3 AS nsync,
      |    CASE WHEN ns % cpc = 0 THEN 1 ELSE 2 END AS ne
      |  FROM par),
      |mst AS (
      |  SELECT lay.*,
      |    20 + CASE WHEN arm = 1 THEN 9 + d % 7 ELSE 0 END
      |      + (73 + CASE WHEN d % 6 = 5 THEN 49 ELSE 0 END
      |         + 32 + CASE WHEN d % 5 IN (1, 3) THEN 32 ELSE 0 END
      |         + (20 + 4 * ns) + (16 + 12 * ne)
      |         + (16 + CASE WHEN d % 4 = 3 THEN 8 ELSE 4 END * nc) + (16 + 4 * nsync))
      |      + 8 AS mdatstart
      |  FROM lay),
      |smp AS (
      |  SELECT mst.*, i, 20 + (d * 31 + i * 17) % 40 AS sz,
      |    CASE WHEN i < 3 THEN i * d1 ELSE 3 * d1 + (i - 3) * (d1 + 40) END AS dts,
      |    CASE WHEN i < 3 THEN i * d1 ELSE 3 * d1 + (i - 3) * (d1 + 40) END
      |      + CASE WHEN d % 5 IN (1, 3)
      |             THEN CASE WHEN i < 2 THEN (d % 4) * 30 ELSE 90 END
      |             ELSE 0 END AS pts,
      |    i % 3 = 0 AS is_sync, i // cpc AS chunk
      |  FROM mst, LATERAL (SELECT unnest(generate_series(0, ns - 1)) AS i) ii),
      |soff AS (
      |  SELECT smp.*,
      |    mdatstart + COALESCE(SUM(sz) OVER (
      |      PARTITION BY vid
      |      ORDER BY (CASE WHEN arm = 0 THEN chunk ELSE -chunk END), i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS foffset
      |  FROM smp),
      |ck AS (
      |  SELECT vid, d, arm, i, sz, dts, pts, is_sync, foffset,
      |    SUM(((d * 31 + i * 17 + j * 7) % 256) * (j + 1)) % 1000000007 AS checksum
      |  FROM soff, LATERAL (SELECT unnest(generate_series(0, CAST(sz - 1 AS INT))) AS j) jj
      |  GROUP BY vid, d, arm, i, sz, dts, pts, is_sync, foffset)""".stripMargin

  private val m17OracleSql: String =
    s"""WITH $m17BaseSql
       |SELECT CAST(vid AS BIGINT) AS vid, CAST(d AS BIGINT) AS doc_id,
       |  CAST(arm AS INT) AS arm, CAST(i AS INT) AS sample_idx,
       |  CAST(dts AS BIGINT) AS dts, CAST(pts AS BIGINT) AS pts,
       |  CAST(foffset AS BIGINT) AS frame_offset,
       |  CAST(sz AS INT) AS frame_bytes, is_sync, CAST(checksum AS BIGINT) AS checksum
       |FROM ck ORDER BY vid, sample_idx""".stripMargin

  private val m18OracleSql: String =
    s"""WITH $m17BaseSql,
       |fp AS (
       |  SELECT vid, d, SUM(checksum * (i + 1)) % 1000000007 AS f
       |  FROM ck WHERE is_sync GROUP BY vid, d)
       |SELECT CAST(a.vid AS BIGINT) AS vid_a, CAST(b.vid AS BIGINT) AS vid_b,
       |  CAST(a.d AS BIGINT) AS doc_id_a, CAST(b.d AS BIGINT) AS doc_id_b
       |FROM fp a JOIN fp b ON a.f = b.f AND a.vid < b.vid
       |ORDER BY vid_a, vid_b""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Perceptual image near-dup over DECODED PIXELS (dHash) — the rung
    // m05's byte sketches cannot reach: every doc_id % 8 == 1 image
    // gets a RE-ENCODED twin (id + 10000000) — same picture, different
    // container, bytes sharing nothing (column-major + XOR mask) —
    // and every doc_id % 16 == 9 twin is additionally retouched
    // (+40 brightness on two cells). The decoded-pixel difference hash
    // puts exact twins at hamming 0 and retouched ones within a couple
    // of bits; 4×16 banding (exact recall ≤ 3 by pigeonhole) +
    // popcount verify emits the pairs. Byte-level features would place
    // these pairs at random cosine — MultimodalSpec asserts that
    // contrast explicitly.
    sql("m09_perceptual_neardup", m09OracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = docs.filter(expr("CAST(doc_id % 4 AS INT) IN (0, 1)"))
        .select(col("doc_id").as("id"), m09PayloadA("doc_id", "0").as("payload"))
      val twins = docs.filter(expr("CAST(doc_id % 8 AS INT) = 1"))
        .select((col("doc_id") + 10000000L).as("id"),
          m09PayloadB("doc_id",
            "CASE WHEN CAST(doc_id % 16 AS INT) = 1 THEN 0 ELSE 1 END").as("payload"))
      val sigs = base.unionByName(twins)
        .select(col("id"), Multimodal.grayDhash64(col("payload")).as("dh"))
      graft.operators.Dedup.hamming64Pairs(sigs, "id", "dh", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // STANDARD-container decode via javax.imageio (m12) — the decoder
    // rung above m11's hand-rolled grayscale PNG path: truecolor PNG,
    // genuine color-type-3 PALETTE PNG, lossless-palette GIF, and
    // lossy JPEG of the SAME 72×64 picture (nine 8×8-flat blocks per
    // row, 12 gray levels 17 apart — see Multimodal.m12Block). Lossless decodes replay the
    // block formula EXACTLY (width/height/px_sum/checksum oracle-
    // solid); the JPEG arm's pixel features are lossy (px_sum/checksum
    // NULLed — honest), but its dHash is DETERMINISTICALLY equal to
    // the PNGs' (flat DCT-aligned blocks: only a monotone DC term, no
    // adjacent-mean comparison can flip), so m09's banding must catch
    // every PNG↔JPEG re-encode pair — `caught` is a TRUE twin, never
    // probabilistic. Hostile arm (truncated PNG after the reader
    // matches): NULL features, caught = FALSE, never a throw.
    sql("m12_imageio_decode", m12OracleSql) { (s, d) =>
      import s.implicits._
      val ids = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 8 AS INT) = 1"))
        .select(col("doc_id")).as[Long]
      // Arm ids are doc_id*8 + armIndex — collision-free at ANY corpus
      // size (the old +1e7 offsets alias once doc_ids pass 10M).
      val imgs = ids.flatMap { id =>
        val base = Seq(
          (id * 8, "png24", Multimodal.encodePng24(id)),
          (id * 8 + 1, "png8", Multimodal.encodePng8(id)),
          (id * 8 + 2, "jpeg", Multimodal.encodeJpeg(id)),
          (id * 8 + 4, "gif", Multimodal.encodeGif(id)))
        if (id % 16 == 1)
          base :+ ((id * 8 + 3, "hostile", Multimodal.encodePng24(id).take(24)))
        else base
      }.toDF("id", "enc", "payload")
      val feat = imgs.select(col("id"), col("enc"),
        graft.expressions.ImageIoPixels.imageStats(col("payload")).as("st"),
        graft.expressions.ImageIoPixels.imageDhash64(col("payload")).as("dh"))
        .localCheckpoint()
      val caught = graft.operators.Dedup.hamming64Pairs(
          feat.filter(col("dh").isNotNull).select(col("id"), col("dh")),
          "id", "dh", maxHamming = 3)
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .distinct()
        .withColumn("c", lit(true))
      feat.join(caught, Seq("id"), "left")
        .select(col("id"), col("enc"),
          col("st.width").as("width"), col("st.height").as("height"),
          when(col("enc") === "jpeg", lit(null)).otherwise(col("st.px_sum"))
            .cast("long").as("px_sum"),
          when(col("enc") === "jpeg", lit(null)).otherwise(col("st.checksum"))
            .cast("long").as("checksum"),
          coalesce(col("c"), lit(false)).as("caught"))
        .orderBy(col("id"))
    },

    // REAL area-average resize (m14) — the resizeStub caveat closed
    // now that pixels genuinely decode: source pixel (x,y) feeds
    // output cell (x·W div w, y·H div h) (floor-partitioned boxes the
    // oracle replays verbatim as GROUP BY keys) and each cell is the
    // floor-div mean of its box — exact integers end to end. Fixtures
    // are textured truecolor PNGs whose dims (20+d%13 × 16+3d%11) are
    // deliberately NOT multiples of the 7×5 target, so uneven boxes
    // sit on the scored path. One decode kernel pass, no shuffle.
    sql(
      "m14_image_resize",
      """WITH mp AS (
        |  SELECT doc_id, 20 + doc_id % 13 AS w, 16 + (doc_id * 3) % 11 AS h
        |  FROM documents WHERE CAST(doc_id % 4 AS INT) = 1),
        |rpx AS (
        |  SELECT doc_id, w, h, k % w AS x, k // w AS y,
        |    (doc_id % 1000003 * 31 + (k // w) * w + (k % w) * 7) % 256 AS p
        |  FROM mp, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS k) kk),
        |cells AS (
        |  SELECT doc_id, w, h, (y * 5) // h AS cy, (x * 7) // w AS cx,
        |    sum(p) // count(*) AS v
        |  FROM rpx GROUP BY doc_id, w, h, (y * 5) // h, (x * 7) // w)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sum(v) AS BIGINT) AS r_sum,
        |  CAST(min(v) AS INT) AS r_min, CAST(max(v) AS INT) AS r_max,
        |  CAST(sum(v * (1 + (cy * 7 + cx) % 97)) AS BIGINT) AS r_checksum
        |FROM cells GROUP BY doc_id, w, h
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ids = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) = 1"))
        .select(col("doc_id")).as[Long]
      ids.map(id => (id, Multimodal.encodePngTextured(id)))
        .toDF("doc_id", "payload")
        .withColumn("st",
          graft.expressions.ImageIoPixels.imageResize(col("payload"), 7, 5))
        .select(col("doc_id"),
          col("st.width").as("width"), col("st.height").as("height"),
          col("st.r_sum").as("r_sum"),
          col("st.r_min").as("r_min"), col("st.r_max").as("r_max"),
          col("st.r_checksum").as("r_checksum"))
        .orderBy(col("doc_id"))
    },

    // REAL PNG pixel decode (m11) — the decoder-stub caveat closed for
    // the 8-bit-grayscale subset: the fixture ENCODES real PNGs
    // (forward filters cycling all five types, zlib-deflated IDAT —
    // split in two on every third image, ancillary tEXt on every
    // fifth), and the kernel decodes them end-to-end: chunk walk →
    // Inflater → per-row unfilter (Sub/Up/Average/Paeth reversed per
    // spec) → features off the reconstructed pixels. The oracle states
    // ground truth by the pixel FORMULA — a single mis-unfiltered byte
    // breaks px_sum, and the position-weighted checksum breaks on any
    // transposition. All features exact integers.
    sql(
      "m11_png_decode",
      """WITH pp AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h
        |  FROM documents WHERE CAST(doc_id % 4 AS INT) = 1),
        |pk AS (
        |  SELECT doc_id, w, h, k,
        |    (doc_id * 31 + (k // w) * w + (k % w) * 7) % 256 AS p
        |  FROM pp, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS k) kk)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sum(p) AS BIGINT) AS px_sum,
        |  CAST(min(p) AS INT) AS px_min, CAST(max(p) AS INT) AS px_max,
        |  CAST(sum(p * (1 + k % 97)) AS BIGINT) AS checksum
        |FROM pk GROUP BY doc_id, w, h
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ids = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) = 1"))
        .select(col("doc_id")).as[Long]
      val payloads = ids.map(id => (id, Multimodal.pngEncode(id)))
        .toDF("doc_id", "payload")
      payloads
        .withColumn("st", graft.expressions.PngPixels.pngStats(col("payload")))
        .select(col("doc_id"),
          col("st.width").as("width"), col("st.height").as("height"),
          col("st.px_sum").as("px_sum"),
          col("st.px_min").as("px_min"), col("st.px_max").as("px_max"),
          col("st.checksum").as("checksum"))
        .orderBy(col("doc_id"))
    },

    // PCM16 sample-level features — the tier above m06's header probe:
    // the chunk walk reaches `data`, the int16 LE waveform is DECODED,
    // and peak / zero-crossings / energy come off the raw samples in
    // one kernel pass (PCM is uncompressed — no codec, no stub). The
    // oracle states ground truth by the SAME sample formula that built
    // the body (builder-parser identity m03/m06/m09 discipline), so a
    // single mis-decoded byte fails the hash. sum_sq stays exact in
    // LONG; rms's sqrt is IEEE-correctly-rounded in both engines.
    sql(
      "m10_audio_pcm",
      """WITH ap AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS ch,
        |         CAST(8000 * (1 + doc_id % 5) AS INT) AS rate,
        |         48 + doc_id % 80 AS nf
        |  FROM documents WHERE CAST(doc_id % 4 AS INT) = 2),
        |sm AS (
        |  SELECT doc_id, ch, rate, nf, k,
        |    ((doc_id * 131 + k * 7919) % 20001) - 10000 AS s,
        |    CASE WHEN k >= 1 THEN ((doc_id * 131 + (k - 1) * 7919) % 20001) - 10000 END AS sp
        |  FROM ap, LATERAL (SELECT unnest(generate_series(0, nf * ch - 1)) AS k) kk)
        |SELECT doc_id, ch AS channels, rate AS sample_rate,
        |  CAST(nf * ch AS BIGINT) AS n_samples,
        |  CAST(nf * 1000 // rate AS BIGINT) AS duration_ms,
        |  CAST(max(abs(s)) AS BIGINT) AS peak_abs,
        |  CAST(sum(CASE WHEN sp IS NOT NULL AND sp * s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
        |  round(sqrt(sum(s * s) * 1.0 / (nf * ch)) + 1e-9, 4) AS rms
        |FROM sm GROUP BY doc_id, ch, rate, nf
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) = 2"))
        .withColumn("payload", m10PayloadExpr)
        .withColumn("st", graft.expressions.AudioPcm.pcmStats(col("payload")))
        .select(col("doc_id"),
          col("st.channels").as("channels"),
          col("st.sample_rate").as("sample_rate"),
          col("st.n_samples").as("n_samples"),
          expr("(st.n_samples div st.channels) * 1000 div st.sample_rate").as("duration_ms"),
          col("st.peak_abs").as("peak_abs"),
          col("st.zero_cross").as("zero_cross"),
          round(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples")) + lit(1e-9), 4)
            .as("rms"))
        .orderBy(col("doc_id"))
    },


    // IMA-ADPCM decode (m13) — the COMPRESSED-audio rung above m10's
    // raw PCM: 4-bit nibbles expand through the public-spec state
    // machine (89-entry step table, index walk, int16 clamps), pure
    // integer arithmetic, no codec library. Fixtures are complete mono
    // IMA WAVs built from closed-form header/nibble formulas — 36-byte
    // blocks (65 samples each), 64..127 samples, so block RESTARTS and
    // fact-count pad-stopping are both on the scored path. The oracle
    // replays the identical state machine as a recursive CTE (step
    // table injected from the same Scala constant): builder-parser
    // identity at the sample level — one wrong nibble, clamp, or
    // decoded pad byte breaks the position-weighted checksum.
    sql("m13_audio_adpcm", m13OracleSql) { (s, d) =>
      import s.implicits._
      val ids = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) = 2"))
        .select(col("doc_id")).as[Long]
      ids.map(id => (id, Multimodal.adpcmEncode(id))).toDF("doc_id", "payload")
        .withColumn("st", graft.expressions.AudioAdpcm.adpcmStats(col("payload")))
        .select(col("doc_id"),
          col("st.sample_rate").as("sample_rate"),
          col("st.n_samples").as("n_samples"),
          expr("st.n_samples * 1000 div st.sample_rate").as("duration_ms"),
          col("st.peak_abs").as("peak_abs"),
          col("st.zero_cross").as("zero_cross"),
          round(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples")) + lit(1e-9), 4)
            .as("rms"),
          col("st.checksum").as("checksum"))
        .orderBy(col("doc_id"))
    },

    // Audio perceptual near-dup (m15) — the modality-gap closer: image
    // dedup runs bytes (m05) → pixels (m09/m12) → clusters (m07);
    // audio previously stopped at decoded features (m10/m13). Every
    // doc_id % 8 == 2 doc ships the SAME recording twice — exact PCM16
    // and a REAL IMA-ADPCM encode (standard quantizer, reconstructed-
    // predictor state) — bytes sharing nothing. The format-blind
    // fingerprint (settle-skip band energies, threshold-quantized,
    // Haitsma–Kalker sign bits — see AudioFingerprint) is EQUAL on
    // both arms by the 4× energy-headroom design, so m09's 4×16
    // banding catches every re-encode pair deterministically; the
    // truncated-ADPCM hostile arm decodes to NULL and never pairs.
    sql("m15_audio_neardup", m15OracleSql) { (s, d) =>
      import s.implicits._
      val ids = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 8 AS INT) = 2"))
        .select(col("doc_id")).as[Long]
      val wavs = ids.flatMap(Multimodal.m15Arms).toDF("id", "payload")
      val sigs = wavs.select(col("id"),
        graft.expressions.AudioFingerprint.audioFp64(col("payload")).as("fp"))
      graft.operators.Dedup.hamming64Pairs(sigs, "id", "fp", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // EXIF/TIFF orientation + dimensions probe (m16) — the one common
    // container family m02/m03 did not walk: the TIFF IFD, both bare
    // (.tif head, doc_id % 8 == 0) and embedded in a JPEG APP1
    // `Exif\0\0` segment (doc_id % 8 == 4, how every camera JPEG
    // carries its orientation). Both byte orders, SHORT and LONG
    // width entries, an ExifIFDPointer the walker must skip, a COM
    // segment before the APP1, and two hostile arms ON the scored
    // path: an IFD offset far past EOF (doc_id % 32 == 0 — the
    // adversarial 32-bit offset a LONG walk rejects) and a JPEG with
    // no APP1 at all (doc_id % 32 == 4) — both rows surface as NULLs,
    // never a throw. Oracle: ground truth from the formulas that
    // built the fixtures (m03's builder-parser identity).
    sql(
      "m16_exif_meta",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 32 IN (0, 4) THEN NULL
        |       WHEN (doc_id // 8) % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
        |  CASE WHEN doc_id % 32 IN (0, 4) THEN NULL
        |       ELSE CAST(16 + doc_id % 2000 AS INT) END AS width,
        |  CASE WHEN doc_id % 32 IN (0, 4) THEN NULL
        |       ELSE CAST(16 + (doc_id * 3) % 2000 AS INT) END AS height,
        |  CASE WHEN doc_id % 32 IN (0, 4) THEN NULL
        |       ELSE CAST(1 + doc_id % 8 AS INT) END AS orientation
        |FROM documents WHERE CAST(doc_id % 4 AS INT) = 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ids = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) = 0"))
        .select(col("doc_id")).as[Long]
      ids.map(id => (id,
          if (id % 8 == 0) Multimodal.m16Tiff(id) else Multimodal.m16JpegExif(id)))
        .toDF("doc_id", "payload")
        .withColumn("m", graft.expressions.ExifTiff.exifMeta(col("payload")))
        .select(col("doc_id"),
          col("m.byte_order").as("byte_order"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.orientation").as("orientation"))
        .orderBy(col("doc_id"))
    },

    // SAMPLE-TABLE frame extraction (m17) — the tier above m08's head
    // probe: walk moov/trak/mdia/minf/stbl per ISO/IEC 14496-12
    // (stts/stsz/stsc/stco/stss) and reconstruct every frame's pts,
    // absolute byte offset, size, sync flag, and content checksum.
    // Arm 1 re-muxes the SAME media with 2-per-chunk grouping and
    // chunks in REVERSE file order, so frame offsets are non-monotone
    // in sample order — an "mdat is sequential" shortcut misparses
    // every arm-1 file; only the genuine chunk walk passes. Oracle:
    // ground truth re-derived from the fixture formulas, including the
    // reversed-chunk offsets via one window sum in file order
    // (builder-parser identity).
    sql("m17_video_frames", m17OracleSql) { (s, d) =>
      import s.implicits._
      m17Frames(s, d)
        .select(col("vid"), col("doc_id"), col("arm"),
          col("s.sample_idx").as("sample_idx"), col("s.dts").as("dts"),
          col("s.pts").as("pts"),
          col("s.frame_offset").as("frame_offset"),
          col("s.frame_bytes").as("frame_bytes"),
          col("s.is_sync").as("is_sync"), col("s.checksum").as("checksum"))
        .orderBy(col("vid"), col("sample_idx"))
    },

    // Video near-dup via KEYFRAME-sampled fingerprints (m18) — the
    // modality ladder's video rung (image: m05→m09/m12→m07; audio:
    // m10/m13→m15): extract frames through the m17 sample-table walk,
    // keep sync samples only (the keyframe sampling a 100 TB pipeline
    // does before any decode), fold an order-weighted fingerprint over
    // their content checksums, and group equal fingerprints — one
    // shuffle on the fingerprint, corpus-linear. Re-muxed arm-1 twins
    // (different container bytes, byte-identical frames) MUST collide;
    // distinct docs must not. Oracle replays the identical fold and
    // self-join semantics.
    sql("m18_video_neardup", m18OracleSql) { (s, d) =>
      import s.implicits._
      val fp = m17FingerprintsOfArms(m17ArmRows(Tables.documents(s, d)))
      val a = fp.select(col("vid").as("vid_a"), col("doc_id").as("doc_id_a"), col("fp"))
      val b = fp.select(col("vid").as("vid_b"), col("doc_id").as("doc_id_b"), col("fp"))
      a.join(b, Seq("fp"))
        .filter(col("vid_a") < col("vid_b"))
        .select(col("vid_a"), col("vid_b"), col("doc_id_a"), col("doc_id_b"))
        .orderBy(col("vid_a"), col("vid_b"))
    },

    // REAL video-container decode for the fourth modality slice
    // (doc_id % 4 = 3, plain text elsewhere in the m-family): ISO-BMFF
    // box walk — big-endian sizes, largesize/BE64 mdat form,
    // version-0 AND version-1 mvhd layouts, stub-trak counting, and
    // head-probe mdat sizing (the body is never present, matching the
    // ranged read a 100 TB probe performs). Oracle: the ground truth
    // by the same formulas that built the header (m03/m06's
    // builder-parser-identity discipline).
    sql(
      "m08_video_meta",
      """SELECT doc_id,
        |  CAST(600 * (1 + doc_id % 4) AS INT) AS timescale,
        |  CAST(6000 + doc_id % 90000 AS BIGINT) AS duration,
        |  round((6000 + doc_id % 90000) / CAST(600 * (1 + doc_id % 4) AS DOUBLE) + 1e-9, 6) AS duration_s,
        |  CAST(1 + doc_id % 3 AS INT) AS n_tracks,
        |  CAST(500 + doc_id % 4000 AS BIGINT) AS mdat_bytes
        |FROM documents WHERE CAST(doc_id % 4 AS INT) = 3
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) = 3"))
        .withColumn("payload", m08PayloadExpr)
        .withColumn("m", graft.expressions.ImageHeader.mp4Meta(col("payload")))
        .select(col("doc_id"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"),
          round(col("m.duration") / col("m.timescale").cast("double") + 1e-9, 6)
            .as("duration_s"),
          col("m.n_tracks").as("n_tracks"),
          col("m.mdat_bytes").as("mdat_bytes"))
        .orderBy(col("doc_id"))
    },

    // REAL audio-header decode for the audio modality (doc_id % 4 = 2):
    // RIFF-WAVE fmt/data chunk walk with even-length padding (the
    // classic desync bug an odd LIST chunk triggers — exercised by
    // construction on every third doc), all fields little-endian.
    // est_seconds derives from the PARSED fields (data / rate·ch·bits/8),
    // not the header's byteRate, which is deliberately junk. The oracle
    // states the ground truth by the same formulas that built the
    // header (m03's builder-parser-identity discipline).
    sql(
      "m06_audio_meta",
      """SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(8000 * (1 + doc_id % 5) AS INT) AS sample_rate,
        |  CAST(8 * (1 + doc_id % 3) AS INT) AS bits_per_sample,
        |  CAST(1000 + doc_id % 9000 AS BIGINT) AS data_bytes,
        |  round((1000 + doc_id % 9000) /
        |    (8000 * (1 + doc_id % 5) * (1 + doc_id % 2) * (8 * (1 + doc_id % 3)) / 8.0)
        |    + 1e-9, 6) AS est_seconds
        |FROM documents WHERE CAST(doc_id % 4 AS INT) = 2
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) = 2"))
        .withColumn("payload", m06PayloadExpr)
        .withColumn("m", graft.expressions.ImageHeader.wavMeta(col("payload")))
        .select(col("doc_id"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.data_bytes").as("data_bytes"),
          round(col("m.data_bytes") /
            (col("m.sample_rate") * col("m.channels") * col("m.bits_per_sample") / lit(8.0))
            + 1e-9, 6).as("est_seconds"))
        .orderBy(col("doc_id"))
    },

    // Typed metadata over binary payloads: length, fingerprint, sniffed
    // format (magic bytes), declared modality.
    sql(
      "m01_binary_meta",
      s"""WITH b AS (SELECT doc_id, $payloadSql AS payload FROM documents)
         |SELECT doc_id, CAST(octet_length(payload) AS INT) AS byte_len,
         |  md5(hex(payload)) AS fingerprint,
         |  CASE WHEN starts_with(hex(payload), 'FFD8FF') THEN 'jpeg'
         |       WHEN starts_with(hex(payload), '89504E47') THEN 'png'
         |       WHEN starts_with(hex(payload), '47494638') THEN 'gif'
         |       WHEN starts_with(hex(payload), '52494646') THEN 'riff'
         |       WHEN starts_with(hex(payload), '25504446') THEN 'pdf'
         |       ELSE 'bin' END AS format,
         |  $modalityCase AS modality
         |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.binaryMeta(
          Tables.documents(s, d).withColumn("payload", payloadExpr),
          col("payload"), col("doc_id"))
        .select(col("id").as("doc_id"), col("byte_len"), col("fingerprint"),
          col("format"),
          expr(modalityCase).as("modality"))
        .orderBy(col("doc_id"))
    },

    // Frame sampling: every 2nd 64-byte frame of each payload, with a
    // frame content hash — the video/audio frame-extraction dataflow.
    sql(
      "m02_frame_sample",
      s"""WITH b AS (SELECT doc_id, $payloadSql AS payload FROM documents),
         |f AS (SELECT doc_id, hex(payload) AS h,
         |        unnest(generate_series(0, octet_length(payload) - 1, 128)) AS off
         |      FROM b WHERE octet_length(payload) > 0)
         |SELECT doc_id, CAST(off / 64 AS INT) AS frame_idx,
         |  md5(substring(h, off * 2 + 1, 128)) AS frame_hash
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.frameSample(
          Tables.documents(s, d).withColumn("payload", payloadExpr),
          col("payload"), col("doc_id"), frameBytes = 64, every = 2)
        .select(col("id").as("doc_id"), col("frame_idx"), col("frame_hash"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // REAL image-header decode + resize metadata for image-modality
    // payloads. Each document gets a synthesized-but-WELL-FORMED
    // header: PNG = signature + IHDR (width/height/color type encoded
    // big-endian by formula); JPEG = SOI + variable-length APP0 + a DHT
    // (C4 — inside the C0–CF block but NOT a frame marker) + a
    // variable-length COM + a 0xFF fill byte + SOF0 — so the kernel
    // must genuinely WALK segments, not read a fixed offset. The
    // oracle states the ground truth BY CONSTRUCTION (the same
    // formulas that built the header), so the Spark side proves
    // builder ∘ parser = identity byte-for-byte; real-file shapes
    // (progressive SOF2, SOS-before-SOF, truncation) are spec
    // territory (MultimodalSpec). Decoding is NULL-on-malformed —
    // a bad blob in a 100 TB crawl filters out, never kills a stage.
    sql(
      "m03_image_decode",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'jpeg'
        |       WHEN doc_id % 8 = 5 THEN 'gif' ELSE 'png' END AS format,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 80 + (doc_id * 7) % 1000
        |            ELSE 16 + doc_id % 2000 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 120 + doc_id % 1000
        |            ELSE 16 + (doc_id * 3) % 2000 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 + (doc_id % 2) * 2
        |       WHEN doc_id % 8 = 5 THEN 1
        |       ELSE CASE (doc_id // 4) % 4 WHEN 0 THEN 1 WHEN 1 THEN 3
        |            WHEN 2 THEN 2 ELSE 4 END END AS INT) AS channels,
        |  CAST(224 * 224 * (CASE WHEN doc_id % 4 = 0 THEN 1 + (doc_id % 2) * 2
        |       WHEN doc_id % 8 = 5 THEN 1
        |       ELSE CASE (doc_id // 4) % 4 WHEN 0 THEN 1 WHEN 1 THEN 3
        |            WHEN 2 THEN 2 ELSE 4 END END) AS INT) AS resized_est_bytes
        |FROM documents WHERE CAST(doc_id % 4 AS INT) IN (0, 1)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) IN (0, 1)"))
        .withColumn("payload", m03PayloadExpr)
        .withColumn("meta", Multimodal.decodeImageHeader(col("payload")))
        .withColumn("resized", Multimodal.resizeStub(col("meta"), 224, 224))
      docs.select(
          col("doc_id"),
          when(expr("CAST(doc_id % 4 AS INT) = 0"), "jpeg")
            .when(expr("CAST(doc_id % 8 AS INT) = 5"), "gif")
            .otherwise("png").as("format"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.channels").as("channels"),
          col("resized.est_bytes").as("resized_est_bytes"))
        .orderBy(col("doc_id"))
    },

    // Byte-level feature embedding (kernel expression), fully oracled:
    // HashOracleSql.binaryFeatures re-derives the 4-gram mix64 sketch in
    // DuckDB. Features are emitted as 1e6-scaled integers — the kernel
    // already rounds to 6 dp, so the scaling is lossless, and integer
    // CSV sidesteps Java-vs-DuckDB double-to-string divergence (Java
    // renders 4.2e-4 in scientific notation; DuckDB doesn't). The
    // features feed the Similarity stack; m05 exercises that
    // composition.
    sql(
      "m04_binary_features",
      HashOracleSql.binaryFeatures(payloadSql, dim = 16)) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("payload", payloadExpr)
        .select(col("doc_id"),
          Multimodal.extractFeatures(col("payload"), dim = 16).as("f"))
        .filter(col("f").isNotNull)
        .select(col("doc_id"),
          array_join(expr("transform(f, x -> CAST(CAST(round(x * 1e6) AS BIGINT) AS STRING))"), ",")
            .as("features_csv"))
        .orderBy(col("doc_id"))
    },

    // Multimodal near-dup: binary features → LSH bucket self-join +
    // exact cosine (reuses Similarity.cosineNearDupPairs end-to-end).
    // Oracled by the EXACT pipeline twin: the java.util.Random
    // hyperplanes replay in DuckDB via a recursive-CTE LCG, so the
    // oracle re-derives the same planes, centering offsets, band
    // signatures, candidates, and verify — no banding-recall assumption.
    sql(
      "m05_binary_neardup",
      HashOracleSql.cosineNearDupPairs(payloadSql, dim = 64,
        nBits = 12, nBands = 14, seed = 42L, threshold = 0.95)) { (s, d) =>
      // 64-dim sketch: random-pair cosine noise ~1/√64 ≈ 0.125, so the
      // 0.95 threshold only passes genuinely shared-content payloads.
      // The fused lsh_bands kernel evaluates emb exactly once for the
      // blocking stage, so the byte-sketch runs 4× total (the centered
      // default's meanVector pass + banding + the two candidate-side
      // joins) — cheap enough that no cache/checkpoint is needed.
      val feats = Tables.documents(s, d)
        .withColumn("payload", payloadExpr)
        .select(col("doc_id"),
          Multimodal.extractFeatures(col("payload"), dim = 64).as("emb"))
        .filter(col("emb").isNotNull)
      // multi-band LSH at cosineNearDupPairs defaults (12 bits × 14
      // bands): ~99% recall at cosine 0.95 with candidates bounded per
      // band — a single wider table either misses most true pairs or
      // floods the verify stage
      graft.operators.Similarity
        .cosineNearDupPairs(feats, col("emb"), col("doc_id"), threshold = 0.95,
          dim = 64)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Binary near-dup CLUSTERS — m05's pairs closed into dedup groups
    // with the SAME star-contraction operator the text (t21) and
    // embedding (v24) modalities use: the dedup ladder
    // (block → verify → cluster) is modality-agnostic by construction,
    // and a mirror-heavy binary corpus needs the transitive decision
    // exactly like text does (payloads A~B, B~C dedup as ONE group).
    // Oracle: m05's full pipeline twin nested as the pair leg (the
    // v20/v30 subquery-composition pattern) + the recursive closure.
    sql(
      "m07_binary_clusters", {
        val pairSql = HashOracleSql.cosineNearDupPairs(payloadSql, dim = 64,
          nBits = 12, nBands = 14, seed = 42L, threshold = 0.95)
        s"""WITH RECURSIVE
           |p AS (SELECT id_a, id_b FROM ($pairSql) x),
           |e(src, dst) AS (SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p),
           |reach(a, b) AS (
           |  SELECT DISTINCT src, src FROM e
           |  UNION
           |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
           |cc AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_rep
           |       FROM reach GROUP BY a)
           |SELECT doc_id, cluster_rep,
           |  CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
           |FROM cc ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val feats = Tables.documents(s, d)
        .withColumn("payload", payloadExpr)
        .select(col("doc_id"),
          Multimodal.extractFeatures(col("payload"), dim = 64).as("emb"))
        .filter(col("emb").isNotNull)
      val pairs = graft.operators.Similarity
        .cosineNearDupPairs(feats, col("emb"), col("doc_id"), threshold = 0.95, dim = 64)
      graft.operators.Dedup.connectedComponents(
          pairs.select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
        .orderBy(col("doc_id"))
    },

    // STREAMING perceptual near-dup (s33) — m15's ingestion twin and
    // the perceptual family's first: audio payloads arrive as
    // micro-batches (doc_id % 3 slices, so a pair's members can land
    // two batches apart and out of id order), each batch fingerprints
    // ONLY its own blobs (one kernel pass per arriving doc; the stored
    // corpus is never re-decoded — its state is the narrow (id, fp)
    // signature table), and Dedup.hamming64PairsIncrement discovers
    // exactly the pairs the batch completes (each unordered pair once,
    // when its later member arrives). At 100 TB this is the shape that
    // matters: a new crawl shard pays its own decode + one band join
    // against stored signatures, never an old-corpus re-scan. Oracle:
    // m15's VERBATIM — slicing invariance is the claim.
    sql("s33_stream_audio_neardup", m15OracleSql) { (s, d) =>
      import s.implicits._
      val stream = s.readStream.schema("doc_id BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(m15SliceDir(s, d))
      val init = Seq.empty[(String, Long, Option[Long], Option[Long], Option[Long])]
        .toDF("kind", "id_a", "id_b", "fp", "hamming")
      val folded = graft.streaming.StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => Multimodal.audioNeardupFold(state, batch))
      folded.filter(col("kind") === "pair")
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // STREAMING perceptual near-dup for IMAGES (s34) — m09's ingestion
    // twin through the SAME generic fold as s33 (the incremental band
    // join is modality-blind once payloads become 64-bit signatures):
    // each arriving doc decodes and hashes only its own containers
    // (base GPR1 arm; re-encoded GPC1 twin for the %8==1 docs, the
    // retouch edit on %16==9), the stored corpus contributes narrow
    // (id, fp) rows only, and every re-encode/retouch pair surfaces
    // exactly once. Oracle: m09's VERBATIM — slicing invariance.
    sql("s34_stream_image_neardup", m09OracleSql) { (s, d) =>
      import s.implicits._
      val stream = s.readStream.schema("doc_id BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(m09SliceDir(s, d))
      val init = Seq.empty[(String, Long, Option[Long], Option[Long], Option[Long])]
        .toDF("kind", "id_a", "id_b", "fp", "hamming")
      val folded = graft.streaming.StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => {
          // both arms in ONE pass over the micro-batch (a base∪twins
          // self-union of the batch relation trips Union's constraint
          // rewrite on duplicate attribute ids): per doc, an array of
          // (id, payload) structs — the GPC1 twin slot NULL except on
          // the %8==1 docs — exploded after a null filter
          val arms = batch.select(explode(filter(array(
              struct(col("doc_id").as("id"),
                m09PayloadA("doc_id", "0").as("payload")),
              when(expr("CAST(doc_id % 8 AS INT) = 1"),
                struct((col("doc_id") + 10000000L).as("id"),
                  m09PayloadB("doc_id",
                    "CASE WHEN CAST(doc_id % 16 AS INT) = 1 THEN 0 ELSE 1 END")
                    .as("payload")))),
            x => x.isNotNull)).as("arm"))
          Multimodal.neardupFoldStep(state,
            arms.select(col("arm.id").as("id"),
              Multimodal.grayDhash64(col("arm.payload")).as("fp")))
        })
      folded.filter(col("kind") === "pair")
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // STREAMING video near-dup (s36) — m18's ingestion twin, closing
    // the modality symmetry (s33 audio, s34 image, s36 video): each
    // arriving micro-batch builds, sample-table-walks, and
    // fingerprints ONLY its own containers (both arms of a doc in one
    // pass — the s34 shape), the stored corpus contributes narrow
    // (vid, doc_id, fp) rows, and pair discovery is the incremental
    // exact-key join — (stored ∪ new) × new on the fingerprint, so
    // old–old pairs can never re-emit and each unordered pair
    // surfaces exactly once, when its later member arrives. Two fold
    // states (signatures + discovered pairs) through oneShotFoldMany.
    // Oracle: m18's VERBATIM — slicing invariance is the claim.
    sql("s36_stream_video_neardup", m18OracleSql) { (s, d) =>
      import s.implicits._
      val stream = s.readStream.schema("doc_id BIGINT, arm INT")
        .option("maxFilesPerTrigger", 1).parquet(m17SliceDir(s, d))
      val inits = Seq(
        Seq.empty[(Long, Long, Long)].toDF("vid", "doc_id", "fp"),
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("vid_a", "vid_b", "doc_id_a", "doc_id_b"))
      val st = graft.streaming.StreamingRelational.oneShotFoldMany(s, stream, inits,
        (states, batch, _) => {
          // checkpoint the batch's own signatures: they sit on BOTH
          // sides of the pair join and in the next signature state —
          // one kernel pass, no self-join attribute aliasing
          val newSigs = m17FingerprintsOfArms(batch).localCheckpoint(true)
          val all = states(0).unionByName(newSigs)
          val a = all.select(col("vid").as("a_vid"), col("doc_id").as("a_doc"), col("fp"))
          val b = newSigs.select(col("vid").as("b_vid"), col("doc_id").as("b_doc"), col("fp"))
          val newPairs = a.join(b, Seq("fp"))
            .filter(col("a_vid") =!= col("b_vid"))
            .select(
              least(col("a_vid"), col("b_vid")).as("vid_a"),
              greatest(col("a_vid"), col("b_vid")).as("vid_b"),
              when(col("a_vid") < col("b_vid"), col("a_doc"))
                .otherwise(col("b_doc")).as("doc_id_a"),
              when(col("a_vid") < col("b_vid"), col("b_doc"))
                .otherwise(col("a_doc")).as("doc_id_b"))
            .distinct()
          Seq(all, states(1).unionByName(newPairs))
        })
      st(1).select(col("vid_a"), col("vid_b"), col("doc_id_a"), col("doc_id_b"))
        .orderBy(col("vid_a"), col("vid_b"))
    }
  )

  /** s33's arrival fixture: the m15 audio docs (doc_id % 8 == 2) in
    * three micro-batches sliced by doc_id % 3, so a pair's members can
    * land two batches apart and out of id order. */
  private val m15SliceCache = new PerDir[String]

  private def m15SliceDir(s: SparkSession, d: String): String =
    m15SliceCache(d) {
      val fx = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 8 AS INT) = 2")).select(col("doc_id"))
      StreamingQueries.orderedArrivalDir(s, "m15-slices",
        StreamingQueries.thirds(fx, col("doc_id")))
    }

  /** s34's arrival fixture: the m09 image docs (doc_id % 4 in {0, 1})
    * sliced by doc_id % 3. */
  private val m09SliceCache = new PerDir[String]

  private def m09SliceDir(s: SparkSession, d: String): String =
    m09SliceCache(d) {
      val fx = Tables.documents(s, d)
        .filter(expr("CAST(doc_id % 4 AS INT) IN (0, 1)")).select(col("doc_id"))
      StreamingQueries.orderedArrivalDir(s, "m09-slices",
        StreamingQueries.thirds(fx, col("doc_id")))
    }

  /** s36's arrival fixture: ARM-granular arrivals sliced by
    * (doc_id + arm) % 3 — every re-muxed twin's two arms land in
    * DIFFERENT micro-batches, so each pair genuinely completes across
    * batches (the s33 "out of id order, batches apart" discipline at
    * video granularity). */
  private val m17SliceCache = new PerDir[String]

  private def m17SliceDir(s: SparkSession, d: String): String =
    m17SliceCache(d) {
      val fx = m17ArmRows(Tables.documents(s, d))
      StreamingQueries.orderedArrivalDir(s, "m17-slices", Seq(
        fx.filter((col("doc_id") + col("arm")) % 3 === 0),
        fx.filter((col("doc_id") + col("arm")) % 3 === 2),
        fx.filter((col("doc_id") + col("arm")) % 3 === 1)))
    }
}
