package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`/
  * `array<double>`).
  *
  *  - [[bruteForceKnn]]: exact top-k by cosine — one narrow scan +
  *    TakeOrderedAndProject; the query vector rides the plan as a
  *    literal, so no join, no shuffle. This is the correctness
  *    baseline.
  *  - [[lshBuckets]] / [[lshKnn]]: random-hyperplane LSH — the scale
  *    path. Each vector gets a `nBits`-bit signature; candidates are
  *    restricted to the query's bucket (and optionally neighboring
  *    probes). At 100 TB the bucketed table is written once
  *    (partitioned by signature) and each query touches 1/2^nBits of
  *    the data.
  *  - [[cosineNearDupPairs]]: embedding near-dup detection — LSH-bucket
  *    self-join + exact cosine verify, never a full cross join.
  *
  * Hyperplanes are generated driver-side from a fixed seed → fully
  * deterministic across runs and executors.
  */
object Similarity {

  /** Deterministic pseudo-random unit-free hyperplanes (values in [-1,1]). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rng.nextDouble() * 2 - 1)
  }

  private val noOffsets = Array.emptyDoubleArray

  /** Late-interaction (multi-vector) top-k: ColBERT-style MaxSim over
    * per-token sub-vectors. Each row's flat embedding is
    * `tokenDim`-chunked into token vectors; score = Σ over query
    * tokens of the max cosine against any doc token — the fine-grained
    * relevance signal a single pooled cosine (v02) flattens away.
    * The query-token matrix rides the plan as a constant inside the
    * fused [[graft.expressions.VectorOps.maxSim]] kernel, so
    * brute-force late interaction keeps v02's shape exactly: one
    * narrow scan + TakeOrderedAndProject — no explode to token rows,
    * no regroup shuffle. (The IVF/PQ rungs compose on top the same way
    * they do for single-vector search.)
    * Output: (id, maxsim) — 4-dp nudge-rounded before the rank. */
  def maxSimKnn(df: DataFrame, embCol: Column, idCol: Column,
      queryTokens: Array[Array[Double]], tokenDim: Int, k: Int): DataFrame =
    df.select(
        idCol.as("id"),
        round(graft.expressions.VectorOps.maxSim(
          asDouble(embCol), queryTokens, tokenDim) + lit(1e-9), 4).as("maxsim"))
      .orderBy($"maxsim".desc, $"id")
      .limit(k)

  /** Two-stage late interaction (v18's search-then-refine for
    * multi-vectors): an ANN SHORTLIST (bare ids — typically
    * [[lshKnnOnIndex]] over-fetched to several× k) broadcasts into ONE
    * narrow corpus scan where only shortlisted rows pay the MaxSim
    * kernel. Full-corpus MaxSim is |q|× the cost of a pooled cosine —
    * affordable as a brute pass at bench scale ([[maxSimKnn]]) but not
    * per-query at 100 TB; shortlist-then-rerank is the production
    * late-interaction shape (the corpus is filtered map-side, never
    * shuffled). Output: (id, maxsim) top-k. */
  def maxSimRerank(df: DataFrame, embCol: Column, idCol: Column,
      shortlistIds: DataFrame, queryTokens: Array[Array[Double]],
      tokenDim: Int, k: Int): DataFrame =
    df.select(idCol.as("id"), embCol.as("emb"))
      .join(broadcast(shortlistIds.select($"id")), Seq("id"), "left_semi")
      .select($"id", round(graft.expressions.VectorOps.maxSim(
          asDouble($"emb"), queryTokens, tokenDim) + lit(1e-9), 4).as("maxsim"))
      .orderBy($"maxsim".desc, $"id")
      .limit(k)

  /** BATCHED two-stage late interaction — [[maxSimRerank]] for a whole
    * query SET in ONE plan (the [[lshKnnBatch]] serving shape applied
    * to MaxSim, closing the one retrieval family that had neither a
    * served nor a batched variant):
    *
    *  - `shortlist` = (qid, id) candidate pairs, typically
    *    [[lshKnnBatch]] over-fetched to several× k — bare ids,
    *    |Q|·shortlist rows, broadcast;
    *  - the corpus pays the MaxSim kernel ONLY on shortlisted rows:
    *    one narrow scan streamed through two broadcast joins (the
    *    candidate pairs, then the |Q|-row query-embedding attach) —
    *    never shuffled;
    *  - scoring is the [[graft.expressions.VectorOps.maxSimPair]]
    *    kernel — bit-identical arithmetic to the single-query constant
    *    matrix kernel, so each qid's rows equal its sequential
    *    [[maxSimRerank]] answer (spec-asserted);
    *  - per-query top-k via row_number over (qid) — plans as
    *    partial+final WindowGroupLimit over the |Q|·shortlist scored
    *    rows, nothing corpus-sized reaches the window.
    *
    * Output: (qid, id, maxsim, rk), rk = 1..k per qid. */
  def maxSimRerankBatch(df: DataFrame, embCol: Column, idCol: Column,
      shortlist: DataFrame, queries: DataFrame, qembCol: Column,
      qidCol: Column, tokenDim: Int, k: Int): DataFrame = {
    val q = queries.select(qidCol.as("qid"), asDouble(qembCol).as("qemb"))
      .filter($"qemb".isNotNull)
      .dropDuplicates("qid")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"maxsim".desc, $"id")
    df.select(idCol.as("id"), embCol.as("emb"))
      .join(broadcast(shortlist.select($"qid", $"id")), Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select($"qid", $"id",
        round(graft.expressions.VectorOps.maxSimPair(
          asDouble($"emb"), $"qemb", tokenDim) + lit(1e-9), 4).as("maxsim"))
      .withColumn("rk", row_number().over(wk))
      .filter($"rk" <= k)
      .select($"qid", $"id", $"maxsim", $"rk")
  }

  /** Exact top-k rows by cosine similarity to `query`.
    * Output: (idCol, score) — score rounded to 4 dp for stable ordering. */
  def bruteForceKnn(df: DataFrame, embCol: Column, idCol: Column,
      query: Array[Double], k: Int): DataFrame = {
    val q = array(query.toIndexedSeq.map(lit): _*)
    df.select(
        idCol.as("id"),
        round(cosineSimilarity(asDouble(embCol), q), 4).as("score"))
      .orderBy($"score".desc, $"id")
      .limit(k)
  }

  /** nBits-bit LSH signature: bit i = sign(emb · plane_i − offset_i).
    * A zero offset is classic hyperplane LSH; passing
    * offset_i = mean · plane_i centers the space so a dominant common
    * direction (e.g. shared n-grams across all text sketches) doesn't
    * funnel the whole corpus into a few buckets.
    * Single-band view of the fused [[graft.expressions.VectorOps.lshBandSignatures]]
    * kernel — one codegen'd pass, not nBits separate dot expressions.
    * Ceiling: at most 63 planes (the fused kernel keeps signatures in a
    * signed positive Long; bit 63 would flip the sign and break the
    * bucket-equality and hamming filters downstream). Wider signatures
    * belong in multiple bands, which is the higher-recall shape anyway. */
  def lshSignature(embCol: Column, planes: Array[Array[Double]],
      offsets: Array[Double] = null): Column =
    element_at(graft.expressions.VectorOps.lshBandSignatures(
      asDouble(embCol), planes, if (offsets == null) noOffsets else offsets,
      nBits = planes.length), 1)

  /** Typed aggregator computing the elementwise (sum, count) of a
    * vector column in one fused pass — dim separate avg() columns are
    * ~dim× slower, and staying an [[Aggregator]] (vs dropping to
    * `.rdd.treeAggregate`) keeps the pass inside the Dataset world:
    * visible to AQE, mergeable with adjacent stages, and running as a
    * partial+final ObjectHashAggregate like any other agg. */
  private final class MeanVecAgg(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Double], (Array[Double], Long), Array[Double]] {
    override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    override def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) =
      if (v == null) b
      else {
        var i = 0
        val m = math.min(dim, v.length)
        while (i < m) { b._1(i) += v(i); i += 1 }
        (b._1, b._2 + 1)
      }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    override def finish(r: (Array[Double], Long)): Array[Double] =
      if (r._2 == 0) new Array[Double](dim) else r._1.map(_ / r._2)
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Elementwise corpus mean of the embedding column — one fused
    * aggregation pass over the Dataset (see [[MeanVecAgg]]). */
  def meanVector(df: DataFrame, embCol: Column, dim: Int): Array[Double] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(asDouble(embCol)).as[Seq[Double]]
      .select(new MeanVecAgg(dim).toColumn)
      .head()
  }

  /** Attach an LSH bucket id to every row. `dim` (embedding width) may
    * be passed by callers that know it (e.g. from a query vector);
    * otherwise it is probed from the first row — a `limit(1)` job, with
    * a meaningful error on empty input. */
  def lshBuckets(df: DataFrame, embCol: Column, idCol: Column,
      nBits: Int = 8, seed: Long = 42L, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else firstDim(df, embCol)
    val planes = hyperplanes(nBits, d, seed)
    df.select(idCol.as("id"), embCol.as("emb"),
      lshSignature(embCol, planes).as("bucket"))
  }

  /** Approximate top-k with MULTIPROBE: exact cosine ranking restricted
    * to the buckets within the smallest hamming radius R of the query's
    * signature that holds ≥ k candidates (R=0 is the classic
    * single-probe; an unlucky sparse bucket escalates to its hamming-1
    * neighbors, then hamming-2, …). Guarantees exactly k results
    * whenever the table has ≥ k rows — never a silent short read.
    *
    * The radius comes from a per-query hamming-distance histogram
    * (≤ nBits+1 rows reach the driver). It is one aggregation scan of
    * the bucketed table per call here; a serving deployment amortizes
    * it by keeping the 2^nBits bucket→count table as index metadata,
    * from which any query's distance histogram is a driver-side fold.
    * The ranking scan then touches only the probed buckets' partitions.
    * Flipping one signature bit crosses exactly one hyperplane, so
    * hamming-1 buckets are precisely the most-likely-confusable
    * regions — probing by hamming radius is probe-ordering by
    * collision probability.
    *
    * The radius grows until the CANDIDATE BUDGET is in scope (still
    * exactly k returned): corpus-derived via
    * [[AnnParams.candidateBudget]] from the histogram's own total —
    * `min(n, max(3k, ⌈6·√(n·k)⌉))` — unless `minCandidates` overrides
    * it. A true neighbor that disagrees with the query on one plane
    * sits at hamming 1; the budget is what pulls those buckets in even
    * when the query's own bucket already holds k rows — recall rises
    * steeply with it, scan breadth linearly (measured floors in
    * RecallSpec). */
  def lshKnn(df: DataFrame, embCol: Column, idCol: Column,
      query: Array[Double], k: Int, nBits: Int = 8, seed: Long = 42L,
      minCandidates: Long = 0L): DataFrame =
    lshKnnOnIndex(
      lshBuckets(df, embCol, idCol, nBits, seed, dim = query.length),
      query, k, nBits, seed, minCandidates)

  /** [[lshKnn]] against a PREBUILT bucket index — the serving shape.
    * `bucketed` is [[lshBuckets]] output (id, emb, bucket), typically
    * written once (partitioned/sorted by bucket) and reused across
    * queries: the signature kernel then never re-runs at query time,
    * the histogram pass reads only the bucket column, and the ranking
    * scan prunes to the probed buckets' partitions. Calling through
    * [[lshKnn]] instead recomputes signatures in both passes — fine for
    * one-off queries, wasteful for a query service.
    *
    * Index MAINTENANCE is append-only: a row's signature depends only
    * on its own embedding and the fixed seeded planes, so new vectors
    * bucket independently and their index rows append to the existing
    * partitions — serving from incrementally-appended files is
    * row-identical to a full rebuild (spec-asserted). This is LSH's
    * operational edge over IVF/PQ ([[ivfIndex]], [[graft.operators.Pq]]),
    * whose centroids/codebooks drift as the corpus grows and need a
    * re-train-and-rebuild policy. */
  def lshKnnOnIndex(bucketed: DataFrame, query: Array[Double], k: Int,
      nBits: Int = 8, seed: Long = 42L, minCandidates: Long = 0L): DataFrame = {
    val planes = hyperplanes(nBits, query.length, seed)
    val qSig = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << i else 0L
    }.foldLeft(0L)(_ | _)
    // histogram BY HAMMING DISTANCE, aggregated engine-side: the driver
    // receives at most nBits+1 rows regardless of bucket cardinality
    // (collecting raw buckets would be unbounded at wide signatures).
    // Null embeddings have null signatures and belong to no bucket.
    val byRadius = bucketed
      .filter($"bucket".isNotNull)
      .groupBy(bit_count($"bucket".bitwiseXOR(lit(qSig))).as("hd"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val cumulative = (0 to nBits).scanLeft(0L)((c, r) => c + byRadius.getOrElse(r, 0L)).tail
    // candidate budget from the histogram's own total — one driver-side
    // formula, no extra scan (the oracle computes the identical value
    // from count(*) over the same filtered corpus)
    val total = cumulative.last
    val budget =
      if (minCandidates > 0L) math.min(minCandidates, math.max(total, 1L))
      else AnnParams.candidateBudget(total, k)
    val radius = cumulative.indexWhere(_ >= budget) match {
      case -1 => nBits // not enough rows in total: scan everything
      case r  => r
    }
    bucketed.filter(bit_count($"bucket".bitwiseXOR(lit(qSig))) <= radius)
      .select($"id", round(cosineSimilarity(asDouble($"emb"), array(query.toIndexedSeq.map(lit): _*)), 4).as("score"))
      .orderBy($"score".desc, $"id")
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Bucket-index lifecycle: DELETES — the LSH twin of the IVFADC
  // tombstone discipline ([[graft.operators.Pq.ivfPqTombstones]]):
  // a delete appends a same-schema row with emb NULL (real index rows
  // always carry their embedding), bucket taken from the index so the
  // marker lives in the partition of the row it kills; serving
  // resolves the set-minus through [[lshLive]]. Same semantics: a
  // tombstone kills (bucket, id) regardless of append order —
  // re-ingesting a deleted id is a compact-then-append
  // ([[lshCompact]]). Unlike IVFADC there are no frozen models to
  // fingerprint: signatures depend only on the seeded planes, so
  // delete/append interleaving needs no validation beyond the schema.
  // ------------------------------------------------------------------

  /** Tombstone rows for `deleteIds` against an [[lshBuckets]] index:
    * (id, NULL emb, bucket) — append them `partitionBy("bucket")` into
    * the index directory. Bucket comes from the index (broadcast join
    * by id), never from re-hashing: the raw vector may be gone. */
  def lshTombstones(bucketed: DataFrame, deleteIds: DataFrame, idCol: Column): DataFrame = {
    val embType = bucketed.schema.find(_.name == "emb")
      .getOrElse(throw new IllegalArgumentException(
        "lshTombstones: index has no emb column")).dataType
    bucketed.join(broadcast(deleteIds.select(idCol.as("id")).distinct()), "id")
      .select($"id", $"bucket")
      .dropDuplicates("id", "bucket")
      .select($"id", lit(null).cast(embType).as("emb"), $"bucket")
  }

  /** The LIVE view of a possibly-tombstoned bucket index: real rows
    * minus tombstoned (bucket, id) pairs. [[lshKnnOnIndex]] /
    * [[lshKnnBatch]] over this view serve row-identically to a rebuild
    * without the deleted rows (spec-asserted, v23's oracle) — the
    * radius histogram must count live rows only, so resolve BEFORE
    * serving, not after: a tombstone's non-null bucket would otherwise
    * inflate its bucket's occupancy by one instead of shrinking it. */
  def lshLive(bucketed: DataFrame): DataFrame =
    bucketed.filter($"emb".isNotNull)
      .join(broadcast(bucketed.filter($"emb".isNull).select($"bucket", $"id")),
        Seq("bucket", "id"), "left_anti")

  /** Compaction: live rows of the buckets containing tombstones —
    * write with `partitionOverwriteMode=dynamic` + `partitionBy
    * ("bucket")` over the index dir; only affected bucket partitions
    * rewrite ([[graft.operators.Pq.ivfPqCompact]]'s contract). */
  def lshCompact(bucketed: DataFrame): DataFrame = {
    val affected = bucketed.filter($"emb".isNull).select($"bucket").distinct()
    lshLive(bucketed.join(broadcast(affected), "bucket")
      .select($"id", $"emb", $"bucket"))
  }

  /** BATCHED multiprobe kNN: a whole query SET against the bucket index
    * in ONE plan — the serving shape for bulk retrieval (re-ranking a
    * candidate file, building a retrieval training set). Single-query
    * [[lshKnnOnIndex]] collects a radius histogram per call: fine
    * interactively, but 10k queries would mean 10k driver round-trips.
    * Here every stage is engine-side and per-query:
    *
    *  1. query signatures via the fused kernel (one scan of `queries`);
    *  2. the bucket-occupancy table (≤ 2^nBits rows — index metadata)
    *     broadcasts; each query's hamming-distance histogram, running
    *     total, and minimal radius reaching the corpus-derived
    *     candidate budget ([[AnnParams.candidateBudget]], computed
    *     engine-side from the histogram's own total) are one groupBy +
    *     window + groupBy chain over |Q|·2^nBits rows;
    *  3. the probe set (qid, bucket ≤ radius) broadcasts into an
    *     equi-join against the bucket index — on a bucket-partitioned
    *     index the scan prunes to probed buckets (v07's layout);
    *  4. exact cosine + per-query top-k via row_number (plans as
    *     partial+final WindowGroupLimit, so map tasks keep only their
    *     local top-k).
    *
    * Per query, the result is row-identical to [[lshKnnOnIndex]] with
    * the same parameters (spec-asserted). Queries with NULL embeddings
    * produce no rows. `qid` must identify a unique query: duplicate
    * qids are collapsed to one arbitrary representative before any
    * math (duplicates would otherwise double-count the histogram and
    * duplicate probe rows — silently corrupting the radius AND the
    * top-k). Output: (qid, id, score, rk), rk = 1..k. */
  def lshKnnBatch(bucketed: DataFrame, queries: DataFrame, qembCol: Column,
      qidCol: Column, dim: Int, k: Int, nBits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    // null embeddings drop BEFORE the qid-dedup, so a (valid, null)
    // duplicate pair can never collapse to the null row and silently
    // erase a usable query; eager localCheckpoint because q feeds three
    // consumers (histogram, probe set, final embedding attach) that
    // would otherwise each re-scan the query set and re-run the
    // signature kernel (the Collapse idiom — |Q| narrow rows; EAGER, so
    // the checkpoint never materializes inside a broadcast-exchange
    // thread — see Collapse.collapse for the deadlock this closes)
    val q = queries.select(qidCol.as("qid"), asDouble(qembCol).as("qemb"),
        lshSignature(qembCol, planes).as("qsig"))
      .filter($"qemb".isNotNull)
      .dropDuplicates("qid")
      .localCheckpoint(true)
    val counts = bucketed.filter($"bucket".isNotNull)
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"hd")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // corpus-derived candidate budget, computed ENGINE-SIDE from the
    // histogram's own total (a full-partition window over ≤ nBits+1
    // rows per query) — Spark's ceil/sqrt and the oracle's evaluate
    // the same IEEE doubles, so the derived radius matches bit-for-bit
    val wt = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
    val radii = q.crossJoin(broadcast(counts))
      .select($"qid", bit_count($"bucket".bitwiseXOR($"qsig")).as("hd"), $"n")
      .groupBy($"qid", $"hd").agg(sum($"n").as("bn"))
      .withColumn("cum", sum($"bn").over(wq))
      .withColumn("total", sum($"bn").over(wt))
      .withColumn("budget", least($"total",
        greatest(lit(3L * k), ceil(lit(6.0) * sqrt($"total" * k)))))
      .groupBy($"qid")
      // smallest radius whose cumulative occupancy reaches the budget;
      // a corpus with fewer rows in total scans everything (radius nBits)
      .agg(min(when($"cum" >= $"budget", $"hd")).as("rsel"))
      .select($"qid", coalesce($"rsel", lit(nBits)).as("radius"))
    // probes broadcast as bare (qid, bucket): at wide radii a query
    // probes up to 2^nBits buckets, and rows carrying qemb would
    // multiply the broadcast by the probe width; the embedding
    // attaches once per query via the second (|Q|-row) broadcast
    val probes = q.join(radii, "qid")
      .crossJoin(broadcast(counts.select($"bucket")))
      .filter(bit_count($"bucket".bitwiseXOR($"qsig")) <= $"radius")
      .select($"qid", $"bucket")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"score".desc, $"id")
    bucketed.join(broadcast(probes), "bucket")
      .join(broadcast(q.select($"qid", $"qemb")), "qid")
      .select($"qid", $"id",
        round(cosineSimilarity(asDouble($"emb"), $"qemb"), 4).as("score"))
      .withColumn("rk", row_number().over(wk))
      .filter($"rk" <= k)
      .select($"qid", $"id", $"score", $"rk")
  }

  /** Batched RADIUS (range) search: every corpus vector with cosine
    * ≥ `threshold` against each query — the "all matches above a score
    * floor" retrieval mode (dedup candidate pull, recall-first
    * filtering), as opposed to top-k's fixed result size.
    *
    * Structure mirrors [[lshKnnBatch]]'s serving shape — query set ×
    * served bucket index in ONE plan, probes broadcast as bare
    * (qid, bucket) pairs — but with a FIXED hamming probe radius
    * `maxHamming` (the recall dial; nBits widens to a full scan)
    * instead of the adaptive per-query histogram: a threshold query has
    * no target candidate count to adapt toward, so the histogram pass
    * would buy nothing. And because the result is "everything above the
    * floor", there is NO window, NO sort, NO top-k state anywhere —
    * matches stream straight from the probed partitions through the
    * cosine filter, which is the part that matters when one hot query
    * matches 10^6 rows at 100 TB (a top-k would buffer them; this
    * pipelines them).
    *
    * Approximation contract (same as every single-table LSH probe):
    * recall over the probed buckets is exact; a true match whose bucket
    * differs from the query's in more than `maxHamming` bits is missed.
    * The oracle twins this exactly (same inlined planes, same radius
    * join, same threshold), so the hash-compare proves the implementation
    * — the recall/width trade is the caller's documented knob.
    *
    * Output: (qid, id, score), score = round(cosine, 4) ≥ threshold. */
  def lshRadiusBatch(bucketed: DataFrame, queries: DataFrame, qembCol: Column,
      qidCol: Column, dim: Int, threshold: Double, nBits: Int = 8,
      maxHamming: Int = 1, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    // same hygiene as lshKnnBatch: null embeddings drop before the
    // qid-dedup; eager localCheckpoint because q feeds two consumers
    // (probe set, embedding attach) that would otherwise re-run the
    // signature kernel per consumer
    val q = queries.select(qidCol.as("qid"), asDouble(qembCol).as("qemb"),
        lshSignature(qembCol, planes).as("qsig"))
      .filter($"qemb".isNotNull)
      .dropDuplicates("qid")
      .localCheckpoint(true)
    val buckets = bucketed.filter($"bucket".isNotNull)
      .select($"bucket").distinct()
    val probes = q.crossJoin(broadcast(buckets))
      .filter(bit_count($"bucket".bitwiseXOR($"qsig")) <= maxHamming)
      .select($"qid", $"bucket")
    bucketed.join(broadcast(probes), "bucket")
      .join(broadcast(q.select($"qid", $"qemb")), "qid")
      .select($"qid", $"id",
        round(cosineSimilarity(asDouble($"emb"), $"qemb"), 4).as("score"))
      .filter($"score" >= threshold)
  }

  /** Embedding near-dup pairs: multi-band LSH blocking + exact cosine
    * verify. Each vector gets `nBands` independent `nBits`-bit
    * signatures; candidates are pairs sharing ANY band's bucket — union
    * of bands drives recall to 1−(1−p^nBits)^nBands for per-hyperplane
    * agreement p = 1−θ/π (a single table at practical widths misses
    * most true pairs: e.g. 10 bits alone recalls only ~34% of
    * 0.95-cosine pairs; 6 bits × 6 bands recalls ~99%). Bucket sizes
    * stay ~n/2^nBits per band, so the self-join is bounded and
    * skew-free; `distinct` dedups candidates before the exact verify. */
  /** `centered` trade-off: centering balances buckets on correlated
    * corpora (without it the self-join degenerates toward O(n²) on hot
    * buckets), but vectors lying CLOSE to the corpus mean become
    * near-zero after centering and their bucket bits turn effectively
    * random — near-dup pairs in that region can be missed. Set
    * `centered = false` for small/uncorrelated corpora, or block with
    * MinHash over content shingles (Dedup) when recall must not depend
    * on position relative to the mean. */
  /** Band sizing: expected bucket occupancy is n/2^nBits PER BAND, and
    * candidate volume grows with the SQUARE of occupancy — nBits must
    * scale with log2(corpus size) (12 bits ≈ 1 doc/bucket at n=5k; the
    * old 6-bit default put ~80 docs per bucket and generated 1.3M
    * candidates from 5k docs). Recall at per-plane agreement p is
    * 1−(1−p^nBits)^nBands: 12×14 ≈ 0.99 at cosine 0.95. */
  /** Adversarial-skew defense ([[Collapse]]): identical embeddings
    * (mass-duplicated boilerplate) collapse to one representative
    * BEFORE banding — the bucket self-join, candidate dedup, and verify
    * are bounded by DISTINCT embeddings; member pairs re-expand
    * afterwards with the rep-level cosine (identical vectors ⇒
    * identical scores), so the output is row-identical to the
    * uncollapsed pipeline (SkewSpec) and the signature kernel runs once
    * per distinct vector instead of once per row. */
  def cosineNearDupPairs(df: DataFrame, embCol: Column, idCol: Column,
      threshold: Double, nBits: Int = 12, nBands: Int = 14,
      seed: Long = 42L, dim: Int = -1, centered: Boolean = true): DataFrame = {
    val d = if (dim > 0) dim else firstDim(df, embCol)
    val planes = hyperplanes(nBits * nBands, d, seed)
    // centered bucketing: correlated corpora (all docs share common
    // content directions) otherwise crowd into a handful of buckets and
    // the self-join degenerates toward O(n²). The mean is taken over
    // the ORIGINAL rows (duplicates and all), so collapsing cannot
    // move the buckets.
    val offsets = if (centered) centeredOffsets(df, embCol, planes, d) else null
    val rows = df.filter(embCol.isNotNull)
      .select(idCol.as("id"), asDouble(embCol).as("emb"))
    val (members, reps0) = Collapse.collapse(rows, md5(to_json($"emb")), $"id", $"emb")
    val reps = reps0.select($"rep", $"payload".as("emb"), $"cnt")
    // the banded self-join carries ONLY (rep, band, sig) — never the
    // embedding arrays (shipping a 64-double vector through the
    // explode + shuffle multiplies I/O by nBands; candidates are orders
    // of magnitude fewer than banded rows, so attaching embeddings to
    // the deduped candidate pairs afterwards is strictly cheaper).
    // ONE fused kernel call computes all nBands signatures per rep.
    val banded = reps.select(
      $"rep",
      posexplode(graft.expressions.VectorOps.lshBandSignatures(
        $"emb", planes,
        if (offsets == null) noOffsets else offsets, nBits)).as(Seq("band", "sig")))
    val a = banded.as("a")
    val b = banded.as("b")
    val repCand = a.join(b,
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("ra"), col("b.rep").as("rb"))
      .distinct()
    val rembs = reps.select($"rep", $"emb")
    val cross = repCand
      .join(rembs.select($"rep".as("ra"), $"emb".as("emb_a")), "ra")
      .join(rembs.select($"rep".as("rb"), $"emb".as("emb_b")), "rb")
      .select($"ra", $"rb",
        round(cosineSimilarity($"emb_a", $"emb_b"), 4).as("cosine"))
      .filter($"cosine" >= threshold)
    // intra-group pairs: kernel on (emb, emb), NOT a literal 1.0 — a
    // zero-norm vector's self-cosine must match whatever the kernel
    // returns for it, or expansion diverges from the uncollapsed twin
    val self = reps.filter($"cnt" > 1)
      .select($"rep".as("ra"),
        round(cosineSimilarity($"emb", $"emb"), 4).as("cosine"))
      .filter($"cosine" >= threshold)
    Collapse.expandPairs(cross, self, members, "cosine")
  }

  /** Plane offsets that center the LSH space on the corpus mean —
    * offset_i = mean · plane_i (see [[lshSignature]]'s centering note). */
  private def centeredOffsets(df: DataFrame, embCol: Column,
      planes: Array[Array[Double]], dim: Int): Array[Double] = {
    val m = meanVector(df, embCol, dim)
    planes.map(p => p.zip(m).map { case (a, b) => a * b }.sum)
  }

  /** k-nearest-neighbor SELF-join: the top-k most cosine-similar
    * neighbors of EVERY vector — the workhorse behind near-dup
    * clustering, retrieval-index bootstrapping, kNN-graph construction,
    * and label propagation. Candidates are LSH-blocked exactly like
    * [[cosineNearDupPairs]] (pairs sharing ANY band's bucket, union of
    * bands driving recall), but kept DIRECTED — both (a,b) and (b,a)
    * survive — because each row ranks its OWN candidate list. The
    * banded self-join carries only (id, band, sig); embeddings attach
    * to the deduped candidates afterwards; per-id top-k is one window
    * over the verified candidates. Total cost: bounded bucket joins +
    * a single shuffle by id — never an O(n²) cross join, never a
    * content shuffle. Ids with fewer than k bucket-mates return fewer
    * rows (recall is the banding curve: raise nBands to pull in more
    * true neighbors, nBits to keep buckets sparse as the corpus grows —
    * nBits must track log2(n), see [[cosineNearDupPairs]]'s sizing
    * note). Output: (id, nbr, score, rk), rk = 1..k most-similar-first. */
  /** Adversarial-skew defense ([[Collapse]]), exploiting that a top-k
    * contract caps the expansion itself — unlike the pair-listing
    * operators, NO stage here is quadratic in a duplicate-group size:
    *
    *  1. identical embeddings collapse to one representative; banding,
    *     the bucket self-join, and the once-per-group-pair cosine
    *     verify all run over DISTINCT vectors;
    *  2. every member of a group shares the same scored candidate
    *     groups, and within one candidate group all neighbors tie on
    *     score — so only that group's k+1 SMALLEST member ids can ever
    *     enter anyone's top-k list (ties break by neighbor id
    *     ascending; the +1 absorbs self-exclusion inside one's own
    *     group). The rep-level pool keeps k+1 ids per candidate group,
    *     then the top k+1 pool rows per rep;
    *  3. members join the ≤ k+1-row pool of their rep — O(n·k)
    *     expansion — drop the self row, and re-rank per id.
    *
    * The result is row-identical to ranking the uncollapsed candidate
    * set (identical vectors share every bucket and every score;
    * SkewSpec asserts equality on a boilerplate-heavy fixture). */
  def knnJoin(df: DataFrame, embCol: Column, idCol: Column, k: Int,
      nBits: Int = 4, nBands: Int = 2, seed: Long = 42L, dim: Int = -1,
      centered: Boolean = false): DataFrame = {
    val d = if (dim > 0) dim else firstDim(df, embCol)
    val planes = hyperplanes(nBits * nBands, d, seed)
    val offsets = if (centered) centeredOffsets(df, embCol, planes, d) else null
    val rows = df.filter(embCol.isNotNull)
      .select(idCol.as("id"), asDouble(embCol).as("emb"))
    val (members, reps0) = Collapse.collapse(rows, md5(to_json($"emb")), $"id", $"emb")
    val reps = reps0.select($"rep", $"payload".as("emb"), $"cnt")
    val banded = reps.select(
      $"rep",
      posexplode(graft.expressions.VectorOps.lshBandSignatures(
        $"emb", planes,
        if (offsets == null) noOffsets else offsets, nBits)).as(Seq("band", "sig")))
    val a = banded.as("a")
    val b = banded.as("b")
    // directed rep candidates (each rep ranks its own list), plus the
    // self-pair for multi-member groups (a member's co-members are
    // candidates in the uncollapsed pipeline — identical vectors share
    // every bucket)
    val repCand = a.join(b,
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.rep") =!= col("b.rep"))
      .select(col("a.rep").as("ra"), col("b.rep").as("rb"))
      .distinct()
      .unionByName(reps.filter($"cnt" > 1).select($"rep".as("ra"), $"rep".as("rb")))
    val rembs = reps.select($"rep", $"emb")
    val scored = repCand
      .join(rembs.select($"rep".as("ra"), $"emb".as("emb_a")), "ra")
      .join(rembs.select($"rep".as("rb"), $"emb".as("emb_b")), "rb")
      .select($"ra", $"rb",
        round(cosineSimilarity($"emb_a", $"emb_b"), 4).as("score"))
    // neighbor-side pool: the k+1 smallest member ids per group (only
    // those can survive any top-k; ties break by nbr ascending)
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy($"rep").orderBy($"id")
    val poolIds = members
      .withColumn("mrk", row_number().over(wG))
      .filter($"mrk" <= k + 1)
      .select($"rep".as("rb"), $"id".as("nbr"))
    // rep-level pre-rank: a member's top-k (pool minus at most its own
    // self row) is contained in the pool's top k+1
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy($"ra").orderBy($"score".desc, $"nbr")
    val poolTop = scored.join(poolIds, "rb")
      .select($"ra", $"nbr", $"score")
      .withColumn("prk", row_number().over(wR))
      .filter($"prk" <= k + 1)
    // expand to members (O(k) rows per id) and re-rank per id
    val wI = org.apache.spark.sql.expressions.Window
      .partitionBy($"id").orderBy($"score".desc, $"nbr")
    poolTop
      .join(members.select($"id", $"rep".as("ra")), "ra")
      .filter($"id" =!= $"nbr")
      .select($"id", $"nbr", $"score")
      .withColumn("rk", row_number().over(wI))
      .filter($"rk" <= k)
  }

  /** Embedding-space benchmark decontamination: keep the corpus rows
    * whose max cosine similarity against EVERY eval-set vector stays
    * below `threshold` — the vector-space complement of the 8-gram
    * overlap check ([[Dedup.contamination]]), catching paraphrased or
    * re-worded benchmark leakage that shares no exact n-grams. The eval
    * matrix rides the plan as a reference object into one fused
    * codegen'd max-cosine kernel, so the whole operator is a single
    * narrow corpus scan — no join, no shuffle, nothing but the kernel
    * touches the 100 TB side. Driver-side bound: the eval matrix
    * (nEval × dim doubles) must fit in the plan (~10⁵ × 64 ≈ 50 MB is a
    * practical ceiling); decontaminating against a corpus-sized eval
    * set is a near-dup problem — use [[cosineNearDupPairs]] banding
    * instead. The +1e-9 nudge before round keeps the 4-dp comparison
    * bit-portable across engines (see TextFunctions.qualityScore).
    *
    * The kernel sits inside a Generate (explode of a 1-element array) —
    * the one barrier predicate pushdown cannot substitute through — so
    * the threshold filter consumes the projected column instead of
    * re-deriving the kernel below it (t17 precedent; plan-gated). */
  def decontaminateByCosine(corpus: DataFrame, embCol: Column, idCol: Column,
      evalVecs: Array[Array[Double]], threshold: Double): DataFrame = {
    require(evalVecs.nonEmpty,
      "decontaminateByCosine: empty eval set — every corpus row would pass vacuously; " +
        "pass the benchmark's embeddings or skip the operator")
    corpus
      .select(idCol.as("id"),
        explode(array(
          round(graft.expressions.VectorOps.maxCosine(asDouble(embCol), evalVecs) + lit(1e-9), 4)))
          .as("max_eval_cosine"))
      .filter($"max_eval_cosine" < threshold)
  }

  /** IVF (inverted-file) index: assign every vector to its nearest
    * coarse centroid — (id, emb, list) where `list` is the centroid
    * index. At scale the table is written partitioned by `list`, so a
    * query scans only the probed lists' partitions instead of 1/2^bits
    * random buckets (LSH) or everything (brute force). Centroids can
    * come from any coarse quantizer — e.g. the prototypes of a trained
    * [[graft.model.GngModel]] (G-Stream doubles as the IVF trainer). */
  def ivfIndex(df: DataFrame, embCol: Column, idCol: Column,
      centroids: Array[Array[Double]]): DataFrame =
    // codegen'd kernel, not a Scala UDF: assignment stays inside
    // whole-stage codegen with zero per-row serde — this is the pass
    // that touches every row of the 100 TB table
    df.select(idCol.as("id"), embCol.as("emb"),
      graft.expressions.VectorOps.nearestCentroid(asDouble(embCol), centroids).as("list"))

  /** IVF approximate kNN: rank by exact cosine within the `nProbe`
    * lists whose centroids are nearest the query (in
    * [[graft.expressions.Nearest]]'s order). Recall grows with
    * nProbe; nProbe = number of lists gives exact brute force. */
  def ivfKnn(df: DataFrame, embCol: Column, idCol: Column,
      centroids: Array[Array[Double]], query: Array[Double],
      k: Int, nProbe: Int = 2): DataFrame = {
    ivfIndex(df, embCol, idCol, centroids)
      .filter(col("list").isin(
        graft.expressions.Nearest.nearestN(query, centroids, nProbe).toSeq: _*))
      .select($"id", round(cosineSimilarity(asDouble($"emb"),
        array(query.toIndexedSeq.map(lit): _*)), 4).as("score"))
      .orderBy($"score".desc, $"id")
      .limit(k)
  }

  /** Probe the embedding dimensionality from the first row — a
    * `limit(1)` Spark job (ArrayType carries no length in the schema).
    * Callers that already know the width should pass `dim` instead. */
  private def firstDim(df: DataFrame, embCol: Column): Int = {
    val row = df.select(size(embCol)).limit(1).collect()
    require(row.nonEmpty, "cannot infer embedding dim from an empty DataFrame; pass dim explicitly")
    row(0).getInt(0)
  }

  private implicit class Str(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
