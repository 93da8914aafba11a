package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.{Nearest, PqOps}
import graft.functions.VectorFunctions.asDouble

/** Product quantization — the memory side of 100 TB ANN. IVF (v06)
  * prunes WHICH vectors a query scans; PQ shrinks WHAT each scan
  * reads: a 64-d float vector (256 B) becomes `m` codebook indices
  * (8 B at m=8, k≤256 — 32×), so the candidate scan streams codes and
  * never touches raw embeddings. Ranking uses the asymmetric distance
  * (ADC): per query, a driver-built m×k lookup table of
  * query-subvector→codeword squared distances; a row's approximate
  * distance is `m` table lookups — no per-row float math at all.
  *
  * Training follows the FAISS convention: Lloyd's k-means per subspace
  * on a BOUNDED deterministic sample (lowest `sampleCap` ids — a
  * TakeOrdered, never a full collect; 4096×64 doubles = 2 MB), fixed
  * iteration count, first-k-distinct init, empty clusters keep their
  * previous codeword. Codebook quality needs a representative sample,
  * not the corpus — production PQ trains on ~10⁵ vectors regardless
  * of index size, so driver-side training is the honest shape; the
  * ENCODE pass (the corpus-sized work) is a distributed one-expression
  * codegen'd scan.
  */
object Pq {

  /** Train an m-subspace, k-codeword codebook. Fully deterministic for
    * a given (df, ordering column) — the dump-time oracle inlines the
    * result as SQL constants (v06 precedent).
    * @return codebook(j)(c) = codeword c of subspace j */
  def train(df: DataFrame, vecCol: Column, idCol: Column, m: Int, k: Int,
      iters: Int = 5, sampleCap: Int = 4096): Array[Array[Array[Double]]] = {
    require(m > 0 && k > 0 && iters >= 0)
    val sample: Array[Array[Double]] = df
      .orderBy(idCol)
      .limit(sampleCap)
      .select(asDouble(vecCol))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pq train: empty input")
    val dim = sample(0).length
    require(dim % m == 0, s"pq train: dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      lloyd(pts, k, iters)
    }
  }

  /** Driver-side Lloyd's: first-k-distinct init (cycling if the sample
    * has fewer distinct points than k — the duplicates tie to the
    * lower index and simply stay empty), [[Nearest]] assignment (the
    * [[graft.expressions.PqOpsImpl.pqEncode]] winner, never -1),
    * sample-order mean accumulation. Deterministic end to end. */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val distinct = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
    pts.foreach(p => if (distinct.size < k) distinct += p.toSeq)
    val init = distinct.toArray.map(_.toArray)
    val cents = Array.tabulate(k)(c => init(c % init.length).clone())
    val sub = pts(0).length
    for (_ <- 1 to iters) {
      val sums = Array.fill(k, sub)(0.0)
      val counts = new Array[Long](k)
      pts.foreach { p =>
        val best = Nearest.nearest(p, 0, cents)
        var t = 0
        while (t < sub) { sums(best)(t) += p(t); t += 1 }
        counts(best) += 1
      }
      for (c <- 0 until k if counts(c) > 0; t <- 0 until sub)
        cents(c)(t) = sums(c)(t) / counts(c)
    }
    cents
  }

  /** Encode every row: `(idCol as id, codes array<int>)`. One
    * codegen'd pass; at scale this output is what gets persisted as
    * the PQ index (32× smaller than the embeddings it replaces). */
  def encode(df: DataFrame, vecCol: Column, idCol: Column,
      codebook: Array[Array[Array[Double]]]): DataFrame =
    df.select(idCol.as("id"), PqOps.pqEncode(asDouble(vecCol), codebook).as("codes"))

  /** The query-side ADC lookup table: lut(j)(c) = [[Nearest.dist2]] of
    * the query's subspace-j slice to codeword c — the encode kernel's
    * distance (and the oracle's left-associated SQL chain). */
  def adcLut(codebook: Array[Array[Array[Double]]],
      query: Array[Double]): Array[Array[Double]] = {
    val m = codebook.length
    val sub = codebook(0)(0).length
    require(query.length == m * sub,
      s"pq lut: query length ${query.length} != $m x $sub")
    Array.tabulate(m)(j => codebook(j).map(Nearest.dist2(query, j * sub, _)))
  }

  /** Approximate top-k by ADC distance (ascending; ties to the lower
    * id). Scan → encode → m table lookups → TakeOrderedAndProject:
    * zero shuffle, zero raw-vector reads past the encode (which a
    * served deployment prebuilds — see v07 for the pattern). The
    * +1e-9 nudge before round() keeps the two engines' round()
    * conventions off the .xxxx5 boundary (qualityScore precedent). */
  def pqKnn(df: DataFrame, vecCol: Column, idCol: Column,
      codebook: Array[Array[Array[Double]]], query: Array[Double],
      k: Int): DataFrame = {
    val lut = adcLut(codebook, query)
    encode(df, vecCol, idCol, codebook)
      .select(col("id"),
        round(PqOps.pqAdc(col("codes"), lut) + lit(1e-9), 4).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(k)
  }

  /** IVFADC — the FAISS composition of the two ANN halves this library
    * already has: IVF (coarse centroids, [[Similarity.ivfIndex]])
    * prunes WHICH vectors the query scans to `nProbe` inverted lists;
    * PQ ranks those candidates by ADC without touching raw floats. At
    * 100 TB the index is (list, id, codes) partitioned by list — the
    * probe prunes partitions (v07's pattern) and the ranking scan
    * streams 8-byte codes: [[ivfPqIndex]] builds it,
    * [[ivfPqKnnOnIndex]] serves from it. This online variant derives
    * both per call — correct for one-off queries, wasteful for a
    * service. Probe selection mirrors [[Similarity.ivfKnn]]: nearest
    * `nProbe` centroids to the query, ties to the lower list. */
  def ivfPqKnn(df: DataFrame, vecCol: Column, idCol: Column,
      centroids: Array[Array[Double]], codebook: Array[Array[Array[Double]]],
      query: Array[Double], k: Int, nProbe: Int = 2): DataFrame = {
    val lut = adcLut(codebook, query)
    Similarity.ivfIndex(df, vecCol, idCol, centroids)
      .filter(col("list").isin(Nearest.nearestN(query, centroids, nProbe).toSeq: _*))
      .select(col("id"),
        round(PqOps.pqAdc(
          PqOps.pqEncode(graft.functions.VectorFunctions.asDouble(col("emb")), codebook),
          lut) + lit(1e-9), 4).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(k)
  }

  /** The persistable IVFADC index: `(id, codes, list)` in one
    * codegen'd pass — coarse list assignment + PQ encode, raw vectors
    * never stored. Write it `partitionBy("list")` and every query's
    * probe set prunes at file-listing time; the 100 TB corpus becomes
    * an 8-byte-per-row code table. Unlike the LSH index
    * ([[Similarity.lshKnnOnIndex]]'s append-only maintenance), the
    * centroids/codebook DRIFT as the corpus grows — a served IVFADC
    * index needs a retrain-and-rebuild policy, which is why both
    * models are explicit parameters here rather than trained inline. */
  def ivfPqIndex(df: DataFrame, vecCol: Column, idCol: Column,
      centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    // version the index with its frozen models: the fingerprint rides
    // the `codes` column's metadata through select/alias AND a parquet
    // write/read round-trip (minHashIndex precedent), so the append
    // path can refuse an increment encoded under drifted models
    // instead of silently mixing incompatible code spaces
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("graft.ivfpq.model_fp", modelFingerprint(centroids, codebook))
      .build()
    df.select(idCol.as("id"),
      PqOps.pqEncode(graft.functions.VectorFunctions.asDouble(vecCol), codebook)
        .as("codes", meta),
      graft.expressions.VectorOps.nearestCentroid(
        graft.functions.VectorFunctions.asDouble(vecCol), centroids).as("list"))
  }

  /** Bit-exact fingerprint of the frozen (centroids, codebook) pair —
    * doubleToLongBits rendering, so two models agree iff every
    * coordinate is IEEE-identical (a "retrained but close" codebook is
    * a DIFFERENT code space and must not pass). */
  def modelFingerprint(centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]]): String = {
    val sb = new StringBuilder
    for (c <- centroids; v <- c) sb.append(java.lang.Double.doubleToLongBits(v)).append(',')
    sb.append('|')
    for (j <- codebook; w <- j; v <- w)
      sb.append(java.lang.Double.doubleToLongBits(v)).append(',')
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Encode a corpus INCREMENT for append-only growth of a served
    * [[ivfPqIndex]] between retrains. Codes and list assignment are
    * row-local given frozen models, so appended rows serve
    * row-identically to a full rebuild (spec-asserted) — but ONLY
    * under the exact models the index was built with: this validates
    * the stored fingerprint and fails fast on drift (the
    * retrain-and-rebuild boundary), rather than silently appending
    * codes from a different code space, which every subsequent ADC
    * scan would score as garbage. An UNSTAMPED index (built outside
    * [[ivfPqIndex]]) is refused too: appending stamped files into an
    * unstamped directory would leave a mixed listing whose future
    * validations depend on which footer Spark happens to sample for
    * the schema — nondeterministic acceptance is worse than a rebuild.
    * Write the result `mode("append")` with the same
    * `partitionBy("list")` layout. */
  def ivfPqIncrement(index: DataFrame, df: DataFrame, vecCol: Column, idCol: Column,
      centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    val stored = index.schema.find(_.name == "codes").map(_.metadata)
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    val key = "graft.ivfpq.model_fp"
    require(stored.contains(key),
      "ivfPqIncrement: the index carries no model fingerprint (not built by " +
        "ivfPqIndex) — appending would mix stamped and unstamped files and make " +
        "future drift validation depend on footer sampling order; rebuild via " +
        "ivfPqIndex instead")
    val fp = modelFingerprint(centroids, codebook)
    require(stored.getString(key) == fp,
      "ivfPqIncrement: the index was built under different centroids/codebook " +
        "(model fingerprint mismatch) — an IVFADC index cannot mix code spaces; " +
        "retrain-and-rebuild instead of appending")
    ivfPqIndex(df, vecCol, idCol, centroids, codebook)
  }

  /** [[ivfPqKnn]] against a PREBUILT [[ivfPqIndex]] — the serving
    * shape. Neither kernel runs at query time: the probe set is a
    * driver-side centroid scan, the ranking reads STORED codes from
    * the probed lists' partitions only (PartitionFilters — plan-gated
    * like v07), and each row costs `m` LUT lookups. Row-identical to
    * the online [[ivfPqKnn]] with the same models (spec-asserted). */
  def ivfPqKnnOnIndex(index: DataFrame,
      centroids: Array[Array[Double]], codebook: Array[Array[Array[Double]]],
      query: Array[Double], k: Int, nProbe: Int = 2): DataFrame =
    adcRank(index.filter(col("list").isin(Nearest.nearestN(query, centroids, nProbe).toSeq: _*)),
      codebook, query, k)

  /** The shared ADC scoring tail: stored codes → m LUT lookups →
    * TakeOrderedAndProject (ties to the lower id). */
  private def adcRank(probed: DataFrame, codebook: Array[Array[Array[Double]]],
      query: Array[Double], k: Int): DataFrame = {
    val lut = adcLut(codebook, query)
    probed
      .select(col("id"),
        round(PqOps.pqAdc(col("codes"), lut) + lit(1e-9), 4).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Index lifecycle: DELETES. Takedowns, re-crawls, and dedup-driven
  // removals must come OUT of a served index without a full rebuild.
  // The mechanism is the LSM discipline: a delete appends a TOMBSTONE
  // row — same (id, codes, list) schema with codes NULL (real rows
  // always carry codes), list taken from the index itself so the
  // tombstone lands in the partition of the row it kills and every
  // probe that could surface the dead row also sees its tombstone.
  // Serving resolves tombstones with a set-minus ([[ivfPqLive]]);
  // COMPACTION ([[ivfPqCompact]]) rewrites only the affected lists to
  // reclaim space and drop the markers.
  //
  // Semantics: a tombstone kills (list, id) as a SET-MINUS, not an
  // ordered log — an append of the same id after its delete is still
  // dead until the affected lists compact (there is no per-row version
  // to order writes by; re-ingesting a previously deleted id is a
  // compact-then-append, spec-asserted). Tombstones for ids absent
  // from the index produce no rows (a no-op delete, not an error).
  // ------------------------------------------------------------------

  /** Tombstone rows for `deleteIds` (a 1-column frame of ids, or any
    * frame + `idCol`): (id, NULL codes, list) — `write.mode("append").
    * partitionBy("list")` them into the index directory. The list
    * assignment comes from the INDEX (broadcast join by id), never
    * from re-encoding: the raw vector may be long gone (that is the
    * point of a takedown), and the index is the source of truth for
    * where the row lives. The codes column keeps the index's model
    * fingerprint metadata so stamped directories stay uniformly
    * stamped ([[ivfPqIncrement]]'s validation). */
  def ivfPqTombstones(index: DataFrame, deleteIds: DataFrame, idCol: Column): DataFrame = {
    val codesField = index.schema.find(_.name == "codes")
      .getOrElse(throw new IllegalArgumentException(
        "ivfPqTombstones: index has no codes column"))
    val ids = deleteIds.select(idCol.as("id")).distinct()
    // dedup BEFORE attaching the stamped codes column: dropDuplicates
    // plans as an aggregate whose first() wrapper strips alias
    // metadata, and an unstamped tombstone file would wipe the model
    // fingerprint from the directory's read-back schema
    index.join(broadcast(ids), "id")
      .select(col("id"), col("list"))
      .dropDuplicates("id", "list")
      .select(col("id"), lit(null).cast(codesField.dataType)
        .as("codes", codesField.metadata), col("list"))
  }

  /** The LIVE view of a possibly-tombstoned index: real rows minus
    * those with a tombstone in the same list. Apply AFTER any list/
    * partition pruning — under a LeftAnti join Catalyst pushes the
    * probe filter only to the left side, so resolving first would scan
    * every list's tombstones per query ([[ivfPqKnnOnIndexLive]] orders
    * it correctly). The tombstone side broadcasts: deletes are a tiny
    * fraction of a served index by assumption, and compaction is the
    * pressure valve when they stop being one. */
  def ivfPqLive(index: DataFrame): DataFrame =
    index.filter(col("codes").isNotNull)
      .join(broadcast(index.filter(col("codes").isNull).select(col("list"), col("id"))),
        Seq("list", "id"), "left_anti")

  /** [[ivfPqKnnOnIndex]] over an index carrying tombstones: prune to
    * the probed lists FIRST (both the data rows and the tombstones —
    * one filter, one scan subtree, partition-prunable), resolve the
    * set-minus, then rank. Serving a tombstoned index is row-identical
    * to serving a rebuild without the deleted rows (spec-asserted,
    * v22's oracle). */
  def ivfPqKnnOnIndexLive(index: DataFrame,
      centroids: Array[Array[Double]], codebook: Array[Array[Array[Double]]],
      query: Array[Double], k: Int, nProbe: Int = 2): DataFrame = {
    val probed =
      index.filter(col("list").isin(Nearest.nearestN(query, centroids, nProbe).toSeq: _*))
    adcRank(ivfPqLive(probed), codebook, query, k)
  }

  /** Compaction: the live rows of the lists that contain tombstones —
    * write with `partitionOverwriteMode=dynamic` + `partitionBy("list")`
    * over the index directory and ONLY the affected list partitions
    * rewrite (dead rows and markers drop together); untouched lists
    * keep their files. After compaction the directory serves
    * identically ([[ivfPqLive]] of a tombstone-free index is the index)
    * and previously-deleted ids may be re-appended. At 100 TB this is
    * the difference between rewriting the lists a takedown touched and
    * rewriting the whole code table. */
  def ivfPqCompact(index: DataFrame): DataFrame = {
    val affected = index.filter(col("codes").isNull).select(col("list")).distinct()
    ivfPqLive(index.join(broadcast(affected), "list")
      .select(col("id"), col("codes"), col("list")))
  }

  /** BATCHED IVFADC serving: a whole query SET against the
    * [[ivfPqIndex]] in ONE plan — the ADC twin of
    * [[Similarity.lshKnnBatch]]. Per query, everything the single-query
    * path does on the driver happens engine-side:
    *
    *  1. probe sets via the `nearest_lists` kernel (centroid matrix as
    *     a plan constant) — one pass over the query set, exploded to
    *     (qid, qemb, list) and broadcast into the list equi-join;
    *  2. ADC scoring via `pq_adc_direct` (codebook as a plan
    *     constant): each candidate row costs m·sub flops against the
    *     query riding the broadcast — no per-query driver LUT, no
    *     encode (codes are STORED);
    *  3. per-query top-k via row_number — plans as a partial+final
    *     WindowGroupLimit pair around the single by-qid shuffle.
    *
    * Per query, row-identical to [[ivfPqKnnOnIndex]] with the same
    * models (spec-asserted; the direct ADC replays the LUT build's
    * exact IEEE adds). Queries with NULL embeddings produce no rows.
    * `qid` must identify a unique query: duplicate qids collapse to
    * one arbitrary representative (duplicate probe rows would
    * otherwise duplicate every candidate and corrupt the top-k).
    * Output: (qid, id, adc_dist, rk), rk = 1..k. */
  def ivfPqKnnBatch(index: DataFrame, queries: DataFrame, qembCol: Column,
      qidCol: Column, centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]], k: Int, nProbe: Int = 2): DataFrame = {
    // null embeddings drop BEFORE the qid-dedup — a (valid, null)
    // duplicate pair must never collapse to the null row and silently
    // erase a usable query
    val q = queries
      .select(qidCol.as("qid"), asDouble(qembCol).as("qemb"))
      .filter(col("qemb").isNotNull)
      .dropDuplicates("qid")
      .select(col("qid"), col("qemb"),
        explode(graft.expressions.VectorOps.nearestLists(
          col("qemb"), centroids, nProbe)).as("list"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_dist"), col("id"))
    index.join(broadcast(q), "list")
      .select(col("qid"), col("id"),
        round(PqOps.pqAdcDirect(col("codes"), col("qemb"), codebook) + lit(1e-9), 4)
          .as("adc_dist"))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select(col("qid"), col("id"), col("adc_dist"), col("rk"))
  }

  /** Two-stage retrieval — FAISS's search-then-refine, the production
    * serving architecture: the compressed index produces an
    * over-fetched APPROXIMATE shortlist ([[ivfPqKnnBatch]], ADC over
    * stored codes), then only those `shortlist` rows per query are
    * re-ranked by EXACT squared Euclidean against their raw
    * embeddings. ADC quantization error can swap near-ties; the
    * re-rank restores exact order among everything the shortlist
    * caught, at the cost of touching `|Q|·shortlist` raw vectors
    * instead of zero — the standard recall/latency dial.
    *
    * Scale shape: the shortlist is bare (qid, id) pairs and
    * BROADCASTS into the corpus scan (one narrow pass, no corpus
    * shuffle — a 100 TB embedding table is filtered to
    * |Q|·shortlist rows map-side); query vectors attach via the
    * second |Q|-row broadcast; the final top-k is the same
    * partial+final WindowGroupLimit pair as the shortlist stage.
    * Output: (qid, id, dist, rk), rk = 1..k by exact distance. */
  def ivfPqKnnRerank(index: DataFrame, corpus: DataFrame, vecCol: Column,
      idCol: Column, queries: DataFrame, qembCol: Column, qidCol: Column,
      centroids: Array[Array[Double]], codebook: Array[Array[Array[Double]]],
      k: Int, shortlist: Int, nProbe: Int = 2): DataFrame = {
    require(shortlist >= k, s"rerank: shortlist $shortlist < k $k")
    // dedup ONCE and feed the same representatives to both stages:
    // two independent dropDuplicates could pick DIFFERENT embeddings
    // for a duplicated qid, making the shortlist and the exact
    // re-rank score against different queries. Eager localCheckpoint —
    // both stages consume it (the lshKnnBatch idiom; eager so the
    // materialization never runs inside a broadcast-exchange thread,
    // see Collapse.collapse).
    val q = queries.select(qidCol.as("qid"), asDouble(qembCol).as("qemb"))
      .filter(col("qemb").isNotNull)
      .dropDuplicates("qid")
      .localCheckpoint(true)
    val short = ivfPqKnnBatch(index, q, col("qemb"), col("qid"),
        centroids, codebook, k = shortlist, nProbe)
      .select(col("qid"), col("id"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dist"), col("id"))
    corpus.select(idCol.as("id"), asDouble(vecCol).as("emb"))
      .join(broadcast(short), "id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"),
        round(graft.expressions.VectorOps.squaredDistance(col("emb"), col("qemb"))
          + lit(1e-9), 4).as("dist"))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select(col("qid"), col("id"), col("dist"), col("rk"))
  }
}
