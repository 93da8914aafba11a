package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Term → postings inverted index: the serving structure behind keyword
  * retrieval over a document corpus (filtering a training corpus by
  * topic terms, contamination term lookups, "every doc mentioning X"
  * audits). The relational formulation of what Lucene does — built and
  * served entirely as Spark plans over parquet.
  *
  * Build: one tokenize pass → DISTINCT (term, doc_id) postings →
  * written `partitionBy(bucket)` where `bucket = pmod(hash(term), n)`.
  * Hash-bucketing (not `partitionBy(term)`) bounds the directory count:
  * a real vocabulary is millions of terms — one directory per term
  * would melt the file listing; term-hash buckets keep ~|vocab|/n terms
  * per directory at any vocabulary size.
  *
  * Serve: a q-term AND query reads ONLY the query terms' buckets —
  * the bucket predicate is a literal IN over the partition column, so
  * pruning happens at file-LISTING time (PartitionFilters, the
  * v07/v16 serving discipline); within them, `term IN (...)` pushes to
  * the parquet scan. Intersection is a count-per-doc aggregate — the
  * postings are distinct by construction, so `count(*) = q` IS the
  * AND, no `countDistinct` state. Nothing but matched doc ids ever
  * leaves the probed buckets.
  *
  * The bucket count is stamped into `_meta.json` at build time and
  * re-read at serve time — a caller guessing a different modulus would
  * silently probe the wrong directories (the v21 fingerprint
  * discipline: layout parameters travel WITH the layout).
  */
object InvertedIndex {

  /** Index layout parameters + the corpus statistics BM25 needs.
    * `totalLen` (not avgdl) is stored because it is ADDITIVE — an
    * append combines stats exactly instead of re-averaging. */
  final case class Meta(nBuckets: Int, nDocs: Long, totalLen: Long) {
    def avgdl: Double = if (nDocs == 0) 0.0 else totalLen.toDouble / nDocs
  }

  /** One row per (doc, distinct term): tf (in-doc occurrences) and
    * dlen (the doc's total token count, denormalized onto every
    * posting — Lucene's norms-in-the-list layout — so scoring never
    * joins a corpus-sized doc-length table). */
  private def postingsOf(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    // fail FAST on non-integral ids: the tombstone machinery
    // (delete(Seq[Long]), append's clash probe) reads doc ids as
    // Long — an index built over e.g. string ids would work until the
    // first delete/append, then throw a cast error or silently
    // mis-join the tombstone set. Integral widths narrower than long
    // are widened here so every stored index carries BIGINT doc ids.
    val idType = docs.select(idCol).schema.head.dataType
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    require(integral.contains(idType),
      s"invertedIndex: doc id column must be integral (stored as BIGINT; " +
        s"delete/append tombstone handling joins on Long ids), got $idType")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    docs.select(idCol.cast("bigint").as("doc_id"),
        explode(graft.functions.TextFunctions.tokens(textCol)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("int").as("tf"))
      .withColumn("dlen", sum(col("tf")).over(w).cast("int"))
  }

  /** Tokenize `textCol` ([[graft.functions.TextFunctions.tokens]]),
    * aggregate to (term, doc_id, tf, dlen) postings, bucket, and write
    * under `dir` with the corpus stats in `_meta.json`. */
  def build(docs: DataFrame, idCol: Column, textCol: Column,
      nBuckets: Int, dir: String): Unit = {
    require(nBuckets > 0, s"invertedIndex: nBuckets must be positive: $nBuckets")
    val posts = postingsOf(docs, idCol, textCol)
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
    posts.write.mode("overwrite").partitionBy("bucket").parquet(dir)
    // stats from a column-pruned re-read of the WRITTEN index (tf +
    // doc_id only) — deliberately not localCheckpoint(posts): a full
    // corpus build's postings are corpus-scale and caching them to
    // score two scalars costs more than this narrow columnar scan
    // (append caches because its increment is increment-sized)
    val stats = spark(docs).read.parquet(dir)
      .agg(sum(col("tf")).as("total"), countDistinct(col("doc_id")).as("n")).head()
    writeMeta(dir, Meta(nBuckets,
      if (stats.isNullAt(1)) 0L else stats.getLong(1),
      if (stats.isNullAt(0)) 0L else stats.getLong(0)))
  }

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  private def writeMeta(dir: String, m: Meta): Unit =
    EpochState.publish(java.nio.file.Paths.get(dir, "_meta.json"),
      s"""{"nBuckets":${m.nBuckets},"nDocs":${m.nDocs},"totalLen":${m.totalLen}}""".getBytes("UTF-8"))

  private[graft] def readMeta(dir: String): Meta = {
    val meta = java.nio.file.Paths.get(dir, "_meta.json")
    require(java.nio.file.Files.exists(meta),
      s"invertedIndex: $dir has no _meta.json — not a built index")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(meta))
    Meta(node.get("nBuckets").asInt(),
      if (node.has("nDocs")) node.get("nDocs").asLong() else 0L,
      if (node.has("totalLen")) node.get("totalLen").asLong() else 0L)
  }

  private def readNBuckets(dir: String): Int = readMeta(dir).nBuckets

  /** Append new documents' postings under the STORED bucket modulus —
    * incremental index growth (the v21 discipline: an increment encoded
    * under a guessed modulus would land terms in the wrong directories
    * and silently vanish from lookups; reading `_meta.json` makes that
    * impossible). Caller contract: `docs` are NEW doc ids — re-adding
    * a live id duplicates its postings. Re-adding a TOMBSTONED id is
    * REFUSED loudly: the tombstone would keep the new postings
    * invisible and the next [[compact]] would silently drop them —
    * compact the tombstones away first (takedown reversal,
    * spec-asserted), then append. */
  def append(docs: DataFrame, idCol: Column, textCol: Column, dir: String): Unit = {
    val m = readMeta(dir)
    val sess = spark(docs)
    tombstones(sess, dir).foreach { t =>
      val clash = docs.select(idCol.as("doc_id")).distinct()
        .join(broadcast(t), "doc_id").limit(5)
        .collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"invertedIndex: appending tombstoned doc ids ${clash.mkString(",")} — " +
          "their postings would stay invisible and compact() would drop them; " +
          "compact the index first")
    }
    val posts = postingsOf(docs, idCol, textCol)
      .withColumn("bucket", pmod(hash(col("term")), lit(m.nBuckets)))
      .localCheckpoint(true) // stats + write must see the SAME increment
    posts.write.mode("append").partitionBy("bucket").parquet(dir)
    // corpus stats combine EXACTLY because totalLen/nDocs are additive
    // over disjoint doc sets — BM25 over the grown index is
    // bit-identical to a full rebuild (spec-asserted)
    val inc = posts.agg(sum(col("tf")).as("total"),
      countDistinct(col("doc_id")).as("n")).head()
    writeMeta(dir, Meta(m.nBuckets,
      m.nDocs + (if (inc.isNullAt(1)) 0L else inc.getLong(1)),
      m.totalLen + (if (inc.isNullAt(0)) 0L else inc.getLong(0))))
  }

  /** Tombstone whole documents (takedowns, dedup removals). Doc-level —
    * one tombstone row per id under `dir/_deletes/`, NOT a per-term
    * rewrite: a delete costs O(1) rows no matter how many terms the
    * document had. Idempotent (re-deleting dedups at read). */
  def delete(spark: SparkSession, dir: String, docIds: Seq[Long]): Unit = {
    require(docIds.nonEmpty, "invertedIndex: empty delete set")
    import spark.implicits._
    docIds.toDF("doc_id").write.mode("append")
      .parquet(java.nio.file.Paths.get(dir, "_deletes").toString)
  }

  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(dir, "_deletes")
    if (java.nio.file.Files.exists(p)) Some(spark.read.parquet(p.toString).distinct())
    else None
  }

  /** Rewrite the postings without tombstoned docs and clear the
    * tombstones — bounds the serve-time anti-join as deletes pile up.
    * The rewrite lands in a fresh directory (readers of the old one
    * are never torn); the returned path is the new index root. */
  def compact(spark: SparkSession, dir: String, outDir: String): String = {
    val n = readNBuckets(dir)
    val live = tombstones(spark, dir) match {
      case Some(t) => spark.read.parquet(dir).join(t, Seq("doc_id"), "left_anti")
      case None => spark.read.parquet(dir)
    }
    live.select(col("doc_id"), col("term"), col("tf"), col("dlen"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    // stats recomputed over the survivors — compaction is also where
    // BM25's nDocs/avgdl shed the tombstoned docs (until then they are
    // documented as stale-inclusive, like every tombstone design)
    val stats = spark.read.parquet(outDir)
      .agg(sum(col("tf")).as("total"), countDistinct(col("doc_id")).as("n")).head()
    writeMeta(outDir, Meta(n,
      if (stats.isNullAt(1)) 0L else stats.getLong(1),
      if (stats.isNullAt(0)) 0L else stats.getLong(0)))
    outDir
  }

  /** BM25-ranked top-k retrieval (Lucene's formulation:
    * idf = ln(1 + (N−df+0.5)/(df+0.5)), tf-saturation k1, length
    * normalization b) — OR semantics: a doc matching ANY query term
    * scores on the terms it matches. Everything rides the pruned
    * postings scan: df per term is a tiny aggregate over exactly the
    * probed buckets (a term's postings live in ONE bucket), dlen is
    * denormalized on the posting row so no doc-length join exists,
    * N/avgdl come from `_meta.json` as plan constants, and the top-k
    * is TakeOrdered on the 4-dp-rounded score (rounded BEFORE ranking
    * so the order — and therefore the k-boundary — is reproducible
    * across engines; ties break on doc_id). Tombstoned docs are
    * excluded from results but remain in N/avgdl until [[compact]]
    * (the standard stale-stats trade of tombstone designs). */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "invertedIndex: at least one query term")
    require(k > 0, s"invertedIndex: k must be positive: $k")
    val distinctTerms = terms.distinct
    val m = readMeta(dir)
    require(m.nDocs > 0, s"invertedIndex: $dir has no documents")
    import spark.implicits._
    val buckets = distinctTerms.toDF("term")
      .select(pmod(hash(col("term")), lit(m.nBuckets)).as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val hits = spark.read.parquet(dir)
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(distinctTerms: _*))
    val df = hits.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) +
      (lit(m.nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val contrib = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dlen") / lit(m.avgdl)))
    val scored = hits.join(broadcast(df), "term")
      .groupBy(col("doc_id"))
      .agg(round(sum(contrib) + 1e-9, 4).as("score"))
    val live = tombstones(spark, dir) match {
      case Some(t) => scored.join(broadcast(t), Seq("doc_id"), "left_anti")
      case None => scored
    }
    live.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Doc ids containing ALL of `terms` (conjunctive keyword query).
    * Terms are normalized-token literals; unknown terms simply match
    * nothing (an AND including one returns empty). */
  def lookupAll(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "invertedIndex: at least one query term")
    val distinctTerms = terms.distinct
    val n = readNBuckets(dir)
    // bucket literals come from Spark's own hash on a local relation —
    // the ONE way to guarantee the serve-side modulus bit-matches the
    // build-side kernel (a JVM-side reimplementation could drift)
    import spark.implicits._
    val buckets = distinctTerms.toDF("term")
      .select(pmod(hash(col("term")), lit(n)).as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val matched = spark.read.parquet(dir)
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(distinctTerms: _*))
      .groupBy(col("doc_id"))
      // postings are distinct (term, doc_id) ⇒ plain count is the
      // distinct-term count — no countDistinct state per doc
      .agg(count(lit(1)).as("__nt"))
      .filter(col("__nt") === distinctTerms.size)
      .select(col("doc_id"))
    // tombstones apply AFTER the intersection — the anti join runs on
    // the result-sized hit set, not the postings (v22's live-view
    // ordering argument); the `_deletes` dir is `_`-prefixed, so the
    // postings scan never reads it
    tombstones(spark, dir) match {
      case Some(t) => matched.join(broadcast(t), Seq("doc_id"), "left_anti")
      case None => matched
    }
  }
}
