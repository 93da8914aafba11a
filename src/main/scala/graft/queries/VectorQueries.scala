package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.Similarity

/** Vector / similarity-search surface over `embeddings`
  * (64-d float vectors): norms, exact brute-force kNN, LSH-bucketed
  * approximate kNN, embedding near-dup pairs.
  */
object VectorQueries {
  import QueryDef._

  /** Driver-side fetch of one query vector (vec_id = 0), as double. */
  private def queryVector(s: org.apache.spark.sql.SparkSession, d: String): Array[Double] =
    Tables.embeddings(s, d)
      .filter(col("vec_id") === 0)
      .select(asDouble(col("embedding")))
      .head().getSeq[Double](0).toArray

  /** The embeddings table is 64-wide at every SF (FIXTURES.md §2). */
  private[graft] val EmbDim = 64

  /** Corpus-derived ANN serving parameters per data dir — the
    * [[graft.operators.AnnParams]] curves evaluated once on a cheap
    * count (round-13 verdict item #1: no hardcoded nBits/PQ-m/nProbe).
    * Shared between every query build and its dump-time oracle — the
    * pqCache pattern, so the two sides cannot disagree. */
  private[graft] final case class AnnConfig(n: Long, nBits: Int, pqM: Int, pqCodes: Int) {
    /** Shortlist depth for rerank-style rungs (binary, v18). */
    def budget(k: Int): Long = graft.operators.AnnParams.candidateBudget(n, k)
  }

  private val annCache =
    new PerDir[AnnConfig]

  private[graft] def annConfig(s: org.apache.spark.sql.SparkSession, d: String): AnnConfig =
    annCache(d) {
      val n = kmBlocking(s, d).n
      AnnConfig(n, graft.operators.AnnParams.nBits(n),
        graft.operators.AnnParams.pqM(EmbDim), graft.operators.AnnParams.pqCodes(n))
    }

  /** Dump-time config for the oracles — unambiguous only when exactly
    * one dir ran in this JVM (the Verify flow; pqCache precedent). */
  private[graft] def soleAnnConfig: Option[AnnConfig] = annCache.sole

  /** Corpus-derived IVF probe width for the v11/v16/v17/v18/v21/v22
    * family: enough of the trained coarse lists to cover the candidate
    * budget ([[graft.operators.AnnParams.nProbe]]). */
  private def ivfNProbe(s: org.apache.spark.sql.SparkSession, d: String, k: Int = 10): Int =
    graft.operators.AnnParams.nProbe(
      graft.GngQueries.trained(s, d).centroids.length, annConfig(s, d).n, k)

  /** The oracle twin of [[ivfNProbe]], from the dump-time sole model +
    * config. */
  private def soleIvfNProbe(k: Int = 10): Option[Int] =
    for { cs <- graft.GngQueries.soleTrainedCentroids; cfg <- soleAnnConfig }
      yield graft.operators.AnnParams.nProbe(cs.length, cfg.n, k)

  /** Prebuilt LSH bucket index per data dir — the SERVING shape:
    * [[Similarity.lshBuckets]] output written ONCE as parquet
    * `partitionBy("bucket")`, then read back so every
    * [[Similarity.lshKnnOnIndex]] query prunes its scan to the probed
    * buckets' partitions (PartitionFilters, asserted in
    * PlanQualitySpec) instead of re-deriving signatures corpus-wide.
    * Built lazily per JVM; the scratch dir is removed on exit. */
  private val indexCache = new PerDir[String]

  private[graft] def servedIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = indexCache(d) {
      val dir = PerDir.scratch("lsh-index")
      Similarity.lshBuckets(Tables.embeddings(s, d), col("embedding"), col("vec_id"),
          nBits = annConfig(s, d).nBits, dim = EmbDim)
        .write.mode("overwrite").partitionBy("bucket").parquet(dir.toString)
      dir.toString
    }
    s.read.parquet(path)
  }

  /** Prebuilt IVFADC index per data dir — [[graft.operators.Pq.ivfPqIndex]]
    * `(id, codes, list)` written ONCE `partitionBy("list")`, so a
    * served query's probe set prunes at file-listing time and the
    * ranking scan streams stored codes (raw vectors never written).
    * Depends on BOTH trained models (GNG coarse centroids + PQ
    * codebook), so it is keyed on the dir like them. */
  private val ivfPqIndexCache = new PerDir[String]

  /** v21's two-phase index: built from the even vec_ids, grown by the
    * odd half through the fingerprint-validated
    * [[graft.operators.Pq.ivfPqIncrement]] append path — same layout,
    * same serving plan, provably the same answers as [[servedIvfPqIndex]]. */
  private val ivfPqIncIndexCache = new PerDir[String]

  private[graft] def servedIvfPqIncrementalIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = ivfPqIncIndexCache(d) {
      val dir = PerDir.scratch("ivfpq-inc-index")
      val emb = Tables.embeddings(s, d)
      val cs = graft.GngQueries.trained(s, d).centroids
      val cb = pqCodebook(s, d)
      graft.operators.Pq.ivfPqIndex(emb.filter(col("vec_id") % 2 === 0),
          col("embedding"), col("vec_id"), cs, cb)
        .write.mode("overwrite").partitionBy("list").parquet(dir.toString)
      graft.operators.Pq.ivfPqIncrement(s.read.parquet(dir.toString),
          emb.filter(col("vec_id") % 2 === 1), col("embedding"), col("vec_id"), cs, cb)
        .write.mode("append").partitionBy("list").parquet(dir.toString)
      dir.toString
    }
    s.read.parquet(path)
  }

  /** v22's lifecycle index: the full [[servedIvfPqIndex]] layout taken
    * through BOTH delete mechanisms — vec_id % 10 == 3 tombstoned then
    * COMPACTED away (dynamic partition overwrite rewrites only the
    * affected lists), vec_id % 10 == 7 tombstoned and LEFT in place so
    * serving exercises the live-view set-minus. Serving it must be
    * indistinguishable from an index rebuilt without either delete
    * wave (the parameterized v11 oracle). */
  private val ivfPqDelIndexCache = new PerDir[String]

  private[graft] def servedIvfPqDeletedIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = ivfPqDelIndexCache(d) {
      val dir = PerDir.scratch("ivfpq-del-index")
      val emb = Tables.embeddings(s, d)
      val cs = graft.GngQueries.trained(s, d).centroids
      val cb = pqCodebook(s, d)
      graft.operators.Pq.ivfPqIndex(emb, col("embedding"), col("vec_id"), cs, cb)
        .write.mode("overwrite").partitionBy("list").parquet(dir.toString)
      // wave 1: tombstone + compact. The compacted rows localCheckpoint
      // before the dynamic-overwrite write because plain parquet cannot
      // overwrite a path it is also reading (a transactional table
      // format versions this instead; the lineage cut is the plain-dir
      // equivalent).
      graft.operators.Pq.ivfPqTombstones(s.read.parquet(dir.toString),
          emb.filter(col("vec_id") % 10 === 3), col("vec_id"))
        .write.mode("append").partitionBy("list").parquet(dir.toString)
      graft.operators.Pq.ivfPqCompact(s.read.parquet(dir.toString))
        .localCheckpoint(true)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("list").parquet(dir.toString)
      // wave 2: tombstones only — serving resolves them
      graft.operators.Pq.ivfPqTombstones(s.read.parquet(dir.toString),
          emb.filter(col("vec_id") % 10 === 7), col("vec_id"))
        .write.mode("append").partitionBy("list").parquet(dir.toString)
      dir.toString
    }
    s.read.parquet(path)
  }

  /** v23's bucket index with deletes: [[servedIndex]]'s layout plus
    * tombstones for vec_id % 10 == 3, left in place — serving through
    * [[Similarity.lshLive]] must equal the multiprobe oracle over the
    * corpus minus the deleted ids (histogram, radius, and ranking all
    * shrink together). */
  private val lshDelIndexCache = new PerDir[String]

  private[graft] def servedDeletedIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = lshDelIndexCache(d) {
      val dir = PerDir.scratch("lsh-del-index")
      val emb = Tables.embeddings(s, d)
      Similarity.lshBuckets(emb, col("embedding"), col("vec_id"),
          nBits = annConfig(s, d).nBits, dim = EmbDim)
        .write.mode("overwrite").partitionBy("bucket").parquet(dir.toString)
      Similarity.lshTombstones(s.read.parquet(dir.toString),
          emb.filter(col("vec_id") % 10 === 3), col("vec_id"))
        .write.mode("append").partitionBy("bucket").parquet(dir.toString)
      dir.toString
    }
    s.read.parquet(path)
  }

  private[graft] def servedIvfPqIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = ivfPqIndexCache(d) {
      val dir = PerDir.scratch("ivfpq-index")
      graft.operators.Pq.ivfPqIndex(Tables.embeddings(s, d), col("embedding"),
          col("vec_id"), graft.GngQueries.trained(s, d).centroids, pqCodebook(s, d))
        .write.mode("overwrite").partitionBy("list").parquet(dir.toString)
      dir.toString
    }
    s.read.parquet(path)
  }

  /** DuckDB twin of the LSH signature: the hyperplanes for a fixed
    * (nBits, dim, seed) are deterministic constants
    * ([[Similarity.hyperplanes]] — java.util.Random's spec-fixed LCG),
    * so they inline into the oracle SQL verbatim. The dot product is an
    * explicit left-associated sum — the same sequential accumulation
    * order as the codegen'd kernel — so both engines compute
    * bit-identical doubles and bucket bits can't flake. Double.toString
    * round-trips exactly and DuckDB parses it back to the same bits. */
  private def dotSql(vec: String, plane: Array[Double]): String =
    plane.zipWithIndex
      .map { case (p, i) => s"$vec[${i + 1}] * ($p)" }
      .mkString(" + ")

  private def sigSql(vec: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(vec, p)} >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** Shared oracle for v03 (online), v07 (served index), and v14
    * (filtered) — LSH multiprobe kNN with the seeded hyperplanes
    * inlined as constants (width = the corpus-derived `cfg.nBits`) and
    * the SAME minimal hamming radius derived from the bucket histogram
    * (cumulative count by hamming distance reaching the corpus-derived
    * candidate budget — [[graft.operators.AnnParams.budgetSql]], the
    * IEEE twin of the Scala derivation). `corpusPred` restricts the
    * CORPUS (histogram AND ranking — the pre-filter must come before
    * the radius choice or the exact-k guarantee is lost; the budget's
    * count(*) sees the same filtered corpus the Scala histogram
    * totals); the query vector always comes from the unfiltered
    * table. DUMP-TIME ONLY: needs [[soleAnnConfig]]. */
  private def multiprobeKnnSql(cfg: AnnConfig, corpusPred: String,
      k: Int = 10): String = {
    val planes = Similarity.hyperplanes(cfg.nBits, EmbDim)
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, label, v, ${sigSql("v", planes)} AS bucket FROM e),
       |q AS (SELECT bucket AS qb, v AS qv FROM s WHERE vec_id = 0),
       |ds AS (SELECT vec_id, v, bit_count(xor(bucket, (SELECT qb FROM q))) AS hd
       |       FROM s WHERE $corpusPred),
       |cum AS (SELECT hd, sum(count(*)) OVER (ORDER BY hd) AS c FROM ds GROUP BY hd),
       |r AS (SELECT coalesce(min(hd), ${cfg.nBits}) AS rsel FROM cum
       |      WHERE c >= (SELECT ${graft.operators.AnnParams.budgetSql(k)} FROM ds))
       |SELECT vec_id AS id,
       |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS score
       |FROM ds WHERE hd <= (SELECT rsel FROM r)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  private def unfilteredKnnSql: Option[String] =
    soleAnnConfig.map(multiprobeKnnSql(_, "TRUE"))

  /** v02's exact top-10 — also the ladder eval's truth leg (v36). */
  private val bruteKnnSql: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id AS id,
      |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)), 4) AS score
      |FROM embeddings
      |ORDER BY score DESC, id
      |LIMIT 10""".stripMargin

  /** v25's full quantization replay — also a v36 ladder leg. */
  private val sq8KnnSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |x AS (SELECT vec_id, i, v[i] AS val
      |      FROM e, unnest(generate_series(1, len(v))) AS s(i)),
      |dims AS (SELECT i, min(val) mn, max(val) mx FROM x GROUP BY i),
      |q AS (SELECT i, val AS qv FROM x WHERE vec_id = 0),
      |dq AS (
      |  SELECT x.vec_id, x.i,
      |    CASE WHEN d.mx = d.mn THEN d.mn
      |         ELSE d.mn + least(greatest(floor((x.val - d.mn) / ((d.mx - d.mn) / 255.0) + 0.5), 0), 255)
      |                     * ((d.mx - d.mn) / 255.0)
      |    END AS deq
      |  FROM x JOIN dims d USING (i)),
      |dist AS (
      |  SELECT dq.vec_id, round(sum((q.qv - dq.deq) * (q.qv - dq.deq)) + 1e-9, 4) AS qdist
      |  FROM dq JOIN q ON dq.i = q.i
      |  GROUP BY dq.vec_id)
      |SELECT vec_id AS id, qdist FROM dist ORDER BY qdist, id LIMIT 10""".stripMargin

  /** v36's dump-time oracle: every ladder leg's EXISTING oracle SQL
    * nested verbatim (the v20/v27 whole-oracle-as-leg precedent), hits
    * counted against the exact top-10 — so the ladder report can only
    * pass if each rung's published oracle agrees with its published
    * query AND the recall arithmetic matches. */
  private def annLadderOracle: Option[String] =
    for { cfg <- soleAnnConfig; pq <- pqOracle; ivf <- ivfPqOracle;
          rr <- rerankOracle } yield {
      def leg(name: String, sqlStr: String) =
        s"SELECT '$name' AS method, id FROM ($sqlStr) ${name}_leg"
      val legs = Seq(
        leg("binary", graft.operators.BinaryQuant.oracleSql("vec_id = 0",
          shortlist = cfg.budget(10).toInt, k = 10)),
        leg("ivfpq", ivf),
        // the REFINED serving rung (v18's ADC-shortlist → exact-rerank
        // for query 0) — the config the ladder exists to recommend;
        // the raw ADC rungs above it publish the memory-bound ceiling
        leg("ivfpq_rf", s"SELECT id FROM ($rr) rr_all WHERE qid = 0"),
        leg("lsh", multiprobeKnnSql(cfg, "TRUE")),
        leg("pq", pq),
        leg("sq8", sq8KnnSql)).mkString("\nUNION ALL\n")
      s"""WITH lad_exact AS (SELECT id FROM ($bruteKnnSql) ex_leg),
         |lad_all AS (
         |$legs)
         |SELECT a.method, CAST(count(e.id) AS BIGINT) AS n_hit,
         |  round(count(e.id) / 10.0 + 1e-9, 4) AS recall
         |FROM lad_all a LEFT JOIN lad_exact e ON e.id = a.id
         |GROUP BY a.method
         |ORDER BY a.method""".stripMargin
    }

  /** Trained PQ codebook per data dir (deterministic: bounded
    * lowest-id sample, fixed Lloyd iterations — [[graft.operators.Pq.train]]),
    * shared between the v10 query run and its dump-time oracle. */
  private val pqCache =
    new PerDir[Array[Array[Array[Double]]]]

  private def pqCodebook(s: org.apache.spark.sql.SparkSession, d: String) =
    pqCache(d) {
      val cfg = annConfig(s, d)
      graft.operators.Pq.train(Tables.embeddings(s, d), col("embedding"),
        col("vec_id"), m = cfg.pqM, k = cfg.pqCodes)
    }

  /** Dump-time codebook for the oracle — unambiguous only when exactly
    * one dir trained in this JVM (the Verify flow; GngQueries
    * precedent). */
  private def solePqCodebook: Option[Array[Array[Array[Double]]]] = pqCache.sole

  /** v19/v32/v34's k-means seeds per data dir (deterministic: the k
    * lowest-id vectors, k CORPUS-DERIVED via [[graft.operators.KMeans
    * .deriveK]] from a cheap count — never a hardcoded constant),
    * shared between the query run and its dump-time oracle — the
    * pqCache pattern. The count rides along for [[graft.operators
    * .SemDedup.prefixBits]]. */
  private final case class KmBlocking(n: Long, seeds: Array[Array[Double]])

  private val kmSeedCache =
    new PerDir[KmBlocking]

  private def kmBlocking(s: org.apache.spark.sql.SparkSession, d: String): KmBlocking =
    kmSeedCache(d) {
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      KmBlocking(n, graft.operators.KMeans.seeds(emb, col("embedding"),
        col("vec_id"), graft.operators.KMeans.deriveK(n)))
    }

  private def kmSeeds(s: org.apache.spark.sql.SparkSession, d: String): Array[Array[Double]] =
    kmBlocking(s, d).seeds

  private def soleKmSeeds: Option[Array[Array[Double]]] = kmSeedCache.sole.map(_.seeds)

  /** v32/s31's shared verdict assembly: per component keep the member
    * FARTHEST from its cluster centroid (lowest 4-dp cent_sim, id
    * tie-break); singletons (absent from `comps` or self-repped) keep
    * themselves. `ranked` carries (vec_id, cluster, cent_sim); `comps`
    * (id, rep). */
  private def semDedupAssemble(ranked: org.apache.spark.sql.DataFrame,
      comps: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("rep")).orderBy(col("cent_sim"), col("id"))
    val verdicts = comps
      .join(ranked.select(col("vec_id").as("id"), col("cent_sim")), Seq("id"))
      .withColumn("rk", row_number().over(w))
      .select(col("id").as("vec_id"), col("rep").as("group_rep"),
        (col("rk") === 1).as("keep"))
    ranked.select(col("vec_id"), col("cluster"))
      .join(verdicts, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        coalesce(col("group_rep"), col("vec_id")).as("group_rep"),
        coalesce(col("keep"), lit(true)).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** v32's full build — clustering, within-block pairs, closure,
    * keep-rule — shared by the query, the prebuilt writer (v35), and
    * nothing else: the streaming twin (s31) re-derives the same answer
    * through the incremental fold. */
  private def semDedupVerdicts(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val blocking = kmBlocking(s, d)
    val seeds = blocking.seeds
    val assigned = Tables.embeddings(s, d).select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      graft.expressions.VectorOps.nearestCentroid(
        col("embedding").cast("array<double>"), seeds).as("cluster"))
    val centDf = seeds.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cluster", "cent")
    val ranked = assigned.join(broadcast(centDf), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("v"),
        round(graft.expressions.VectorOps.cosineSimilarity(col("v"), col("cent")), 4)
          .as("cent_sim"))
    // candidate pairs within (cluster [, sign-prefix]) blocks — the
    // prefix bits are 0 until k alone can't bound the cluster size
    // (SemDedup.prefixBits), so at oracle scales this IS the paper's
    // exact within-cluster pairwise
    val pairs = graft.operators.SemDedup.withinBlockPairs(
      ranked, col("vec_id"), col("v"), col("cluster"),
      bits = graft.operators.SemDedup.prefixBits(blocking.n, seeds.length),
      dim = seeds(0).length, eps = 0.35)
    val comps = graft.operators.Dedup.connectedComponents(pairs)
    semDedupAssemble(ranked, comps)
  }

  /** v35's materialized verdict table, written once per data dir. */
  private val semVerdictCache =
    new PerDir[String]

  private def prebuiltSemVerdicts(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = semVerdictCache(d) {
      val dir = PerDir.scratch("sem-verdicts")
      val p = dir.resolve("t").toString
      semDedupVerdicts(s, d).write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** s31's arrival fixture: the embeddings table (id + double vector)
    * in three ordered micro-batches sliced by vec_id % 3 — an ε-pair's
    * members can arrive two batches apart, which is exactly what the
    * incremental pair discovery + component fold must absorb. */
  private val embSliceCache =
    new PerDir[String]

  private def embeddingSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    embSliceCache(d) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      StreamingQueries.orderedArrivalDir(s, "emb-slices",
        StreamingQueries.thirds(e, col("vec_id")))
    }

  /** v32's dump-time oracle: k-means assignment from the inlined seeds
    * (the kmeansOracle CTEs), exhaustive within-cluster cosine pairs at
    * the same rounded threshold, recursive closure, and the paper's
    * keep-rule (lowest centroid-cosine, id tie-break) — singletons keep
    * themselves. */
  private def semDedupOracle: Option[String] =
    soleKmSeeds.map { sd =>
      val vecDists = sd.zipWithIndex
        .map { case (c, i) => s"SELECT vec_id, $i AS cluster, ${graft.GngQueries.distSql("v", c)} AS dsq FROM e" }
        .mkString("\nUNION ALL ")
      val centVals = sd.zipWithIndex
        .map { case (c, i) => s"($i, [${c.mkString(", ")}]::DOUBLE[])" }
        .mkString(", ")
      s"""WITH RECURSIVE
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS ($vecDists),
         |win AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cluster) AS rk FROM d)
         |  WHERE rk = 1),
         |cent AS (SELECT * FROM (VALUES $centVals) AS t(cluster, cent)),
         |rk AS (SELECT e.vec_id, w.cluster,
         |         round(list_cosine_similarity(e.v, c.cent), 4) AS cent_sim
         |       FROM e JOIN win w ON w.vec_id = e.vec_id
         |       JOIN cent c ON c.cluster = w.cluster),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM (SELECT e.vec_id, e.v, w.cluster FROM e JOIN win w ON w.vec_id = e.vec_id) a
         |      JOIN (SELECT e.vec_id, e.v, w.cluster FROM e JOIN win w ON w.vec_id = e.vec_id) b
         |        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |      WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.35),
         |ed(src, dst) AS (SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT DISTINCT src, src FROM ed
         |  UNION
         |  SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src),
         |cc AS (SELECT a AS vec_id, CAST(min(b) AS BIGINT) AS rep FROM reach GROUP BY a),
         |vd AS (SELECT cc.vec_id, cc.rep,
         |         row_number() OVER (PARTITION BY cc.rep ORDER BY rk.cent_sim, cc.vec_id) AS rn
         |       FROM cc JOIN rk ON rk.vec_id = cc.vec_id)
         |SELECT rk.vec_id, CAST(rk.cluster AS INT) AS cluster,
         |  CAST(coalesce(vd.rep, rk.vec_id) AS BIGINT) AS group_rep,
         |  coalesce(vd.rn = 1, TRUE) AS keep
         |FROM rk LEFT JOIN vd ON vd.vec_id = rk.vec_id
         |ORDER BY rk.vec_id""".stripMargin
    }

  /** v34's dump-time oracle: k-means assignment from the inlined seeds
    * (v32's win CTE shape), the 4-dp L2-norm weight (v01's twin,
    * floored at 1e-4), the A-ES key (t76's md5-uniform arithmetic),
    * and the per-cluster top-5 rank. */
  private def clusterSampleOracle: Option[String] =
    soleKmSeeds.map { sd =>
      val vecDists = sd.zipWithIndex
        .map { case (c, i) => s"SELECT vec_id, $i AS cluster, ${graft.GngQueries.distSql("v", c)} AS dsq FROM e" }
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS ($vecDists),
         |win AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cluster) AS rk FROM d)
         |  WHERE rk = 1),
         |wn AS (SELECT vec_id, greatest(round(sqrt(sum(x * x)), 4), 0.0001) AS w
         |       FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
         |       GROUP BY vec_id),
         |ky AS (SELECT wn.vec_id, win.cluster, wn.w,
         |         round(ln((CAST(('0x' || substr(md5(CAST(wn.vec_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
         |           / 4503599627370497.0) / wn.w + 1e-15, 12) AS k
         |       FROM wn JOIN win ON win.vec_id = wn.vec_id)
         |SELECT CAST(cluster AS INT) AS cluster, vec_id, w FROM (
         |  SELECT vec_id, cluster, w, k,
         |    row_number() OVER (PARTITION BY cluster ORDER BY k DESC, vec_id) AS rn
         |  FROM ky) WHERE rn <= 5
         |ORDER BY cluster, vec_id""".stripMargin
    }

  /** One Lloyd round from the inlined seeds: assignment via the SAME
    * left-assoc distance chains + lowest-index ties as the kernel
    * (GngQueries.distSql), means per (cluster, pos), v09's 4-decimal
    * render. Non-empty clusters only, like the query. */
  private def kmeansOracle: Option[String] =
    soleKmSeeds.map { sd =>
      val vecDists = sd.zipWithIndex
        .map { case (c, i) => s"SELECT vec_id, $i AS cluster, ${graft.GngQueries.distSql("v", c)} AS dsq FROM e" }
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS ($vecDists),
         |win AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cluster) AS rk FROM d)
         |  WHERE rk = 1),
         |a AS (SELECT w.cluster, e.v FROM e JOIN win w ON w.vec_id = e.vec_id),
         |x AS (SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a),
         |m AS (SELECT cluster, pos, avg(x) AS m, CAST(count(*) AS BIGINT) AS n
         |      FROM x GROUP BY cluster, pos)
         |SELECT cluster, max(n) AS n,
         |  array_to_string(list_transform(list(m ORDER BY pos),
         |    v -> CAST(CAST(CAST(floor(v * 10000 + 0.5) AS BIGINT) / 10000.0
         |              AS DECIMAL(18,4)) AS VARCHAR)), ', ') AS centroid
         |FROM m GROUP BY cluster ORDER BY cluster""".stripMargin
    }

  /** A `def`, not a `val`: the v06 oracle embeds the TRAINED centroids,
    * which only exist after the gng queries run (dump-time inlining —
    * see [[graft.GngQueries.soleTrainedCentroids]]). */
  def all: Seq[QueryDef] = Seq(
    sql(
      "v01_vec_norm",
      """SELECT vec_id, round(sqrt(sum(x * x)), 4) AS l2norm
        |FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), round(norm2(asDouble(col("embedding"))), 4).as("l2norm"))
        .orderBy(col("vec_id"))
    },

    sql("v02_knn_bruteforce", bruteKnnSql) { (s, d) =>
      Similarity.bruteForceKnn(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        queryVector(s, d), 10)
    },

    // LSH-bucketed kNN with multiprobe: exact cosine ranking within the
    // smallest hamming radius of the query's bucket reaching the
    // corpus-derived candidate budget (AnnParams — signature width and
    // budget are both curves of n, never constants). Fully oracled —
    // the seeded hyperplanes inline as constants (see sigSql) and the
    // oracle derives the SAME minimal radius from the bucket histogram
    // (cumulative count by hamming distance), so the probe set matches
    // deterministically.
    QueryDef("v03_knn_lsh", (s, d) =>
      Similarity.lshKnn(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        queryVector(s, d), 10, nBits = annConfig(s, d).nBits),
      unfilteredKnnSql),

    // The same multiprobe kNN served from the PREBUILT partitioned
    // bucket index (written once per JVM, partitionBy("bucket")): the
    // signature kernel never runs at query time and the ranking scan
    // prunes to the probed buckets' partitions (PartitionFilters gate
    // in PlanQualitySpec). Same oracle as v03 — the served answer must
    // be indistinguishable from the online one.
    QueryDef("v07_knn_served", (s, d) =>
      Similarity.lshKnnOnIndex(servedIndex(s, d), queryVector(s, d), 10,
        nBits = annConfig(s, d).nBits),
      unfilteredKnnSql),

    // LSH bucket histogram: shows the signature computation + distribution.
    QueryDef("v04_lsh_buckets", (s, d) =>
      Similarity.lshBuckets(Tables.embeddings(s, d), col("embedding"), col("vec_id"),
          nBits = annConfig(s, d).nBits, dim = EmbDim)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")),
      soleAnnConfig.map { cfg =>
        val planes = Similarity.hyperplanes(cfg.nBits, EmbDim)
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
           |SELECT ${sigSql("v", planes)} AS bucket, count(*) AS n
           |FROM e GROUP BY 1 ORDER BY bucket""".stripMargin
      }),

    // Embedding cosine near-dup pairs via LSH self-join + exact verify.
    // Threshold calibrated to the synthetic embeddings (max pairwise
    // cosine ≈ 0.51, p99 ≈ 0.29): 0.2 with 3-bit buckets yields a
    // small but non-empty pair set at every SF.
    // Single band of 3 bits: this is a low-threshold (0.2) demo over
    // near-orthogonal synthetic vectors, where banding cannot be tight;
    // real near-dup thresholds (≥0.9) use the multi-band default (m05).
    // Uncentered (synthetic corpus has no dominant shared direction) so
    // the oracle is the exact LSH twin: same inlined planes, same
    // bucket self-join, same exact-cosine verify.
    sql(
      "v05_cosine_neardup", {
        val planes = Similarity.hyperplanes(3, EmbDim)
        s"""SELECT * FROM (
           |  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |  s AS (SELECT vec_id, v, ${sigSql("v", planes)} AS sig FROM e)
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
           |  FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id)
           |WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin
      }) { (s, d) =>
      Similarity.cosineNearDupPairs(
          Tables.embeddings(s, d), col("embedding"), col("vec_id"),
          threshold = 0.2, nBits = 3, nBands = 1, centered = false)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Semantic search serving composition: multiprobe kNN over the
    // embedding space joined to the matching documents' metadata
    // (vec_id ⇔ doc_id — FIXTURES §2) — what a retrieval endpoint
    // returns. The 10-row kNN side broadcasts into the metadata join;
    // the corpus is touched only by the kNN scans.
    QueryDef("v08_semantic_search", (s, d) => {
      val knn = Similarity.lshKnn(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        queryVector(s, d), 10, nBits = annConfig(s, d).nBits)
      knn.join(
          Tables.documents(s, d).select(col("doc_id").as("id"), col("lang"), col("n_chars")),
          "id")
        .select(col("id"), col("score"), col("lang"), col("n_chars"))
        .orderBy(col("score").desc, col("id"))
    }, soleAnnConfig.map(cfg =>
      s"""WITH knn AS (${multiprobeKnnSql(cfg, "TRUE")})
         |SELECT k.id, k.score, d.lang, d.n_chars
         |FROM knn k JOIN documents d ON k.id = d.doc_id
         |ORDER BY k.score DESC, k.id""".stripMargin)),

    // Per-label centroid pooling: elementwise mean embedding per class
    // in ONE aggregate — vectors sum WHOLE through the custom
    // [[graft.expressions.VectorSum]] partial+final buffer, so the
    // shuffle carries one (label, d-vector) row per map partition and
    // the per-lane mean + rendering run on the |labels| aggregated rows
    // (the previous posexplode-first shape pushed d× the corpus rows
    // through the partial aggregate and needed a second aggregate to
    // re-assemble lanes). Rendering uses the bit-portable
    // floor(v·1e4+0.5)→DECIMAL(18,4) twin (gng_prototypes precedent);
    // summation-order noise (~1e-15 rel) sits ~7 orders below the
    // rounding step. The pooled vectors are classifier prototypes /
    // label-conditioned embeddings for a training mix.
    sql(
      "v09_label_centroids",
      """WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |                  generate_subscripts(embedding, 1) AS pos
        |           FROM embeddings),
        |m AS (SELECT label, pos, avg(x) AS m FROM e GROUP BY label, pos)
        |SELECT label, CAST(count(*) AS INT) AS dim,
        |  array_to_string(list_transform(list(m ORDER BY pos),
        |    v -> CAST(CAST(CAST(floor(v * 10000 + 0.5) AS BIGINT) / 10000.0
        |              AS DECIMAL(18,4)) AS VARCHAR)), ', ') AS centroid
        |FROM m GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(
          graft.expressions.VectorAgg.vecSum(asDouble(col("embedding"))).as("vsum"),
          count(col("embedding")).as("n"))
        .select(col("label"), size(col("vsum")).as("dim"),
          expr("""array_join(transform(vsum,
                 |  x -> CAST(CAST(CAST(floor(x / n * 10000 + 0.5) AS BIGINT) / 10000.0
                 |            AS DECIMAL(18,4)) AS STRING)), ', ')""".stripMargin)
            .as("centroid"))
        .orderBy(col("label"))
    },

    // IVF approximate kNN: the trained G-Stream prototypes double as the
    // coarse quantizer; rank within the 2 probed lists. Oracled at dump
    // time (same mechanism as gng_assignments): the trained centroids
    // inline as SQL constants, DuckDB re-derives the probe set (2
    // nearest centroids to the query, ties to the lower list) and the
    // per-vector list assignment with the kernel's left-assoc distance
    // sums, then ranks by exact cosine within the probed lists.
    QueryDef("v06_knn_ivf", (s, d) =>
      Similarity.ivfKnn(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        graft.GngQueries.trained(s, d).centroids,
        queryVector(s, d), k = 10, nProbe = ivfNProbe(s, d)),
      ivfOracle),

    // Product-quantization ANN: top-10 by asymmetric (ADC) distance
    // over 8 subspaces × 16 codewords. The scan reads codes, never raw
    // vectors; ranking is 8 table lookups per row. Oracled at dump
    // time: the trained codebook inlines as constants, DuckDB
    // re-derives the per-subspace encoding (left-assoc distance sums,
    // ties to the lower code) and the same 8-term ADC chain.
    QueryDef("v10_knn_pq", (s, d) =>
      graft.operators.Pq.pqKnn(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        pqCodebook(s, d), queryVector(s, d), k = 10),
      pqOracle),

    // IVFADC (FAISS's workhorse): IVF prunes the scan to the 2 probed
    // inverted lists, PQ ranks the survivors by ADC table lookups —
    // composed from the SAME trained models v06 and v10 use, so the
    // dump-time oracle composes their inlined CTEs verbatim.
    QueryDef("v11_knn_ivfpq", (s, d) =>
      graft.operators.Pq.ivfPqKnn(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        graft.GngQueries.trained(s, d).centroids, pqCodebook(s, d),
        queryVector(s, d), k = 10, nProbe = ivfNProbe(s, d)),
      ivfPqOracle),

    // IVFADC served from the PREBUILT partitioned-parquet index
    // (v07's serving pattern applied to v11): probe selection is a
    // driver-side centroid scan, the ranking scan prunes to the 2
    // probed lists' partitions (PartitionFilters gate) and reads
    // STORED codes — neither the list-assignment nor the encode
    // kernel runs at query time. Same dump-time oracle as v11: the
    // served answer must be indistinguishable from the online one.
    QueryDef("v16_knn_ivfpq_served", (s, d) =>
      graft.operators.Pq.ivfPqKnnOnIndex(
        servedIvfPqIndex(s, d),
        graft.GngQueries.trained(s, d).centroids, pqCodebook(s, d),
        queryVector(s, d), k = 10, nProbe = ivfNProbe(s, d)),
      ivfPqOracle),

    // BATCHED IVFADC serving (the ADC twin of v15): three query
    // vectors against the served code index in ONE plan — per-query
    // probe sets via the nearest_lists kernel, ADC via pq_adc_direct
    // against the broadcast query, per-query top-10 as a
    // partial+final WindowGroupLimit. Oracle: v11's composed CTEs
    // generalized per query (probe rank and LUT keyed by qid).
    QueryDef("v17_knn_ivfpq_batch", (s, d) =>
      graft.operators.Pq.ivfPqKnnBatch(
          servedIvfPqIndex(s, d),
          Tables.embeddings(s, d).filter(col("vec_id").isin(0L, 17L, 42L)),
          col("embedding"), col("vec_id"),
          graft.GngQueries.trained(s, d).centroids, pqCodebook(s, d),
          k = 10, nProbe = ivfNProbe(s, d))
        .orderBy(col("qid"), col("rk")),
      batchedIvfPqOracle),

    // Two-stage retrieval (FAISS search-then-refine): v17's ADC
    // shortlist over-fetched to 50, then ONLY those rows re-ranked by
    // exact squared L2 against raw embeddings — the shortlist
    // broadcasts as bare (qid, id) pairs into one narrow corpus scan,
    // so a 100 TB table is filtered map-side, never shuffled. The
    // recall/latency dial of every production ANN deployment.
    QueryDef("v18_knn_rerank", (s, d) =>
      graft.operators.Pq.ivfPqKnnRerank(
          servedIvfPqIndex(s, d), Tables.embeddings(s, d),
          col("embedding"), col("vec_id"),
          Tables.embeddings(s, d).filter(col("vec_id").isin(0L, 17L, 42L)),
          col("embedding"), col("vec_id"),
          graft.GngQueries.trained(s, d).centroids, pqCodebook(s, d),
          k = 10, shortlist = annConfig(s, d).budget(10).toInt,
          nProbe = ivfNProbe(s, d))
        .orderBy(col("qid"), col("rk")),
      rerankOracle),

    // kNN SELF-join: top-5 neighbors of EVERY vector, LSH-blocked
    // (4 bits × 2 bands) — the kNN-graph / near-dup-clustering
    // workhorse. Fully oracled as the exact pipeline twin: the seeded
    // planes inline as constants, candidates are the union of the two
    // bands' bucket self-joins kept DIRECTED, ranking is the same
    // round-then-rank window with the same (score DESC, nbr) tie-break.
    sql("v12_knn_join", knnJoinSql) { (s, d) =>
      Similarity.knnJoin(
          Tables.embeddings(s, d), col("embedding"), col("vec_id"),
          k = 5, nBits = 4, nBands = 2, dim = EmbDim)
        .orderBy(col("id"), col("rk"))
    },

    // Embedding-space decontamination: drop corpus vectors whose max
    // cosine against the eval set (vec_id < 25 stands in for a held-out
    // benchmark, t16's % 97 convention) reaches 0.3 — catches
    // paraphrased leakage that shares no exact n-grams with the
    // benchmark. One fused max-cosine kernel scan, no join (the eval
    // matrix rides the plan); the exact oracle cross-joins corpus × 25
    // eval rows, linear in the corpus.
    // Filtered (PRE-filter) ANN: top-10 among label >= 5 only — the
    // metadata-constrained retrieval problem. The multiprobe design is
    // CLOSED under filtering: restrict the corpus before bucketing and
    // the histogram, radius escalation, and exact-k guarantee all adapt
    // automatically (POST-filtering a top-k silently returns < k when
    // the filter bites). The label predicate pushes into the parquet
    // scan (plan-gated); the query vector still comes from the
    // unfiltered table.
    QueryDef("v14_knn_filtered", (s, d) =>
      Similarity.lshKnn(
        Tables.embeddings(s, d).filter(col("label") >= 5),
        col("embedding"), col("vec_id"),
        queryVector(s, d), 10, nBits = annConfig(s, d).nBits),
      soleAnnConfig.map(multiprobeKnnSql(_, "label >= 5"))),

    // BATCHED ANN serving: three query vectors against the served
    // bucket index in ONE plan — per-query histogram, radius, probe
    // set, and top-k all engine-side (no per-query driver round-trip;
    // v03/v07 collect a histogram per call). Oracle: v03's multiprobe
    // SQL applied per query via LATERAL, so each query's answer is the
    // single-query oracle's answer verbatim.
    QueryDef("v15_knn_batch", (s, d) =>
      Similarity.lshKnnBatch(
          servedIndex(s, d),
          Tables.embeddings(s, d).filter(col("vec_id").isin(0L, 17L, 42L)),
          col("embedding"), col("vec_id"), dim = EmbDim, k = 10,
          nBits = annConfig(s, d).nBits)
        .orderBy(col("qid"), col("rk")),
      batchedKnnSql),

    // HYBRID retrieval: the modern search-engine composition — BM25
    // keyword top-20 (t37's index) and multiprobe ANN top-20 (v03's
    // path, vec_id ⇔ doc_id) fused by reciprocal-rank fusion
    // rrf = Σ 1/(60 + rank_i), the score-scale-free combiner every
    // hybrid deployment uses (raw BM25 and cosine are incomparable;
    // ranks always are). Each leg is its own pruned serving plan; the
    // fusion is a 20×20-row full-outer join — nothing corpus-sized
    // moves. RRF is rounded BEFORE the final ranking (t37's
    // k-boundary discipline) and the oracle recomputes both legs and
    // the fusion declaratively.
    QueryDef("v27_hybrid_search", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val kw = graft.operators.InvertedIndex.bm25TopK(
          s, TextQueries.invertedIndexDir(s, d), Seq("spark", "merge", "dup"), k = 20)
        .withColumn("kwrank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("kwrank"))
      val sem = Similarity.lshKnn(
          Tables.embeddings(s, d), col("embedding"), col("vec_id"),
          queryVector(s, d), 20, nBits = annConfig(s, d).nBits)
        .withColumn("semrank",
          row_number().over(Window.orderBy(col("score").desc, col("id"))))
        .select(col("id").as("doc_id"), col("semrank"))
      kw.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("kwrank")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("semrank")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    }, soleAnnConfig.map(cfg =>
      s"""WITH kw AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS kwrank
         |  FROM (${TextQueries.bm25Sql(20)})),
         |sem AS (
         |  SELECT id AS doc_id, row_number() OVER (ORDER BY score DESC, id) AS semrank
         |  FROM (${multiprobeKnnSql(cfg, "TRUE", 20)})),
         |f AS (
         |  SELECT coalesce(kw.doc_id, sem.doc_id) AS doc_id,
         |    round(coalesce(1.0 / (60 + kwrank), 0) +
         |          coalesce(1.0 / (60 + semrank), 0), 6) AS rrf
         |  FROM kw FULL OUTER JOIN sem ON kw.doc_id = sem.doc_id)
         |SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // Batched RADIUS search: every corpus vector with cosine ≥ 0.2
    // against each of the three queries — the recall-first "all matches
    // above a score floor" retrieval mode (dedup candidate pull),
    // served from the same bucket index as v15 but with NO top-k
    // machinery at all: no histogram, no window, no sort — a hot query
    // matching 10^6 rows pipelines them instead of buffering a top-k
    // state. Fixed hamming-1 probe radius is the documented recall
    // knob; the oracle is the exact LSH twin (same inlined planes, same
    // radius join, same threshold), v05's discipline.
    QueryDef("v26_radius_search", (s, d) =>
      Similarity.lshRadiusBatch(
          servedIndex(s, d),
          Tables.embeddings(s, d).filter(col("vec_id").isin(0L, 17L, 42L)),
          col("embedding"), col("vec_id"), dim = EmbDim,
          threshold = 0.2, nBits = annConfig(s, d).nBits, maxHamming = 1)
        .orderBy(col("qid"), col("id")),
      soleAnnConfig.map { cfg =>
        val planes = Similarity.hyperplanes(cfg.nBits, EmbDim)
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |s AS (SELECT vec_id, v, ${sigSql("v", planes)} AS bucket FROM e),
           |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM s
           |      WHERE vec_id IN (0, 17, 42)),
           |m AS (SELECT q.qid, s.vec_id AS id,
           |        round(list_cosine_similarity(s.v, q.qv), 4) AS score
           |      FROM q JOIN s ON bit_count(xor(s.bucket, q.qb)) <= 1)
           |SELECT qid, id, score FROM m WHERE score >= 0.2
           |ORDER BY qid, id""".stripMargin
      }),

    sql(
      "v13_semantic_decontam",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT v FROM e WHERE vec_id < 25),
        |mx AS (SELECT c.vec_id AS id,
        |         round(max(list_cosine_similarity(c.v, ev.v)) + 1e-9, 4) AS max_eval_cosine
        |       FROM e c CROSS JOIN ev WHERE c.vec_id >= 25 GROUP BY c.vec_id)
        |SELECT id, max_eval_cosine FROM mx
        |WHERE max_eval_cosine < 0.3 ORDER BY id""".stripMargin) { (s, d) =>
      val eval = Tables.embeddings(s, d)
        .filter(col("vec_id") < 25)
        .orderBy(col("vec_id"))
        .select(asDouble(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
      Similarity.decontaminateByCosine(
          Tables.embeddings(s, d).filter(col("vec_id") >= 25),
          col("embedding"), col("vec_id"), eval, threshold = 0.3)
        .orderBy(col("id"))
    },

    // Distributed k-means (one Lloyd round, k=8, lowest-id seeds): the
    // full-data training path for coarse quantizers/codebooks — ASSIGN
    // is the nearest_centroid codegen kernel (centroid matrix as a plan
    // constant, no join), UPDATE is a per-(cluster, dim) partial+final
    // average; only k·d means ever leave the engine. Oracle: the seeds
    // inline at dump time (raw data doubles, v06's mechanism) and
    // DuckDB re-derives the same assignment (left-assoc distance
    // chains, lowest-index ties) and the same 4-decimal centroid
    // render (v09's). Output: one row per NON-EMPTY cluster.
    QueryDef("v19_kmeans", (s, d) => {
      val sd = kmSeeds(s, d)
      graft.operators.KMeans.assignStats(Tables.embeddings(s, d), col("embedding"), sd)
        .groupBy(col("cluster"))
        .agg(
          max(col("n")).as("n"),
          expr("""array_join(transform(sort_array(collect_list(struct(pos, m))),
                 |  s -> CAST(CAST(CAST(floor(s.m * 10000 + 0.5) AS BIGINT) / 10000.0
                 |            AS DECIMAL(18,4)) AS STRING)), ', ')""".stripMargin)
            .as("centroid"))
        .orderBy(col("cluster"))
    }, kmeansOracle),

    // Append-only IVFADC index growth: the index is built from half
    // the corpus (even vec_ids), the odd half arrives later as an
    // increment — encoded under the SAME frozen models via
    // Pq.ivfPqIncrement (fingerprint-validated: drifted models fail
    // fast at append time, the retrain-and-rebuild boundary) and
    // parquet-appended into the partitioned layout. Codes and list
    // assignment are row-local given frozen models, so serving the
    // two-phase index must be indistinguishable from the full rebuild:
    // same dump-time oracle as v11/v16.
    QueryDef("v21_ivfpq_incremental", (s, d) =>
      graft.operators.Pq.ivfPqKnnOnIndex(
        servedIvfPqIncrementalIndex(s, d),
        graft.GngQueries.trained(s, d).centroids, pqCodebook(s, d),
        queryVector(s, d), k = 10, nProbe = ivfNProbe(s, d)),
      ivfPqOracle),

    // Index DELETES + compaction (v21's lifecycle complement): the
    // served IVFADC index loses vec_id%10==3 via tombstone-then-COMPACT
    // (dynamic overwrite rewrites only the affected list partitions)
    // and vec_id%10==7 via tombstones left in place; serving resolves
    // the set-minus per probe (prune lists FIRST, then anti-join the
    // probed tombstones). Oracle: the v11 IVFADC oracle over the
    // corpus minus both delete waves — serve-after-delete must be
    // indistinguishable from rebuild-without-deleted.
    QueryDef("v22_ivfpq_delete", (s, d) =>
      graft.operators.Pq.ivfPqKnnOnIndexLive(
        servedIvfPqDeletedIndex(s, d),
        graft.GngQueries.trained(s, d).centroids, pqCodebook(s, d),
        queryVector(s, d), k = 10, nProbe = ivfNProbe(s, d)),
      ivfPqOracleFor("vec_id % 10 NOT IN (3, 7)")),

    // The bucket-index delete twin: v07's served LSH index with
    // vec_id%10==3 tombstoned, served through the live view — the
    // radius histogram, probe escalation, and ranking all shrink
    // together, so the answer equals the multiprobe oracle over the
    // corpus minus the deleted ids.
    QueryDef("v23_knn_served_delete", (s, d) =>
      Similarity.lshKnnOnIndex(
        Similarity.lshLive(servedDeletedIndex(s, d)), queryVector(s, d), 10,
        nBits = annConfig(s, d).nBits),
      soleAnnConfig.map(multiprobeKnnSql(_, "vec_id % 10 <> 3"))),

    // ANN quality evaluation: recall@10 of the batched LSH path (v15's
    // exact machinery) against brute-force ground truth, per query, in
    // ONE plan — the measurement every approximate index must ship with
    // before it replaces an exact scan in a pipeline. Ground truth is a
    // single corpus scan against the broadcast query set with the same
    // round-then-rank tie-break as the approximate side, so recall
    // differences can only come from bucketing, never from scoring
    // drift. The oracle recomputes BOTH sides (the v15 multiprobe SQL
    // verbatim as the approximate arm), so a recall regression — not
    // just a wrong recall — fails the hash compare.
    QueryDef("v20_ann_recall", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id").isin(0L, 17L, 42L))
      val q = qs.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      val wk = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
      val exact = emb
        .select(col("vec_id").as("id"), asDouble(col("embedding")).as("v"))
        .crossJoin(broadcast(q))
        .select(col("qid"), col("id"),
          round(cosineSimilarity(col("v"), col("qv")), 4).as("score"))
        .withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= 10)
      val approx = Similarity.lshKnnBatch(servedIndex(s, d), qs,
        col("embedding"), col("vec_id"), dim = EmbDim, k = 10,
        nBits = annConfig(s, d).nBits)
      exact
        .join(approx.select(col("qid"), col("id"), lit(1).as("hit")),
          Seq("qid", "id"), "left")
        .groupBy(col("qid"))
        .agg(
          count(col("hit")).as("n_hit"),
          round(count(col("hit")) / 10.0 + 1e-9, 4).as("recall"))
        .orderBy(col("qid"))
    }, annRecallOracle),

    // Embedding-space near-dup CLUSTERS: v05's banded cosine pairs
    // closed into connected components (the t21 large-star/small-star
    // engine — O(log d) rounds, skew-collapsed) with a per-cluster
    // size. This is semantic dedup's grouping step: text-identical
    // dedup misses paraphrases, and pairwise cosine verdicts alone
    // over-delete (A~B, B~C, A≁C still form one group). Oracle: the
    // exact LSH-twin pair SQL + a recursive-CTE closure — quadratic
    // reachability lives ONLY in DuckDB.
    sql(
      "v24_embedding_clusters", embeddingClustersOracle) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        threshold = 0.2, nBits = 3, nBands = 1, centered = false)
      graft.operators.Dedup.connectedComponents(
          pairs.select(col("id_a"), col("id_b")))
        .transform(sizedClusters)
    },

    // SemDeDup (Abbas et al. 2023): SEMANTIC dedup with k-means
    // clusters as the blocking structure — embeddings assign to their
    // nearest k-means seed (the v19 assignment, centroids as plan
    // constants), pairwise cosine runs ONLY within a cluster — and the
    // paper's premise "k scales with the corpus so the quadratic term
    // is per-cluster, never corpus²" is ENFORCED, not assumed:
    // KMeans.deriveK sizes k from a cheap count, and past the seed
    // budget SemDedup.prefixBits splits oversized clusters by a
    // deterministic sign-projection prefix (bits = 0 at oracle
    // scales). ε-similar pairs close into groups
    // (the t21/v24 star contraction), and each group keeps ONE
    // example — the paper's rule: the member FARTHEST from its cluster
    // centroid (lowest centroid-cosine; round-then-rank + id tie-break,
    // the cross-engine ranking discipline). Output is the keep/drop
    // verdict table a training pipeline consumes. Oracle replays
    // assignment (distSql chains + lowest-index ties), the within-
    // cluster pairs, the recursive closure, and the canonical ranking.
    QueryDef("v32_semantic_dedup",
      (s, d) => semDedupVerdicts(s, d), semDedupOracle),

    // v32 in its PRODUCTION shape (the v24→v28 amortization pattern):
    // the clustering + pairwise + closure + keep-rule run ONCE per
    // data dir into a materialized verdict table; every additional
    // consumer (a training-mix builder reading keep flags) pays a bare
    // 4-column scan — zero kernels, zero joins at serve (plan-gated).
    // Same oracle as v32 — serving a materialized verdict table must
    // not change a row.
    QueryDef("v35_semantic_dedup_prebuilt",
      (s, d) => prebuiltSemVerdicts(s, d).orderBy(col("vec_id")),
      semDedupOracle),

    // STREAMING SemDeDup (v32's ingestion twin — every other dedup
    // family already has one): embedding batches arrive as
    // micro-batches, each assigns against the STORED centroids (the
    // same frozen k-means seeds), SemDedup.incrementPairs finds every
    // ε-pair the batch completes (batch × stored∪batch, block-keyed),
    // and the verdict components fold through Dedup.mergeComponents —
    // the s20 machinery, so any slicing lands on the same final state.
    // Serving assembles the identical keep-rule over the folded member
    // state. Oracle: v32's VERBATIM — slicing invariance is the claim.
    // Restart: StreamStateRestartSpec drives this exact foldStep
    // through the exactly-once EpochState loop with a kill+resume.
    QueryDef("s31_stream_semantic_dedup", (s, d) => {
      import graft.operators.SemDedup
      import s.implicits._
      val blocking = kmBlocking(s, d)
      val seeds = blocking.seeds
      val bits = SemDedup.prefixBits(blocking.n, seeds.length)
      val dim = seeds(0).length
      val stream = s.readStream
        .schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(embeddingSliceDir(s, d))
      def assign(b: org.apache.spark.sql.DataFrame) = b.select(
        col("vec_id"), col("embedding").as("v"),
        graft.expressions.VectorOps.nearestCentroid(col("embedding"), seeds)
          .as("cluster"))
      // the fold state carries each member's block key, computed once
      // on arrival (foldStep) — the stored side of every later batch's
      // candidate join is a bare scan of these rows
      val init = Seq.empty[(Long, Seq[Double], Int, Long, Long)]
        .toDF("vec_id", "v", "cluster", "block", "rep")
      val folded = graft.streaming.StreamingRelational.oneShotFold(
        s, stream, init,
        (state, batch) => SemDedup.foldStep(state, assign(batch), bits, dim, eps = 0.35))
      val centDf = seeds.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cluster", "cent")
      val ranked = folded.join(broadcast(centDf), Seq("cluster"))
        .select(col("vec_id"), col("cluster"),
          round(graft.expressions.VectorOps.cosineSimilarity(col("v"), col("cent")), 4)
            .as("cent_sim"))
      semDedupAssemble(ranked, folded.select(col("vec_id").as("id"), col("rep")))
    }, semDedupOracle),

    // v24 in its PRODUCTION shape (the t31/t32 amortization pattern for
    // the embedding side): the LSH banding + cosine verify + star
    // contraction run ONCE per data dir into a materialized (id, rep)
    // components table; each additional consumer pays only the
    // id-keyed size window. Plan-gated: zero embedding kernels and
    // zero joins at serve time. Same oracle as v24 — serving a
    // materialized clustering must not change a row.
    sql(
      "v28_embedding_clusters_prebuilt", embeddingClustersOracle) { (s, d) =>
      sizedClusters(prebuiltEmbClusters(s, d))
    },

    // Scalar-quantized (SQ8) kNN — the compression rung below PQ
    // (v10): one byte per DIMENSION, trained by a single vec_min_max
    // aggregate pass (no codebook, no sample), served by the
    // codes-only scan + plan-constant ADC + TakeOrdered shape. The
    // oracle recomputes the ENTIRE quantization pipeline in SQL —
    // per-dimension ranges, the floor(+0.5)-clamped codes, the
    // dequantized distances — so a hash-pass pins the exact
    // quantization arithmetic, not merely "some top-10".
    sql(
      "v25_knn_sq8", sq8KnnSql) { (s, d) =>
      import graft.operators.Sq
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val r = Sq.train(emb, col("v"))
      val index = Sq.encodeIndex(emb, col("v"), col("vec_id"), r)
      Sq.sqKnn(index, queryVector(s, d), r, k = 10)
    },

    // BINARY quantization (v33) — the 1-BIT rung below SQ8/PQ: each
    // 64-dim vector packs into ONE long (256x smaller than raw), the
    // shortlist metric is xor + bit_count per candidate, and exact
    // cosine reranks only the 50-candidate shortlist (recall by
    // over-fetch, never by trusting hamming). Thresholds are
    // per-dimension means over 1e-4-QUANTIZED components, so every
    // bit is an exact-integer comparison — no cross-engine float
    // boundary exists anywhere before the (already 4-dp-rounded)
    // rerank. The oracle replays quantization, thresholds, the
    // differing-bit count (== bit_count(xor) of the packs), the
    // (hd, id) shortlist, and the rerank.
    QueryDef("v33_knn_binary", (s, d) => {
      import graft.operators.BinaryQuant
      val emb = Tables.embeddings(s, d)
      val thr = BinaryQuant.trainThresholds(emb, col("embedding"))
      BinaryQuant.knn(emb, col("embedding"), col("vec_id"),
        queryVector(s, d), thr, shortlist = annConfig(s, d).budget(10).toInt, k = 10)
    }, soleAnnConfig.map(cfg => graft.operators.BinaryQuant.oracleSql(
      "vec_id = 0", shortlist = cfg.budget(10).toInt, k = 10))),

    // CLUSTER-BALANCED weighted sampling (v34) — the curation move
    // after SemDeDup-style clustering: sample a per-cluster quota so
    // no dense region dominates the mix, weighted by a quality signal
    // (the vector's L2 norm here), WITHOUT replacement and without
    // RNG state — t76's A-ES keys ranked per k-means cluster (v19's
    // assignment, centroids as plan constants). Per-cluster top-5 via
    // a cluster-partitioned window (no global sort); the weight floors
    // at 1e-4 so a zero vector cannot divide the key to infinity.
    QueryDef("v34_cluster_sample", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val seeds = kmSeeds(s, d)
      val u = (conv(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 13),
        16, 10).cast("long") + lit(1.0)) / lit(4503599627370497.0)
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.expressions.VectorOps.nearestCentroid(
            col("embedding").cast("array<double>"), seeds).as("cluster"),
          greatest(round(graft.expressions.VectorOps.norm2(
            col("embedding").cast("array<double>")), 4), lit(0.0001)).as("w"))
        .withColumn("k", round(log(u) / col("w") + lit(1e-15), 12))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster")).orderBy(col("k").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("cluster").cast("int").as("cluster"), col("vec_id"), col("w"))
        .orderBy(col("cluster"), col("vec_id"))
    }, clusterSampleOracle),

    // ANN recall LADDER (v36) — the eval table a pipeline reads to
    // pick its serving rung: recall@10 vs the exact top-10 for every
    // compression/bucketing method (multiprobe LSH, PQ/ADC, IVFADC,
    // SQ8, 1-bit binary), computed by DRIVING the published query
    // surface itself (each leg is the registered query verbatim, so
    // the report can never drift from what users actually run). The
    // corpus embeddings are unit-norm, so the cosine-exact truth leg
    // is simultaneously the L2 truth — no metric mismatch against the
    // distance-ranked rungs (checked: exact L2 top-10 == cosine
    // top-10). The low pq/ivfpq/lsh numbers at bench scale are the
    // honest story of their parameters (m=8/k=16 codebook, 2 probes,
    // minimal-radius buckets) — exactly the signal this table exists
    // to surface. The oracle nests every leg's published oracle SQL
    // (the v20/v27 whole-oracle-as-leg form) — a hash-pass certifies
    // both the recall arithmetic and the whole ladder's consistency.
    QueryDef("v36_ann_recall_ladder", (s, d) => {
      def ids(n: String) = graft.SparkEntry.queries(n)(s, d).select(col("id"))
      val exact = ids("v02_knn_bruteforce").withColumn("hit", lit(1))
      // v18's refined rung (ADC shortlist → exact rerank), query 0's arm
      val refined = graft.SparkEntry.queries("v18_knn_rerank")(s, d)
        .filter(col("qid") === 0).select(col("id"))
        .withColumn("method", lit("ivfpq_rf"))
      (Seq("binary" -> "v33_knn_binary", "ivfpq" -> "v11_knn_ivfpq",
        "lsh" -> "v03_knn_lsh", "pq" -> "v10_knn_pq", "sq8" -> "v25_knn_sq8")
        .map { case (m, qn) => ids(qn).withColumn("method", lit(m)) } :+ refined)
        .reduce(_ unionByName _)
        .join(broadcast(exact), Seq("id"), "left")
        .groupBy(col("method"))
        .agg(count(col("hit")).as("n_hit"),
          round(count(col("hit")) / 10.0 + 1e-9, 4).as("recall"))
        .orderBy(col("method"))
    }, annLadderOracle),

    // Late-interaction retrieval (ColBERT MaxSim): the 64-dim
    // embedding chunked into 8 token sub-vectors of 8 dims; score =
    // Σ over query tokens of the max cosine against any doc token.
    // One fused kernel pass + TakeOrdered — token-level interaction
    // WITHOUT exploding to token rows or shuffling (v02's brute shape;
    // an 8× row explode + regroup would shuffle the corpus for
    // nothing). Oracle: unnest both sides to token rows, max per
    // (doc, query-token) with the identical bit-portable 6-dp
    // pre-round, sum with the 4-dp nudge-round, same rank tie-break.
    sql(
      "v29_maxsim_retrieval", maxSimOracle(shortlistCtes = "", candJoin = "")) { (s, d) =>
      Similarity.maxSimKnn(Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        queryVector(s, d).grouped(MaxSimDim).toArray, tokenDim = MaxSimDim, k = 10)
    },

    // Two-stage late interaction — v29's production shape: the served
    // LSH bucket index over-fetches a 50-id pooled-cosine shortlist
    // (partition-pruned, signature kernel never re-runs — v07's
    // serving), then ONLY those rows pay the MaxSim kernel in one
    // narrow broadcast-semi-joined corpus scan (v18's
    // search-then-refine, for multi-vectors). Full-corpus MaxSim costs
    // |q|× a pooled cosine — fine as v29's bench-scale brute pass, not
    // per query at 100 TB. Oracle: the v03/v15 multiprobe SQL
    // (k=50) nested as the shortlist leg + v29's token-unnest MaxSim
    // restricted to it.
    QueryDef("v30_maxsim_rerank", (s, d) => {
      val shortlist = Similarity.lshKnnOnIndex(
        servedIndex(s, d), queryVector(s, d), 50, nBits = annConfig(s, d).nBits)
      Similarity.maxSimRerank(Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        shortlist.select(col("id")),
        queryVector(s, d).grouped(MaxSimDim).toArray, tokenDim = MaxSimDim, k = 10)
    }, soleAnnConfig.map(cfg => maxSimOracle(
      shortlistCtes = s"short AS (SELECT id FROM (${multiprobeKnnSql(cfg, "TRUE", 50)}) x),\n",
      candJoin = " JOIN short ON short.id = t.vec_id"))),

    // BATCHED two-stage late interaction — v30 for a query SET in ONE
    // plan (v15's serving shape applied to MaxSim, closing the one
    // retrieval family that had neither a served index nor a batched
    // variant): per-query 50-id shortlists from the served bucket
    // index (lshKnnBatch — histogram, radius, probes all engine-side),
    // then ONLY shortlisted corpus rows pay the pairwise MaxSim kernel
    // (bit-identical arithmetic to v29/v30's constant-matrix kernel),
    // per-qid top-10 as a partial+final WindowGroupLimit. The corpus
    // streams through broadcast joins — never shuffled. Oracle: the
    // v15 batched multiprobe SQL (k=50) nested as the shortlist leg +
    // v29's token-unnest MaxSim per qid.
    QueryDef("v31_maxsim_batch", (s, d) => {
      val queries = Tables.embeddings(s, d).filter(col("vec_id").isin(0L, 17L, 42L))
      val shortlist = Similarity.lshKnnBatch(
        servedIndex(s, d), queries, col("embedding"), col("vec_id"),
        dim = EmbDim, k = 50, nBits = annConfig(s, d).nBits)
      Similarity.maxSimRerankBatch(
          Tables.embeddings(s, d), col("embedding"), col("vec_id"),
          shortlist.select(col("qid"), col("id")),
          queries, col("embedding"), col("vec_id"),
          tokenDim = MaxSimDim, k = 10)
        .orderBy(col("qid"), col("rk"))
    }, maxSimBatchOracle)
  )

  /** v29's multi-vector view of the 64-wide embeddings: 8 tokens × 8
    * dims. */
  private val MaxSimTokens = 8
  private val MaxSimDim = 8

  /** v29/v30's ONE oracle body (the multiprobeKnnSql(corpusPred)
    * pattern): token-unnest MaxSim with the kernel's exact semantics —
    * zero-norm tokens score 0.0 by contract (NOT NaN: DuckDB max()
    * ranks NaN above every double while the kernel's `>` never lets it
    * win), 6-dp pre-round before the max, nudge-rounded sum, id
    * tie-break. `shortlistCtes`/`candJoin` restrict the candidate set
    * for the reranked variant; v29 passes "" for both. */
  private def maxSimOracle(shortlistCtes: String, candJoin: String): String =
    s"""WITH ${shortlistCtes}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |g AS (SELECT vec_id, v, unnest(generate_series(0, ${MaxSimTokens - 1})) AS i FROM e),
       |t AS (SELECT vec_id, i, v[i*$MaxSimDim + 1 : i*$MaxSimDim + $MaxSimDim] AS tv FROM g),
       |q AS (SELECT i AS qi, tv AS qv FROM t WHERE vec_id = 0),
       |cs AS (SELECT t.vec_id, q.qi,
       |    max(floor(CASE WHEN list_inner_product(t.tv, t.tv) = 0
       |                     OR list_inner_product(q.qv, q.qv) = 0 THEN 0.0
       |                   ELSE list_cosine_similarity(t.tv, q.qv) END
       |              * 1000000 + 0.5) / 1000000.0) AS mx
       |  FROM t$candJoin CROSS JOIN q GROUP BY t.vec_id, q.qi),
       |sc AS (SELECT vec_id, round(sum(mx) + 1e-9, 4) AS maxsim FROM cs GROUP BY vec_id)
       |SELECT vec_id AS id, maxsim FROM sc ORDER BY maxsim DESC, id LIMIT 10""".stripMargin

  /** v24/v28's shared oracle: the exact LSH-twin pair SQL + a
    * recursive-CTE closure — quadratic reachability lives ONLY in
    * DuckDB. One definition for both the end-to-end and the
    * prebuilt-serving query, so reusing a materialized clustering is
    * pinned to byte-identical output (the t27/t31 oracle discipline). */
  private lazy val embeddingClustersOracle: String = {
    val planes = Similarity.hyperplanes(3, EmbDim)
    s"""WITH RECURSIVE
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v, ${sigSql("v", planes)} AS sig FROM e0),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |      FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |      WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.2),
       |e(src, dst) AS (SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
       |cc AS (
       |  SELECT a AS vec_id, CAST(min(b) AS BIGINT) AS cluster_rep
       |  FROM reach GROUP BY a)
       |SELECT vec_id, cluster_rep,
       |  CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
       |FROM cc ORDER BY vec_id""".stripMargin
  }

  /** The consumer-side shaping both v24 and v28 share: (id, rep)
    * components → (vec_id, cluster_rep, cluster_size) via the
    * per-cluster count window. */
  private def sizedClusters(components: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    components
      .select(col("id").as("vec_id"), col("rep").as("cluster_rep"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
      .orderBy(col("vec_id"))
  }

  /** Materialized embedding components per data dir (the
    * TextQueries.prebuiltComponents twin on the vector side): LSH
    * pair generation + star contraction run once, written to scratch
    * parquet, served to every consumer. */
  private val embClustersCache = new PerDir[String]

  private def prebuiltEmbClusters(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = embClustersCache(d) {
      val dir = PerDir.scratch("emb-components")
      val pairs = Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d), col("embedding"), col("vec_id"),
        threshold = 0.2, nBits = 3, nBands = 1, centered = false)
      graft.operators.Dedup.connectedComponents(
          pairs.select(col("id_a"), col("id_b")))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    }
    s.read.parquet(path)
  }

  /** v20's oracle: brute-force top-10 per query (same round-then-rank
    * tie-break) LEFT JOINed against the v15 multiprobe SQL verbatim —
    * the approximate arm is the single source of truth shared with
    * v15/s07, so the two oracles cannot drift apart. */
  private def annRecallOracle: Option[String] = batchedKnnSql.map(bk =>
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 17, 42)),
       |ex AS (SELECT qid, id FROM (
       |  SELECT q.qid, c.vec_id AS id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(list_cosine_similarity(c.v, q.qv), 4) DESC, c.vec_id) AS rk
       |  FROM qs q CROSS JOIN e c) WHERE rk <= 10),
       |ax AS (SELECT qid, id FROM ($bk) b)
       |SELECT ex.qid, CAST(count(ax.id) AS BIGINT) AS n_hit,
       |  round(count(ax.id) / 10.0 + 1e-9, 4) AS recall
       |FROM ex LEFT JOIN ax ON ax.qid = ex.qid AND ax.id = ex.id
       |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin)

  /** v15's oracle: the v03 multiprobe semantics applied PER QUERY —
    * each query's hamming histogram (cumulative count by distance over
    * the same inlined-plane signatures), minimal radius reaching the
    * corpus-derived candidate budget (the same per-qid windowed total
    * the engine computes), exact-cosine rank within it. Written without
    * LATERAL (DuckDB's binder forbids window functions inside one):
    * the per-query histogram is a qs × s cross join grouped by
    * (qid, hd); radii and ranks are PARTITION BY qid windows — the
    * same per-query stages the Spark plan runs. */
  private def batchedKnnSql: Option[String] =
    soleAnnConfig.map(batchedKnnSqlFor(_, "vec_id IN (0, 17, 42)"))

  /** [[batchedKnnSql]] parameterized by the query-set predicate and
    * fetch depth — shared with s07's streaming-serving oracle and
    * v31's shortlist leg, so the batch, streaming, and rerank
    * contracts cannot drift apart. */
  private[graft] def batchedKnnSqlFor(cfg: AnnConfig, qidPred: String,
      k: Int = 10): String = {
    val planes = Similarity.hyperplanes(cfg.nBits, EmbDim)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v, ${sigSql("v", planes)} AS bucket FROM e),
       |qs AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM s WHERE $qidPred),
       |hist AS (SELECT q.qid, bit_count(xor(s.bucket, q.qb)) AS hd, count(*) AS n
       |         FROM qs q CROSS JOIN s GROUP BY 1, 2),
       |radii AS (SELECT qid, coalesce(min(CASE WHEN cum >=
       |            least(greatest(${3 * k}, ceil(6*sqrt(tot * $k))), tot)
       |            THEN hd END), ${cfg.nBits}) AS radius
       |          FROM (SELECT qid, hd, sum(n) OVER (PARTITION BY qid ORDER BY hd) AS cum,
       |                       sum(n) OVER (PARTITION BY qid) AS tot
       |                FROM hist)
       |          GROUP BY qid),
       |ranked AS (SELECT q.qid, s.vec_id AS id,
       |    round(list_cosine_similarity(s.v, q.qv), 4) AS score,
       |    CAST(row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(list_cosine_similarity(s.v, q.qv), 4) DESC, s.vec_id) AS INT) AS rk
       |  FROM qs q JOIN radii r ON q.qid = r.qid
       |  JOIN s ON bit_count(xor(s.bucket, q.qb)) <= r.radius)
       |SELECT qid, id, score, rk FROM ranked WHERE rk <= $k
       |ORDER BY qid, rk""".stripMargin
  }

  /** v31's oracle: the v15 batched multiprobe SQL over-fetched to a
    * 50-id shortlist per query (nested verbatim — the v20/v27
    * composition pattern), then v29's token-unnest MaxSim semantics
    * applied PER (qid, shortlisted id): same zero-norm contract, 6-dp
    * pre-round before the max, nudge-rounded sum, per-qid
    * round-then-rank with id tie-break. */
  private def maxSimBatchOracle: Option[String] = soleAnnConfig.map { cfg =>
    val short = batchedKnnSqlFor(cfg, "vec_id IN (0, 17, 42)", k = 50)
    s"""WITH short AS (SELECT qid, id FROM ($short) sx),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |g AS (SELECT vec_id, v, unnest(generate_series(0, ${MaxSimTokens - 1})) AS i FROM e),
       |t AS (SELECT vec_id, i, v[i*$MaxSimDim + 1 : i*$MaxSimDim + $MaxSimDim] AS tv FROM g),
       |qt AS (SELECT vec_id AS qid, i AS qi, tv AS qv FROM t WHERE vec_id IN (0, 17, 42)),
       |cs AS (SELECT sh.qid, sh.id, qt.qi,
       |    max(floor(CASE WHEN list_inner_product(dt.tv, dt.tv) = 0
       |                     OR list_inner_product(qt.qv, qt.qv) = 0 THEN 0.0
       |                   ELSE list_cosine_similarity(dt.tv, qt.qv) END
       |              * 1000000 + 0.5) / 1000000.0) AS mx
       |  FROM short sh JOIN t dt ON dt.vec_id = sh.id JOIN qt ON qt.qid = sh.qid
       |  GROUP BY sh.qid, sh.id, qt.qi),
       |sc AS (SELECT qid, id, round(sum(mx) + 1e-9, 4) AS maxsim FROM cs GROUP BY qid, id),
       |rr AS (SELECT qid, id, maxsim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY maxsim DESC, id) AS INT) AS rk FROM sc)
       |SELECT qid, id, maxsim, rk FROM rr WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  }

  /** v12's oracle: the two band signatures from the SAME plane matrix
    * the fused kernel uses (band b, bit i = plane b·nBits+i), candidate
    * union over bands, exact cosine, round-then-rank — every stage the
    * pipeline twin of [[Similarity.knnJoin]]. */
  private lazy val knnJoinSql: String = {
    val planes = Similarity.hyperplanes(8, EmbDim)
    val sig0 = sigSql("v", planes.slice(0, 4))
    val sig1 = sigSql("v", planes.slice(4, 8))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v, $sig0 AS sig0, $sig1 AS sig1 FROM e),
       |cand AS (
       |  SELECT a.vec_id AS id, b.vec_id AS nbr
       |  FROM s a JOIN s b ON a.sig0 = b.sig0 AND a.vec_id <> b.vec_id
       |  UNION
       |  SELECT a.vec_id AS id, b.vec_id AS nbr
       |  FROM s a JOIN s b ON a.sig1 = b.sig1 AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.id, c.nbr, round(list_cosine_similarity(ea.v, eb.v), 4) AS score
       |  FROM cand c JOIN e ea ON ea.vec_id = c.id JOIN e eb ON eb.vec_id = c.nbr),
       |ranked AS (
       |  SELECT id, nbr, score,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr) AS INT) AS rk
       |  FROM scored)
       |SELECT id, nbr, score, rk FROM ranked WHERE rk <= 5 ORDER BY id, rk""".stripMargin
  }

  /** Squared distance of the `sub`-wide slice of SQL array `arr`
    * starting at 0-based element `base` to codeword `w`, as the same
    * left-associated term chain the encode kernel accumulates. */
  private def subDistSql(arr: String, base: Int, w: Array[Double]): String =
    w.zipWithIndex
      .map { case (wv, t) => s"($arr[${base + t + 1}] - ($wv)) * ($arr[${base + t + 1}] - ($wv))" }
      .mkString(" + ")

  /** The PQ half of the v10/v11 oracles, shared so the encode / LUT /
    * ADC accumulation order can't diverge between them: CTEs ending in
    * `pc(vec_id, c0..c{m-1})` (every vector's codes, ties to the lower
    * code) and `lut(j, c, d)` (query-subslice→codeword distances). */
  /** Corpus-side encode CTEs alone — `pd`/`codes`/`pc(vec_id,
    * c0..c{m-1})` — shared by the single-query ([[pqCtes]]) and
    * batched ([[batchedIvfPqOracle]]) oracles. */
  private def pqEncodeCtes(cb: Array[Array[Array[Double]]]): String = {
    val m = cb.length
    val sub = cb(0)(0).length
    // codewords as ONE inline VALUES table (each double CAST so DuckDB
    // parses it as DOUBLE, not DECIMAL); the per-(vec, subspace,
    // codeword) encode distance is a single cross join evaluating the
    // same left-assoc `sub`-term chain as the encode kernel — the old
    // m×k UNION-ALL-arm form re-scanned `e` once per codeword and
    // stopped parsing economically past m·k ≈ 128
    val values = (for (j <- 0 until m; c <- cb(j).indices) yield
      s"($j, $c, ${cb(j)(c).map(w => s"CAST($w AS DOUBLE)").mkString(", ")})")
      .mkString(",\n    ")
    val wcols = (1 to sub).map(t => s"w$t").mkString(", ")
    val chain = (1 to sub)
      .map(t => s"(v[j*$sub + $t] - w$t) * (v[j*$sub + $t] - w$t)")
      .mkString(" + ")
    val pivot = (0 until m)
      .map(j => s"max(CASE WHEN j = $j THEN c END) AS c$j").mkString(", ")
    s"""cw(j, c, $wcols) AS (SELECT * FROM (VALUES
       |    $values) cwv(j, c, $wcols)),
       |pd AS (SELECT vec_id, j, c, $chain AS dsq FROM e CROSS JOIN cw),
       |codes AS (SELECT vec_id, j, c FROM (
       |  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dsq, c) AS rk FROM pd)
       |  WHERE rk = 1),
       |pc AS (SELECT vec_id, $pivot FROM codes GROUP BY vec_id)""".stripMargin
  }

  /** The single-query ADC as a per-subspace CASE over `p.c_j` — the
    * SQL twin of the `pq_adc_direct` kernel with the identical
    * per-codeword left-assoc term chain and the same subspace-order
    * accumulation (the batched oracle's form, reused for v10/v11 now
    * that the codebook is corpus-sized: the old m-way `lut` join
    * stops being economical past m = 8). */
  private def adcDirectSql(cb: Array[Array[Array[Double]]], qv: String): String = {
    val sub = cb(0)(0).length
    cb.indices.map { j =>
      val arms = cb(j).indices
        .map(c => s"WHEN $c THEN ${subDistSql(qv, j * sub, cb(j)(c))}")
        .mkString(" ")
      s"(CASE p.c$j $arms END)"
    }.mkString(" + ")
  }

  private def pqOracle: Option[String] =
    solePqCodebook.map { cb =>
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |${pqEncodeCtes(cb)}
         |SELECT p.vec_id AS id, round(${adcDirectSql(cb, "q.qv")} + 1e-9, 4) AS adc_dist
         |FROM pc p CROSS JOIN q
         |ORDER BY adc_dist, id LIMIT 10""".stripMargin
    }

  /** IVFADC: the v06 probe/assignment CTEs composed with the PQ
    * encode/LUT CTEs — both models inlined at dump time. */
  private def ivfPqOracle: Option[String] = ivfPqOracleFor("TRUE")

  /** [[ivfPqOracle]] parameterized by the CORPUS predicate — v22's
    * serve-after-delete contract: serving a tombstoned (and partially
    * compacted) index must equal this oracle over the corpus minus the
    * deleted ids, i.e. a rebuild without them. The predicate restricts
    * the ranked corpus only; the query vector (vec_id 0) must satisfy
    * it. */
  private def ivfPqOracleFor(corpusPred: String): Option[String] =
    for { cs <- graft.GngQueries.soleTrainedCentroids; cb <- solePqCodebook;
          np <- soleIvfNProbe() } yield {
      val queryDists = cs.zipWithIndex
        .map { case (c, i) => s"SELECT $i AS list, ${graft.GngQueries.distSql("qv", c)} AS d FROM q" }
        .mkString("\nUNION ALL ")
      val vecDists = cs.zipWithIndex
        .map { case (c, i) => s"SELECT vec_id, $i AS list, ${graft.GngQueries.distSql("v", c)} AS dsq FROM e" }
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           WHERE $corpusPred),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cd AS ($queryDists),
         |probed AS (SELECT list FROM cd ORDER BY d, list LIMIT $np),
         |vd AS ($vecDists),
         |win AS (SELECT vec_id, list FROM (
         |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, list) AS rk FROM vd)
         |  WHERE rk = 1),
         |${pqEncodeCtes(cb)},
         |adcx AS (SELECT p.vec_id AS id,
         |  round(${adcDirectSql(cb, "q.qv")} + 1e-9, 4) AS adc_dist
         |  FROM pc p CROSS JOIN q)
         |SELECT a.id, a.adc_dist
         |FROM adcx a JOIN win w ON w.vec_id = a.id
         |WHERE w.list IN (SELECT list FROM probed)
         |ORDER BY a.adc_dist, a.id LIMIT 10""".stripMargin
    }

  /** The shared WITH-body of the v17/v18 oracles: everything through
    * `ranked(qid, id, adc_dist, rk)` — [[ivfPqOracle]] generalized per
    * query (probe sets ranked PARTITION BY qid, per-query rank on the
    * rounded distance), over the inlined trained models.
    *
    * The ADC is NOT the single-query oracle's 8-way `lut` join keyed
    * per qid — DuckDB's join-order search can pair the lut references
    * with each other on `qid` alone (exponential intermediate in m;
    * measured: the lut-join form never finished at 500 rows). Instead
    * the selected codeword's distance inlines as a CASE over `p.c_j`
    * per subspace — the SQL twin of the `pq_adc_direct` kernel, with
    * the identical per-codeword left-assoc term chain and the same
    * subspace-order accumulation. */
  private def batchedIvfPqCtes(cs: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], np: Int): String = {
    val m = cb.length
    val sub = cb(0)(0).length
    val queryDists = cs.zipWithIndex
      .map { case (c, i) => s"SELECT qid, $i AS list, ${graft.GngQueries.distSql("qv", c)} AS d FROM qs" }
      .mkString("\nUNION ALL ")
    val vecDists = cs.zipWithIndex
      .map { case (c, i) => s"SELECT vec_id, $i AS list, ${graft.GngQueries.distSql("v", c)} AS dsq FROM e" }
      .mkString("\nUNION ALL ")
    val adcDirect = adcDirectSql(cb, "qv")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 17, 42)),
       |cd AS ($queryDists),
       |probed AS (SELECT qid, list FROM (
       |  SELECT qid, list, row_number() OVER (PARTITION BY qid ORDER BY d, list) AS rk FROM cd)
       |  WHERE rk <= $np),
       |vd AS ($vecDists),
       |win AS (SELECT vec_id, list FROM (
       |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, list) AS rk FROM vd)
       |  WHERE rk = 1),
       |${pqEncodeCtes(cb)},
       |adcx AS (
       |  SELECT qs.qid, p.vec_id AS id, round($adcDirect + 1e-9, 4) AS adc_dist
       |  FROM pc p CROSS JOIN qs),
       |ranked AS (
       |  SELECT a.qid, a.id, a.adc_dist,
       |    CAST(row_number() OVER (PARTITION BY a.qid
       |      ORDER BY a.adc_dist, a.id) AS INT) AS rk
       |  FROM adcx a
       |  JOIN win w ON w.vec_id = a.id
       |  JOIN probed pr ON pr.list = w.list AND pr.qid = a.qid)""".stripMargin
  }

  private def batchedIvfPqOracle: Option[String] =
    for { cs <- graft.GngQueries.soleTrainedCentroids; cb <- solePqCodebook;
          np <- soleIvfNProbe() } yield
      s"""WITH ${batchedIvfPqCtes(cs, cb, np)}
         |SELECT qid, id, adc_dist, rk FROM ranked WHERE rk <= 10
         |ORDER BY qid, rk""".stripMargin

  /** v18's oracle: the v17 shortlist (rk ≤ 50) re-ranked by EXACT
    * squared Euclidean between the raw corpus and query vectors — the
    * same ascending-index left-assoc accumulation as the
    * `vec_squared_distance` kernel, +1e-9 nudge before the 4-dp round
    * on both engines. */
  private def rerankOracle: Option[String] =
    for { cs <- graft.GngQueries.soleTrainedCentroids; cb <- solePqCodebook;
          np <- soleIvfNProbe(); cfg <- soleAnnConfig } yield {
      val exact = (1 to EmbDim)
        .map(i => s"(e.v[$i] - qs.qv[$i]) * (e.v[$i] - qs.qv[$i])")
        .mkString(" + ")
      s"""WITH ${batchedIvfPqCtes(cs, cb, np)},
         |short AS (SELECT qid, id FROM ranked WHERE rk <= ${cfg.budget(10)}),
         |rr AS (
         |  SELECT s.qid, s.id, round($exact + 1e-9, 4) AS dist,
         |    CAST(row_number() OVER (PARTITION BY s.qid
         |      ORDER BY round($exact + 1e-9, 4), s.id) AS INT) AS rk
         |  FROM short s
         |  JOIN e ON e.vec_id = s.id
         |  JOIN qs ON qs.qid = s.qid)
         |SELECT qid, id, dist, rk FROM rr WHERE rk <= 10
         |ORDER BY qid, rk""".stripMargin
    }

  private def ivfOracle: Option[String] =
    for { cs <- graft.GngQueries.soleTrainedCentroids; np <- soleIvfNProbe() } yield {
      val queryDists = cs.zipWithIndex
        .map { case (c, i) => s"SELECT $i AS list, ${graft.GngQueries.distSql("qv", c)} AS d FROM q" }
        .mkString("\nUNION ALL ")
      val vecDists = cs.zipWithIndex
        .map { case (c, i) => s"SELECT vec_id, $i AS list, ${graft.GngQueries.distSql("v", c)} AS dsq FROM e" }
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cd AS ($queryDists),
         |probed AS (SELECT list FROM cd ORDER BY d, list LIMIT $np),
         |vd AS ($vecDists),
         |win AS (SELECT vec_id, list FROM (
         |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, list) AS rk FROM vd)
         |  WHERE rk = 1)
         |SELECT e.vec_id AS id, round(list_cosine_similarity(e.v, (SELECT qv FROM q)), 4) AS score
         |FROM win JOIN e USING (vec_id)
         |WHERE win.list IN (SELECT list FROM probed)
         |ORDER BY score DESC, id LIMIT 10""".stripMargin
    }
}
