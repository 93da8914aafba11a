package graft

import org.apache.spark.sql.functions._
import graft.model.GngParams
import graft.queries.{QueryDef, Tables}
import graft.streaming.GStream

/** G-Stream clustering exposed through the driver contract: deterministic
  * chunked training over `embeddings` (64-d vectors, `vec_id % K`
  * micro-batches — FIXTURES.md §2 fixture roles). Model state is not
  * SQL-expressible → rows-only checks.
  */
object GngQueries {
  import QueryDef._

  private val defaultChunks = 20

  /** Chunked training is deterministic for a given data dir, so ALL
    * gng queries share ONE training run per dir instead of re-running
    * the 20-batch loop each (the reference likewise trains once and
    * snapshots many views of the same model): the hooked fit captures
    * the cadence snapshots for the live-IVF bridge on the way to the
    * final model — `fitChunked` IS `fitChunkedHooked` with a no-op
    * hook, so the end state is identical. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.model.GngModel, Seq[(Int, graft.operators.LiveIvf.Snapshot)])]()

  private def trainOnce(s: org.apache.spark.sql.SparkSession, d: String)
      : (graft.model.GngModel, Seq[(Int, graft.operators.LiveIvf.Snapshot)]) =
    cache.computeIfAbsent(d, _ => {
      val pts = GStream.toPoints(Tables.embeddings(s, d), "embedding", "label", "vec_id")
      val marks = snapshotMarks.toSet
      val snaps = Seq.newBuilder[(Int, graft.operators.LiveIvf.Snapshot)]
      val model = GStream.fitChunkedHooked(pts, GngParams(), defaultChunks, (kk, m) =>
        if (marks(kk))
          snaps += kk -> m.nodes.toArray.map(p => (p.id, p.centroid.clone())))
      (model, snaps.result())
    })

  /** Shared trained model per data dir (also the IVF coarse quantizer
    * for v06). */
  def trained(s: org.apache.spark.sql.SparkSession, d: String): graft.model.GngModel =
    trainOnce(s, d)._1

  /** The trained centroids as inline SQL constants — available only
    * AFTER the queries have run (the Verify main runs every query, then
    * dumps `oracleSql`; [[all]] is a `def` so the oracle strings are
    * built at dump time, when exactly one model sits in the cache).
    * With zero models (oracleSql read before any query ran) or several
    * (mixed dirs in one JVM — never the Verify flow) there is no
    * unambiguous model, and the queries stay rows-only. Double
    * constants round-trip exactly through toString (v03 precedent). */
  private[graft] def soleTrainedModel: Option[graft.model.GngModel] = {
    val models = new java.util.ArrayList(cache.values())
    if (models.size == 1) Some(models.get(0)._1) else None
  }

  private[graft] def soleTrainedCentroids: Option[Array[Array[Double]]] =
    soleTrainedModel.map(_.centroids)

  /** Snapshot cadence for the live-IVF bridge (gng_stream_clusters):
    * four marks across the 20-chunk training run — enough prototype
    * births, moves, and deaths between marks to exercise every
    * [[graft.operators.LiveIvf.advance]] branch. */
  private val snapshotMarks = Seq(5, 10, 15, 20)

  /** The evolving prototype table captured at [[snapshotMarks]] during
    * the ONE shared training run per data dir — (kk, [(node id,
    * centroid)]), array order = the model's own node order (the
    * tie-break index). Centroids are deep-copied at capture; the model
    * keeps training. */
  def trainedSnapshots(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Int, graft.operators.LiveIvf.Snapshot)] =
    trainOnce(s, d)._2

  private def soleSnapshots: Option[Seq[(Int, graft.operators.LiveIvf.Snapshot)]] = {
    val ss = new java.util.ArrayList(cache.values())
    if (ss.size == 1) Some(ss.get(0)._2) else None
  }

  /** KEYED multi-model training per data dir: one independent model
    * per tenant key (label % 3 stands in for the tenant/source column)
    * via [[graft.streaming.GStreamKeyed.fitKeyed]] — N models training
    * in parallel across executors, none on the driver (the sharding
    * SURVEY §2.9 T2 names as the single-global-state limitation). */
  private val keyedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, graft.model.GngModel]]()

  def trainedKeyed(s: org.apache.spark.sql.SparkSession, d: String): Map[Long, graft.model.GngModel] =
    keyedCache.computeIfAbsent(d, _ => {
      val pts = graft.streaming.GStreamKeyed.toKeyedPoints(
        Tables.embeddings(s, d).withColumn("key", col("label") % 3),
        "key", "embedding", "label", "vec_id")
      graft.streaming.GStreamKeyed.fitKeyed(pts, GngParams(), defaultChunks)
    })

  private def soleTrainedKeyed: Option[Map[Long, graft.model.GngModel]] = {
    val ms = new java.util.ArrayList(keyedCache.values())
    if (ms.size == 1) Some(ms.get(0)) else None
  }

  /** Squared Euclidean distance of SQL array column `arr` to one
    * centroid as an explicit left-associated term chain — the same
    * sequential accumulation order as
    * [[graft.operators.GngOps.twoNearest]]'s loop (and
    * VectorOpsImpl.nearestCentroid's), so both engines compute
    * bit-identical doubles and arg-min ties can't flake. Shared by the
    * gng_assignments/gng_purity and v06 oracles — ONE definition, so
    * the accumulation order can't silently diverge between them. */
  private[graft] def distSql(arr: String, c: Array[Double]): String =
    c.zipWithIndex
      .map { case (cv, k) => s"($arr[${k + 1}] - ($cv)) * ($arr[${k + 1}] - ($cv))" }
      .mkString(" + ")

  /** CTEs ending in `win(vec_id, cluster, dsq)`: each vector's nearest
    * centroid by squared distance, ties to the lowest index (twoNearest
    * keeps the FIRST strict minimum). */
  private def nearestCtes(cs: Array[Array[Double]]): String = {
    val perCentroid = cs.zipWithIndex
      .map { case (c, i) => s"SELECT vec_id, $i AS cluster, ${distSql("v", c)} AS dsq FROM e" }
      .mkString("\nUNION ALL ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |d AS ($perCentroid),
       |win AS (SELECT vec_id, cluster, dsq FROM (
       |  SELECT vec_id, cluster, dsq,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cluster) AS rk FROM d)
       |  WHERE rk = 1)""".stripMargin
  }

  private def assignmentsOracle: Option[String] =
    soleTrainedCentroids.map { cs =>
      s"""WITH ${nearestCtes(cs)}
         |SELECT vec_id, cluster, round(sqrt(dsq), 4) AS dist
         |FROM win ORDER BY vec_id""".stripMargin
    }

  /** gng_prototypes oracle (dump-time, like [[assignmentsOracle]]): the
    * RAW trained state — node ids, weights, unrounded errors, raw
    * centroid doubles — is inlined as a VALUES list, and DuckDB
    * independently re-derives the VIEW: the ×1e4 error rounding with
    * `floor(x·1e4 + 0.5)/1e4` (bit-identical to Scala `math.round` for
    * the non-negative errors) and the 6-decimal centroid CSV string via
    * `floor(v·1e6 + 0.5)` → DECIMAL(28,6) (the twin of
    * `BigDecimal.valueOf(math.round(v·1e6), 6).toPlainString`). So the
    * hash-match verifies the snapshot-formatting path, not just an echo
    * of the rows. Doubles round-trip exactly through toString (v03
    * precedent). */
  private def prototypesOracle: Option[String] =
    soleTrainedModel.map { m =>
      val rows = m.nodes.toSeq.zipWithIndex.map { case (p, i) =>
        val cList = p.centroid.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
        s"($i, ${p.id}, CAST(${m.clusterWeights(i)} AS DOUBLE), " +
          s"CAST(${m.errors(i)} AS DOUBLE), ${p.nAssigned}, $cList)"
      }.mkString(",\n  ")
      s"""WITH p(node_idx, node_id, weight, error_raw, n_assigned, c) AS (VALUES
         |  $rows)
         |SELECT node_idx, node_id, weight,
         |  floor(error_raw * 10000 + 0.5) / 10000 AS error,
         |  n_assigned,
         |  array_to_string(list_transform(c, v ->
         |    CAST(CAST(CAST(floor(v * 1000000 + 0.5) AS BIGINT) / 1000000.0
         |         AS DECIMAL(28,6)) AS VARCHAR)), ', ') AS centroid
         |FROM p ORDER BY node_idx""".stripMargin
    }

  /** gng_edges oracle (dump-time): the adjacency/age matrices' edge
    * list inlined as VALUES; DuckDB re-applies the (src, dst) total
    * order. The empty-graph sentinel row mirrors the query side. */
  private def edgesOracle: Option[String] =
    soleTrainedModel.map { m =>
      val rows = m.edgeList
      val vals = (if (rows.isEmpty) Seq((-1, -1, 0.0)) else rows)
        .map { case (s, t, a) => s"($s, $t, CAST($a AS DOUBLE))" }
        .mkString(",\n  ")
      s"""WITH e(src, dst, age) AS (VALUES
         |  $vals)
         |SELECT src, dst, age FROM e ORDER BY src, dst""".stripMargin
    }

  private def purityOracle: Option[String] =
    soleTrainedCentroids.map { cs =>
      s"""WITH ${nearestCtes(cs)},
         |a AS (SELECT w.cluster, emb.label FROM win w JOIN embeddings emb USING (vec_id)),
         |pc AS (SELECT cluster, label, count(*) AS n FROM a GROUP BY cluster, label),
         |agg AS (SELECT cluster, max(n) AS majority, sum(n) AS total FROM pc GROUP BY cluster)
         |SELECT round(CAST(sum(majority) AS DOUBLE) / sum(total), 4) AS purity,
         |  count(*) AS n_clusters FROM agg""".stripMargin
    }

  /** A `def`, not a `val`: the gng_assignments/gng_purity oracles embed
    * the TRAINED centroids, which only exist after the queries run —
    * see [[soleTrainedCentroids]]. */
  def all: Seq[QueryDef] = Seq(
    // Final prototype table after 20 deterministic micro-batches.
    // Centroid rendered as a CSV string of fixed 6-decimal coordinates
    // (the reference's comma-joined snapshot shape, pointObj.scala:16-18;
    // fixed-scale rendering so the DuckDB oracle can re-derive the
    // string from raw doubles portably) — a CSV string also keeps the
    // driver's pandas row-compare away from raw array cells (unhashable
    // numpy.ndarray). Oracled at dump time: see [[prototypesOracle]].
    QueryDef("gng_prototypes", (s, d) => {
      val m = trained(s, d)
      import s.implicits._
      m.nodes.toSeq.zipWithIndex.map { case (p, i) =>
        (i, p.id, m.clusterWeights(i), math.round(m.errors(i) * 1e4) / 1e4,
          math.toIntExact(p.nAssigned), // served as int; overflow fails loud
          p.centroid.map(v =>
            java.math.BigDecimal.valueOf(math.round(v * 1e6), 6).toPlainString)
            .mkString(", "))
      }.toDF("node_idx", "node_id", "weight", "error", "n_assigned", "centroid")
        .orderBy(col("node_idx"))
    }, prototypesOracle),
    // Final edge list (idiomatic snapshot of the adjacency/age
    // matrices). Oracled at dump time: see [[edgesOracle]].
    QueryDef("gng_edges", (s, d) => {
      val m = trained(s, d)
      import s.implicits._
      val rows = m.edgeList
      (if (rows.isEmpty) Seq((-1, -1, 0.0)) else rows)
        .toDF("src", "dst", "age")
        .orderBy(col("src"), col("dst"))
    }, edgesOracle),
    // Cluster assignment of every embedding under the final model.
    // Oracled (dump-time): DuckDB re-derives the arg-min over the
    // INLINED trained centroids with the same left-assoc distance sum
    // and low-index tie-break; SQL round() on both sides.
    QueryDef("gng_assignments", (s, d) => {
      val m = trained(s, d)
      import s.implicits._
      val pts = GStream.toPoints(Tables.embeddings(s, d), "embedding", "label", "vec_id")
      val bc = s.sparkContext.broadcast(m.centroids)
      pts.map { p =>
        val (b1, _, d1) = graft.operators.GngOps.twoNearest(p.features, bc.value)
        (p.id, b1, math.sqrt(d1))
      }.toDF("vec_id", "cluster", "dist")
        .select(col("vec_id"), col("cluster"), round(col("dist"), 4).as("dist"))
        .orderBy(col("vec_id"))
    }, assignmentsOracle),
    // The BASELINE.md metric, measured directly: reference-shaped
    // micro-batches (200 2-D points per batch, 92 batches — the DS1-200
    // run) through the full assign+aggregate+update path. BASELINE
    // target: mean ≤ ~120 ms/batch (2× the reference's 58 ms).
    // Two measurements side by side:
    //  - chunked: fitChunked wall-clock / 92 (everything, incl. setup);
    //  - streaming: trainStreaming over 92 arriving CSV files, per-batch
    //    update ms from the foreachBatch telemetry — the same
    //    update-path-only quantity the reference's timeUpdates goldens
    //    record (batchStream.scala:88,92), so it's the apples-to-apples
    //    number against the 58 ms baseline, including trigger/commit
    //    machinery around it.
    rowsOnly("gng_throughput") { (s, d) =>
      import s.implicits._
      val n = 92 * 200
      // deterministic 2-D two-cluster stream, DS1-like scatter
      val local = (0L until n).map { i =>
        val c = if (i % 2 == 0) (120.0, 200.0) else (240.0, 430.0)
        graft.model.Point(Array(
          c._1 + 15 * math.sin(i * 0.37), c._2 + 15 * math.cos(i * 0.73)),
          (i % 2).toInt, i)
      }
      val pts = s.createDataset(local)
      val t0 = System.nanoTime()
      val model = GStream.fitChunked(pts, GngParams(), nChunks = 92)
      val chunkedTotalMs = (System.nanoTime() - t0) / 1e6

      // streaming variant: the same points as 92 files arriving in order.
      // tmpfs when available: the stream source stats every file each
      // trigger, so a contended disk would bill its latency to the
      // throughput number
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "gng-stream-bench")
      try {
        for (b <- 0 until 92) {
          // Locale.ROOT: f"%.10f" under a comma-decimal locale would
          // render '120,0000000000', null out the comma-split parse,
          // and train the bench on garbage.
          val lines = local.filter(_.id % 92 == b).map(p =>
            String.format(java.util.Locale.ROOT, "%.10f,%.10f,%d,%d",
              Double.box(p.features(0)), Double.box(p.features(1)),
              Int.box(p.label), Long.box(p.id)))
          java.nio.file.Files.write(dir.resolve(f"batch-$b%03d.csv"),
            lines.mkString("\n").getBytes)
        }
        val byId = local.sortBy(_.id)
        val sModel = new graft.model.GngModel(GngParams(), 2)
          .init2Nodes(byId(0), byId(1))
        var streamBatches = 0
        var streamUpdMs = 0L
        // tmpfs checkpoint: this is a throughput MEASUREMENT — without
        // it the WAL fsyncs per batch to java.io.tmpdir and the number
        // measures the host's disk contention, not the update path
        val ckpt = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamingRelational.scratchBase, "gng-bench-ckpt")
        val q = GStream.trainStreaming(s, dir.toString, sModel,
          triggerMs = 1L,
          onBatch = (_, ms) => { streamBatches += 1; streamUpdMs += ms },
          checkpointLocation = Some(ckpt.toString))
        try { q.processAllAvailable() } finally {
          q.stop()
          graft.streaming.StreamingRelational.deleteRecursively(ckpt)
        }
        Seq((92, 200,
          math.round(chunkedTotalMs / 92.0 * 10) / 10.0,
          math.round(n / (chunkedTotalMs / 1000.0)), model.nodeCount,
          streamBatches,
          math.round(streamUpdMs.toDouble / math.max(streamBatches, 1) * 10) / 10.0,
          sModel.nodeCount))
          .toDF("batches", "points_per_batch", "mean_ms_per_batch",
            "points_per_sec", "final_nodes",
            "stream_batches", "stream_mean_update_ms", "stream_final_nodes")
      } finally graft.streaming.StreamingRelational.deleteRecursively(dir)
    },

    // The model at its documented scale ceiling: SURVEY §7.4.8 names
    // the O(N²) edge/age matrices as the real cap, so this measures the
    // full per-batch update path (distributed assign+aggregate +
    // driver graph surgery) with ~10³ prototypes at 64-d —
    // sf0.1-embeddings-sized batches (2000 points). Growth phase:
    // driver-local micro-batches with growth every batch (10 nodes per
    // step) until the 1000-node cap; then 2 warm-up + 10 measured
    // distributed batches with the standard fade/grow cadences active,
    // i.e. the dynamics a long-running stream has AT the cap. The row
    // also carries the N² matrix footprint (est_matrix_mb ≈ 16 MB at
    // N=1000) — the "driver-memory surprise" check: the measurement
    // completing in-heap with that footprint is the point.
    rowsOnly("gng_scale") { (s, d) =>
      import s.implicits._
      val dim = 64
      val cap = 1000
      val params = GngParams(growEvery = 1, nbNodesToAdd = 10, maxNodes = cap)
      // deterministic 64-d manifold: 250 trig "clusters" + per-point
      // jitter, so the thousand prototypes spread over real structure
      def mkPoint(i: Long): graft.model.Point = {
        val c = (i % 250).toInt
        val f = Array.tabulate(dim) { j =>
          10.0 * math.sin(0.37 * c * (j + 1) + 0.11 * j) +
            0.1 * math.sin(0.013 * i.toDouble * (j + 1))
        }
        graft.model.Point(f, c, i)
      }
      val model = new graft.model.GngModel(params, dim)
        .init2Nodes(mkPoint(0), mkPoint(1))
      var kk = 0
      val growBatch = 256
      // +10 nodes/batch, −1 per fade step: the cap is reached in ~110
      // batches; the bound is a safety net, not the expected exit
      while (model.nodeCount <= cap && kk < 200) {
        kk += 1
        val pts = Array.tabulate(growBatch)(x => mkPoint(kk.toLong * growBatch + x))
        val stats = graft.operators.GngOps.assignAggregateLocal(pts, model.centroids, model.seedWatch)
        if (stats.nonEmpty) model.update(stats, kk)
      }
      val growBatches = kk
      val batchPts = 2000 // sf0.1 embeddings row count
      val meas = 10
      val perBatch = new Array[Double](meas)
      val updPart = new Array[Double](meas) // driver graph surgery alone
      for (b <- 0 - 2 until meas) { // 2 uncounted warm-up batches
        kk += 1
        val local = Array.tabulate(batchPts)(x =>
          mkPoint(1000000L + (b.toLong + 2) * batchPts + x))
        val ds = s.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(local))
        val t0 = System.nanoTime()
        val stats = graft.operators.GngOps.assignAggregate(ds, model.centroids, model.seedWatch)
        val t1 = System.nanoTime()
        if (stats.nonEmpty) model.update(stats, kk)
        if (b >= 0) {
          perBatch(b) = (System.nanoTime() - t0) / 1e6
          updPart(b) = (System.nanoTime() - t1) / 1e6
        }
      }
      val meanMs = perBatch.sum / meas
      val n = model.nodeCount
      Seq((n, dim, growBatches, batchPts, meas,
        math.round(meanMs * 10) / 10.0,
        math.round(perBatch.min * 10) / 10.0,
        math.round(updPart.sum / meas * 10) / 10.0,
        math.round(batchPts / (meanMs / 1000.0)),
        math.round(2.0 * n * n * 8 / 1e6 * 10) / 10.0))
        .toDF("final_nodes", "dim", "grow_batches", "points_per_batch",
          "meas_batches", "mean_ms_per_batch", "min_ms_per_batch",
          "mean_update_ms", "points_per_sec", "est_matrix_mb")
    },

    // Clustering quality vs the ground-truth labels the reference keeps
    // "for evaluation" (pointObj.scala:13, SURVEY §1.1): per-cluster
    // majority-label purity — the distributable evaluation the papers
    // report NMI/Rand for. Oracled (dump-time, inlined centroids).
    QueryDef("gng_purity", (s, d) => {
      val m = trained(s, d)
      import s.implicits._
      val pts = GStream.toPoints(Tables.embeddings(s, d), "embedding", "label", "vec_id")
      val bc = s.sparkContext.broadcast(m.centroids)
      val assigned = pts.map { p =>
        (graft.operators.GngOps.twoNearest(p.features, bc.value)._1, p.label)
      }.toDF("cluster", "label")
      val perCluster = assigned.groupBy(col("cluster"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("cluster"))
        .agg(max(col("n")).as("majority"), sum(col("n")).as("total"))
      perCluster.agg(
          round(sum(col("majority")).cast("double") / sum(col("total")), 4).as("purity"),
          count(lit(1)).as("n_clusters"))
    }, purityOracle),

    // KEYED multi-model clustering: one independent GNG per tenant key
    // (label % 3), trained IN PARALLEL across executors via
    // groupByKey+mapGroups — each key's model provably identical to a
    // single-model run on its partition (GStreamKeyedSpec), none of it
    // on the driver. Every vector is assigned under ITS OWN tenant's
    // model. Oracled at dump time: all three models' centroids inline,
    // with the per-key restriction in the distance arms — so the
    // hash-match verifies that sharding by key changed nothing about
    // any tenant's assignment semantics.
    QueryDef("gng_keyed_assignments", (s, d) => {
      val models = trainedKeyed(s, d)
      import s.implicits._
      val pts = graft.streaming.GStreamKeyed.toKeyedPoints(
        Tables.embeddings(s, d).withColumn("key", col("label") % 3),
        "key", "embedding", "label", "vec_id")
      val bc = s.sparkContext.broadcast(models.map { case (k, m) => k -> m.centroids })
      pts.map { p =>
        val (b1, _, d1) = graft.operators.GngOps.twoNearest(p.features, bc.value(p.key))
        (p.id, p.key, b1, math.sqrt(d1))
      }.toDF("vec_id", "key", "cluster", "dist")
        .select(col("vec_id"), col("key"), col("cluster"), round(col("dist"), 4).as("dist"))
        .orderBy(col("vec_id"))
    }, keyedAssignmentsOracle),

    // Quantization error — the INTERNAL clustering metric beside
    // gng_purity's external one: mean squared distance of every vector
    // to its BMU (twoNearest's d1, the same left-assoc accumulation the
    // inlined distSql oracle replays). +1e-9 nudge before the 4-dp
    // round on both sides (partial-avg vs sequential-avg summation
    // order differs at ~1e-13).
    QueryDef("gng_qerror", (s, d) => {
      val m = trained(s, d)
      import s.implicits._
      val pts = GStream.toPoints(Tables.embeddings(s, d), "embedding", "label", "vec_id")
      val bc = s.sparkContext.broadcast(m.centroids)
      pts.map(p => graft.operators.GngOps.twoNearest(p.features, bc.value)._3)
        .toDF("dsq")
        .agg(
          round(avg(col("dsq")) + 1e-9, 4).as("mean_sq_dist"),
          round(sqrt(avg(col("dsq"))) + 1e-9, 4).as("rms_dist"),
          count(lit(1)).as("n_points"))
    }, qerrorOracle),

    // The reference paper's PUBLISHED quality metrics (BASELINE.md:
    // NMI and Rand index), which gng_purity approximates: mutual
    // information, entropies, and all pair counts derive from ONE
    // (cluster, label) contingency aggregation — the only corpus-sized
    // job; every later stage folds its dimension-sized rows
    // (clusters × labels) through broadcast joins. NMI uses the
    // arithmetic-mean normalization I / ((H_C + H_L) / 2); Rand and
    // ADJUSTED Rand come from the pair-count identities over the same
    // table (all pair counts are exact integers in doubles, so RI/ARI
    // are bit-exact; only NMI's ln-sums need the 1e-9 nudge). Oracle:
    // dump-time inlined centroids re-deriving every stage in DuckDB.
    QueryDef("gng_nmi", (s, d) => {
      val m = trained(s, d)
      import s.implicits._
      val pts = GStream.toPoints(Tables.embeddings(s, d), "embedding", "label", "vec_id")
      val bc = s.sparkContext.broadcast(m.centroids)
      val assigned = pts
        .map(p => (graft.operators.GngOps.twoNearest(p.features, bc.value)._1, p.label))
        .toDF("cluster", "label")
      // the contingency table: materialized once (dimension-sized);
      // marginals, MI, and entropies all re-read these blocks
      val pc = assigned.groupBy(col("cluster"), col("label"))
        .agg(count(lit(1)).cast("double").as("n"))
        .localCheckpoint(true)
      val ca = pc.groupBy(col("cluster")).agg(sum(col("n")).as("a"))
      val cb = pc.groupBy(col("label")).agg(sum(col("n")).as("b"))
      val tot = pc.agg(sum(col("n")).as("nn"))
      val mi = pc.join(broadcast(ca), "cluster").join(broadcast(cb), "label")
        .crossJoin(broadcast(tot))
        .agg(
          sum((col("n") / col("nn")) * log(col("n") * col("nn") / (col("a") * col("b")))).as("i"),
          sum(col("n") * (col("n") - 1) / 2.0).as("scl"))
      val hc = ca.crossJoin(broadcast(tot))
        .agg(
          (-sum((col("a") / col("nn")) * log(col("a") / col("nn")))).as("hc"),
          sum(col("a") * (col("a") - 1) / 2.0).as("sa"),
          count(lit(1)).as("n_clusters"))
      val hl = cb.crossJoin(broadcast(tot))
        .agg(
          (-sum((col("b") / col("nn")) * log(col("b") / col("nn")))).as("hl"),
          sum(col("b") * (col("b") - 1) / 2.0).as("sb"),
          count(lit(1)).as("n_labels"))
      val t = col("nn") * (col("nn") - 1) / 2.0 // total pair count
      // degenerate guards (prCurve's tot=0 precedent, mirrored in the
      // oracle): one cluster AND one label drive both denominators to
      // 0 → define NMI/ARI as 0.0 rather than emit NaN/Inf
      val ariDen = (col("sa") + col("sb")) / 2.0 - col("sa") * col("sb") / t
      mi.crossJoin(broadcast(hc)).crossJoin(broadcast(hl)).crossJoin(broadcast(tot))
        .select(
          when(col("hc") + col("hl") === 0.0, 0.0)
            .otherwise(round(col("i") / ((col("hc") + col("hl")) / 2.0) + 1e-9, 4)).as("nmi"),
          round(lit(1.0) + (lit(2.0) * col("scl") - col("sa") - col("sb")) / t + 1e-9, 4)
            .as("rand_index"),
          when(ariDen === 0.0, 0.0)
            .otherwise(round((col("scl") - col("sa") * col("sb") / t) / ariDen + 1e-9, 4)).as("ari"),
          col("n_clusters"), col("n_labels"), col("nn").cast("long").as("n_points"))
    }, nmiOracle),

    // LIVE IVF over the EVOLVING model — the incremental philosophy
    // applied to the engine's own flagship: the G-Stream prototype
    // table (v06's coarse quantizer, static there) feeds a stored
    // vector index that follows training snapshot by snapshot. Each
    // advance is ONE narrow map over the index with the prototype DIFF
    // as broadcast constants: only vectors whose own prototype moved
    // or died pay a full argmin; everything else steal-checks against
    // the changed prototypes only (LiveIvf's exactness argument —
    // tie-breaks survive because survivor order is preserved and
    // births append). Output: every snapshot's full assignment table;
    // the oracle re-derives EACH snapshot by full re-assignment from
    // dump-time-inlined centroids, so a hash match proves incremental
    // == full at every mark.
    QueryDef("gng_stream_clusters", (s, d) => {
      import graft.operators.LiveIvf
      val snaps = trainedSnapshots(s, d)
      import s.implicits._
      val pts = GStream.toPoints(Tables.embeddings(s, d), "embedding", "label", "vec_id")
      def render(kk: Int, snap: LiveIvf.Snapshot,
          idx: org.apache.spark.sql.Dataset[LiveIvf.Cell]) = {
        val pos = snap.iterator.zipWithIndex.map { case ((id, _), i) => id -> i }.toMap
        val bc = s.sparkContext.broadcast(pos)
        idx.map(c => (kk, c.vec_id, bc.value(c.node_id), math.sqrt(c.dsq)))
          .toDF("snap", "vec_id", "cluster", "dist")
          .select(col("snap"), col("vec_id"), col("cluster"),
            round(col("dist"), 4).as("dist"))
      }
      var index = LiveIvf.assignFull(pts, snaps.head._2).localCheckpoint(true)
      val out = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      out += render(snaps.head._1, snaps.head._2, index)
      for (w <- snaps.sliding(2) if w.size == 2) {
        val Seq((_, prevS), (kkN, nextS)) = w
        index = LiveIvf.advance(index, prevS, nextS).localCheckpoint(true)
        out += render(kkN, nextS, index)
      }
      out.result().reduce(_ unionByName _)
        .orderBy(col("snap"), col("vec_id"))
    }, streamClustersOracle)
  )

  /** gng_stream_clusters' oracle (dump-time): FULL re-assignment at
    * every snapshot from its inlined centroids — each mark is one
    * nearestCtes leg (the gng_assignments shape) nested as a
    * parenthesized WITH subquery (the v20/v27 composition pattern),
    * UNION ALL'd across marks. */
  private def streamClustersOracle: Option[String] =
    soleSnapshots.map { snaps =>
      val legs = snaps.map { case (kk, snap) =>
        s"""SELECT * FROM (WITH ${nearestCtes(snap.map(_._2))}
           |SELECT $kk AS snap, vec_id, cluster, round(sqrt(dsq), 4) AS dist FROM win) s$kk""".stripMargin
      }
      legs.mkString("SELECT snap, vec_id, cluster, dist FROM (",
        "\nUNION ALL\n", ") u ORDER BY snap, vec_id")
    }

  /** gng_nmi's oracle (dump-time, inlined centroids): the identical
    * contingency → marginals → MI/entropy/pair-count stages, with the
    * formulas written in the same association order so the only
    * cross-engine difference is ln-sum accumulation order (~1e-13,
    * absorbed by the 1e-9 nudge; the pair-count ratios are exact). */
  private def nmiOracle: Option[String] =
    soleTrainedCentroids.map { cs =>
      s"""WITH ${nearestCtes(cs)},
         |asg AS (SELECT w.cluster, emb.label FROM win w JOIN embeddings emb USING (vec_id)),
         |pc AS (SELECT cluster, label, CAST(count(*) AS DOUBLE) AS n FROM asg GROUP BY cluster, label),
         |ca AS (SELECT cluster, sum(n) AS a FROM pc GROUP BY cluster),
         |cb AS (SELECT label, sum(n) AS b FROM pc GROUP BY label),
         |tot AS (SELECT sum(n) AS nn FROM pc),
         |mi AS (SELECT sum((n / nn) * ln(n * nn / (a * b))) AS i,
         |              sum(n * (n - 1) / 2.0) AS scl
         |       FROM pc JOIN ca USING (cluster) JOIN cb USING (label), tot),
         |hc AS (SELECT -sum((a / nn) * ln(a / nn)) AS hc, sum(a * (a - 1) / 2.0) AS sa,
         |              CAST(count(*) AS BIGINT) AS n_clusters FROM ca, tot),
         |hl AS (SELECT -sum((b / nn) * ln(b / nn)) AS hl, sum(b * (b - 1) / 2.0) AS sb,
         |              CAST(count(*) AS BIGINT) AS n_labels FROM cb, tot)
         |SELECT CASE WHEN hc.hc + hl.hl = 0.0 THEN 0.0
         |    ELSE round(i / ((hc.hc + hl.hl) / 2.0) + 1e-9, 4) END AS nmi,
         |  round(1.0 + (2.0 * scl - sa - sb) / (nn * (nn - 1) / 2.0) + 1e-9, 4) AS rand_index,
         |  CASE WHEN (sa + sb) / 2.0 - sa * sb / (nn * (nn - 1) / 2.0) = 0.0 THEN 0.0
         |    ELSE round((scl - sa * sb / (nn * (nn - 1) / 2.0)) /
         |        ((sa + sb) / 2.0 - sa * sb / (nn * (nn - 1) / 2.0)) + 1e-9, 4) END AS ari,
         |  n_clusters, n_labels, CAST(nn AS BIGINT) AS n_points
         |FROM mi, hc, hl, tot""".stripMargin
    }

  private def qerrorOracle: Option[String] =
    soleTrainedCentroids.map { cs =>
      s"""WITH ${nearestCtes(cs)}
         |SELECT round(avg(dsq) + 1e-9, 4) AS mean_sq_dist,
         |  round(sqrt(avg(dsq)) + 1e-9, 4) AS rms_dist,
         |  count(*) AS n_points FROM win""".stripMargin
    }

  /** gng_keyed_assignments oracle (dump-time): EVERY key's trained
    * centroids inline, and each vector ranks only against ITS key's
    * model — the same left-assoc distance chains and low-index
    * tie-break as [[assignmentsOracle]], with the per-key restriction
    * in the distance arms' WHERE. */
  private def keyedAssignmentsOracle: Option[String] =
    soleTrainedKeyed.map { models =>
      val arms = models.toSeq.sortBy(_._1).flatMap { case (key, m) =>
        m.centroids.zipWithIndex.map { case (c, i) =>
          s"SELECT vec_id, key, $i AS cluster, ${distSql("v", c)} AS dsq FROM e WHERE key = $key"
        }
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(label % 3 AS BIGINT) AS key,
         |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS ($arms),
         |win AS (SELECT vec_id, key, cluster, dsq FROM (
         |  SELECT vec_id, key, cluster, dsq,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cluster) AS rk FROM d)
         |  WHERE rk = 1)
         |SELECT vec_id, key, cluster, round(sqrt(dsq), 4) AS dist
         |FROM win ORDER BY vec_id""".stripMargin
    }
}
