package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{GngModel, GngParams, Point}
import graft.operators.GngOps

/** G-Stream: micro-batching Growing Neural Gas over Spark.
  *
  * Batch and streaming entry points share one update path:
  * distributed assign+aggregate ([[GngOps.assignAggregate]]) feeding the
  * driver-side graph update ([[GngModel.update]]) — the Structured
  * Streaming re-expression of the reference's DStream `foreachRDD` loop
  * (batchStream.scala:82-118; SURVEY §2.9 T1/T2).
  */
object GStream {

  /** Project a dense-row DataFrame (features array, label, id) into
    * `Dataset[Point]` — the reference's `pointToObjet` projection
    * (batchStreamModel.scala:46-51). */
  def toPoints(df: DataFrame, featuresCol: String, labelCol: String, idCol: String): Dataset[Point] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col(featuresCol).cast("array<double>").as("features"),
        col(labelCol).cast("int").as("label"),
        col(idCol).cast("long").as("id"))
      .as[Point]
  }

  /** Parse the reference's CSV shape — doubles with the last two columns
    * label and id (batchStreamRun.scala:37-45, labId=2) — into Points.
    * Same projection (and malformed-line tolerance) as
    * [[parseCsvPoints]]; kept as the batch-flavored name. */
  def csvToPoints(df: DataFrame, separator: String = ","): Dataset[Point] =
    parseCsvPoints(df, separator)

  /** Bootstrap a model from the first two points (by ascending id) —
    * the reference's `initModelObj` (batchStream.scala:72-78). */
  def bootstrap(points: Dataset[Point], params: GngParams): GngModel = {
    val first2 = points.orderBy(col("id")).limit(2).collect()
    require(first2.length == 2, "need at least 2 points to bootstrap")
    val dim = first2(0).features.length
    new GngModel(params, dim).init2Nodes(first2(0), first2(1))
  }

  /** Inputs at or below this many rows take the driver-local update path
    * (no per-batch Spark job). The GNG stats step is O(rows × nodes ×
    * dim) driver work — trivially cheap at this size — while a Spark job
    * costs fixed scheduling per micro-batch (the round-2 measured
    * bottleneck: 92 jobs ≈ 100+ ms each of pure overhead). Above the
    * threshold the distributed path is identical in semantics
    * (GngOpsSpec proves the two paths equal). */
  val localPathMaxRows: Int = 100000

  /** Companion BYTE bound for probes that ship row data: the streaming
    * fast-path probe collects up to this many CELLS (rows × dim), so the
    * driver never holds more than ~16 MB of probed points regardless of
    * embedding width (100k 64-d points would be ~50 MB under a
    * rows-only cap). */
  val localPathMaxCells: Long = 2L * 1000 * 1000

  /** Deterministic batch-mode training: chunk `points` into `nChunks`
    * micro-batches by `id % nChunks` and run the full update per chunk.
    * Faithful to the streaming loop (kk = 1-based non-empty batch
    * counter) but reproducible — used by tests, Verify and Bench. */
  def fitChunked(points: Dataset[Point], params: GngParams, nChunks: Int): GngModel =
    fitChunkedHooked(points, params, nChunks, (_, _) => ())

  /** [[fitChunked]] with a per-batch hook fired AFTER each non-empty
    * chunk's model update (kk is the 1-based non-empty batch counter) —
    * the snapshot tap gng_stream_clusters uses to capture the evolving
    * prototype table at a cadence. The hook must copy what it keeps;
    * the model keeps evolving. */
  private[graft] def fitChunkedHooked(points: Dataset[Point], params: GngParams,
      nChunks: Int, onBatch: (Int, GngModel) => Unit): GngModel = {
    // Probe: if the whole input fits on the driver, run the entire chunk
    // loop locally — one collect job total instead of one job per chunk.
    // The probe itself ships NO row data: it counts a zero-column
    // projection under the limit (column pruning reaches the scan), so
    // a genuinely large input costs a bounded row-count scan — never up
    // to localPathMaxRows full Points (~50 MB at 64-d) of driver heap —
    // and only a confirmed-small input pays the actual collect.
    val n = points.select(lit(1)).limit(localPathMaxRows + 1).count()
    if (n <= localPathMaxRows)
      return fitChunkedLocalHooked(points.collect(), params, nChunks, onBatch)
    // One parquet read for the whole loop: each of the nChunks passes
    // filters the cached points instead of re-scanning the source.
    val cached = points.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val model = bootstrap(cached, params)
      var kk = 0
      for (c <- 0 until nChunks) {
        val chunk = cached.filter(col("id") % nChunks === c)
        val stats = GngOps.assignAggregate(chunk, model.centroids, model.seedWatch)
        if (stats.nonEmpty) { // P4 empty-batch guard (batchStream.scala:87)
          kk += 1
          model.update(stats, kk)
          onBatch(kk, model)
        }
      }
      model
    } finally cached.unpersist(blocking = false)
  }

  /** Driver-local twin of [[fitChunked]]: same bootstrap (first two
    * points by ascending id), same `id % nChunks` chunking, same update
    * loop, but via [[GngOps.assignAggregateLocal]] — zero Spark jobs. */
  def fitChunkedLocal(points: Array[Point], params: GngParams, nChunks: Int): GngModel =
    fitChunkedLocalHooked(points, params, nChunks, (_, _) => ())

  private[graft] def fitChunkedLocalHooked(points: Array[Point], params: GngParams,
      nChunks: Int, onBatch: (Int, GngModel) => Unit): GngModel = {
    require(points.length >= 2, "need at least 2 points to bootstrap")
    val byId = points.sortBy(_.id)
    val model = new GngModel(params, byId(0).features.length)
      .init2Nodes(byId(0), byId(1))
    var kk = 0
    for (c <- 0 until nChunks) {
      // plain `%` (not floorMod) — same remainder semantics as the
      // distributed path's `col("id") % nChunks`
      val chunk = points.filter(p => p.id % nChunks == c)
      val stats = GngOps.assignAggregateLocal(chunk, model.centroids, model.seedWatch)
      if (stats.nonEmpty) {
        kk += 1
        model.update(stats, kk)
        onBatch(kk, model)
      }
    }
    model
  }

  /** Reference snapshot cadence (batchStream.scala:95): checkpoint at
    * kk ∈ {1} ∪ {⌊i·nbWind/9⌋ : i = 1..8} ∪
    * {kk > ⌊8·nbWind/9⌋+10 ∧ kk ≡ 0 (mod 10)} ∪ {kk ≥ nbWind−2}.
    * The reference's `kk == i*nbWind/9` is left-associative integer
    * division — floor of the PRODUCT, not i times ⌊nbWind/9⌋; the two
    * coincide for nbWind ≡ 0,1 (mod 9) (e.g. the nbWind = 91 golden,
    * marks {1,10,20,…,80,89,90,91,92}) but diverge otherwise (nbWind =
    * 92 → marks 51/61/71/81, not 50/60/70/80). */
  def referenceCadence(nbWind: Int)(kk: Int): Boolean =
    kk == 1 ||
      (1 to 8).exists(i => kk == i * nbWind / 9) ||
      (kk > 8 * nbWind / 9 + 10 && kk % 10 == 0) ||
      kk >= nbWind - 2

  /** The reference's CSV point projection (`x1,…,xd,label,id` —
    * pointObj.scala parse shape) over ANY text-valued stream or batch
    * DataFrame: the same expressions serve the file source
    * ([[trainStreaming]]), the socket source (the reference's disabled
    * `socketTextStream` path, batchStreamRun.scala:42 — SURVEY §2.1
    * S3), or a Kafka value column. */
  def parseCsvPoints(raw: DataFrame, separator: String = ",",
      expectedDim: Int = -1): Dataset[Point] = {
    import raw.sparkSession.implicits._
    val sepRe = java.util.regex.Pattern.quote(separator)
    // try_cast + arity/null guards: a malformed line (non-numeric field,
    // or the wrong number of fields) is DROPPED, never fatal — under
    // ANSI mode a plain cast would throw and kill the whole streaming
    // query on one poison line, and a short line would otherwise
    // project a nonsense Point (empty features, its label/id read from
    // the wrong slots). When the caller knows the stream's
    // dimensionality (trainStreaming does: model.dim), the arity check
    // is EXACT — an all-numeric line of the wrong width would otherwise
    // build a wrong-dimension Point and crash the distance loop
    // downstream, the same one-poison-line fatality in a new costume.
    val arityOk =
      if (expectedDim > 0) size(col("arr")) === expectedDim + 2
      else size(col("arr")) >= 3
    raw
      .select(split(col("value"), sepRe).as("parts"))
      .select(expr("transform(parts, t -> try_cast(t AS DOUBLE))").as("arr"))
      .filter(arityOk && forall(col("arr"), x => x.isNotNull))
      .select(
        expr("slice(arr, 1, size(arr) - 2)").as("features"),
        element_at(col("arr"), -2).cast("int").as("label"),
        element_at(col("arr"), -1).cast("long").as("id"))
      .as[Point]
  }

  /** Streaming training: file-source text stream of the reference's CSV
    * shape → foreachBatch update → optional snapshots.
    * Mirrors batchStreamRun wiring: 100 ms trigger, snapshot dirs
    * `Prototypes-kk`/`Edges-kk`/`Weights-kk` under `outDir`. */
  def trainStreaming(
      spark: SparkSession,
      inputDir: String,
      model: GngModel,
      separator: String = ",",
      outDir: Option[String] = None,
      snapshotEvery: Int = 10,
      triggerMs: Long = 100L,
      modelCheckpoint: Option[String] = None,
      excludeFiles: Seq[String] = Nil,
      snapshotAt: Option[Int => Boolean] = None,
      onBatch: (Int, Long) => Unit = (_, _) => (),
      checkpointLocation: Option[String] = None,
      startKk: Int = 0): StreamingQuery = {
    import spark.implicits._
    // excludeFiles keeps bootstrap/seed files out of the stream (the
    // reference's textFileStream only saw files created after start —
    // batchStreamRun.scala:40; the structured file source reads
    // pre-existing files too, so the seed is excluded by name).
    // Matches are anchored at the path separator so excluding
    // "nodes2.txt" does not also drop e.g. "my-nodes2.txt".
    var raw = spark.readStream.option("maxFilesPerTrigger", 1).text(inputDir)
    if (excludeFiles.nonEmpty) {
      val fn = input_file_name()
      raw = raw.filter(!excludeFiles.map(e => fn.endsWith("/" + e)).reduce(_ || _))
    }
    val pts = parseCsvPoints(raw, separator, expectedDim = model.dim)

    // startKk: a restart resuming from [[GngModel.loadState]] continues
    // the 1-based non-empty batch counter where the killed run left it —
    // fading (kk % 3) and the snapshot cadence stay aligned with a
    // never-killed run (GStreamRestartSpec proves bit-identical ends).
    var kk = startKk
    // cumulative per-batch update milliseconds, ring-buffered at 100
    // entries — the reference's timeUpdates telemetry, its ONLY
    // published baseline numbers (batchStream.scala:84,88,92-93;
    // golden conf/test/results/DS1-200-3/timeUpdates-92)
    val timeUpdates = scala.collection.mutable.ArrayBuffer[Long](0L)
    val doSnapshot: Int => Boolean =
      snapshotAt.getOrElse(k => k == 1 || k % snapshotEvery == 0)
    // Spark's streaming WAL (offsets + commits) fsyncs per micro-batch;
    // with no explicit checkpointLocation it lands in java.io.tmpdir,
    // and on a contended disk those fsyncs dominate small-batch
    // training (measured: 92-batch runs inflating 3x under host I/O
    // load). Callers that need restartability pass a durable dir;
    // harnesses pass tmpfs scratch.
    val base = pts.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
    checkpointLocation.foreach(c => base.option("checkpointLocation", c))
    base
      .foreachBatch { (batch: Dataset[Point], _: Long) =>
        val t0 = System.currentTimeMillis()
        // small batches (the common micro-batch case) collect + update
        // locally — no Spark job beyond the probe; the limit-probe IS
        // the whole batch when it comes back under the threshold. The
        // cap is dimension-aware (localPathMaxCells) so the one-job
        // probe ships a bounded number of BYTES, not just rows — a
        // wide-embedding stream can't balloon the driver heap.
        val cap = math.min(localPathMaxRows.toLong,
          localPathMaxCells / math.max(model.dim, 1)).toInt
        val probe = batch.limit(cap + 1).collect()
        val stats =
          if (probe.length <= cap) GngOps.assignAggregateLocal(probe, model.centroids, model.seedWatch)
          else GngOps.assignAggregate(batch, model.centroids, model.seedWatch)
        if (stats.nonEmpty) {
          kk += 1
          model.update(stats, kk)
          val updateMs = System.currentTimeMillis() - t0
          timeUpdates += timeUpdates.last + updateMs
          if (timeUpdates.length > 100) timeUpdates.remove(0)
          onBatch(kk, updateMs) // per-batch telemetry (bench/monitoring)
          outDir.foreach { dir =>
            if (doSnapshot(kk)) writeSnapshots(spark, dir, model, kk, timeUpdates.toSeq)
          }
          // §7.4.7: model recovery point per completed batch (write tmp,
          // atomic move, so a crash never leaves a torn checkpoint).
          // The payload is (kk, model) in one file — GngModel.loadState —
          // so a restart resumes the batch counter too, not just the
          // prototype state. Its size depends on the model, not on how
          // long the stream has run (GngModel.toBytes).
          modelCheckpoint.foreach { dir =>
            val d = java.nio.file.Paths.get(dir)
            java.nio.file.Files.createDirectories(d)
            val tmp = d.resolve(s"model-$kk.bin.tmp")
            GngModel.saveState(tmp, model, kk)
            java.nio.file.Files.move(tmp, d.resolve("model-latest.bin"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }
      }
      .start()
  }

  /** Snapshot sink — reference on-disk layout (batchStream.scala:97-101):
    * one directory per structure per checkpoint, timeUpdates last
    * (cumulative per-batch update ms — the reference's telemetry
    * family and the golden baseline's only published numbers).
    *
    * Each structure is a few KB held on the driver, so the driver writes
    * it through the Hadoop `FileSystem` of `dir` (any scheme) with no
    * Spark job: `part-00000` (UTF-8 lines, each ending in `\n`; an empty
    * structure is one empty line) and an empty `_SUCCESS` go into
    * `_tmp-<name>-kk`, which is then renamed over `<name>-kk`. The bytes
    * equal Spark's text writer's, and the `_`-prefixed temp is invisible
    * to Spark readers; a temp left by a crash is cleared by the next
    * call. */
  def writeSnapshots(spark: SparkSession, dir: String, model: GngModel, kk: Int,
      timeUpdates: Seq[Long] = Nil): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(root, "_tmp-*")))
      .foreach(_.foreach(st => fs.delete(st.getPath, true)))
    def write(lines: Seq[String], name: String): Unit = {
      val tmp = new Path(root, s"_tmp-$name-$kk")
      val out = fs.create(new Path(tmp, "part-00000"))
      try (if (lines.isEmpty) Seq("") else lines)
        .foreach(l => out.write((l + "\n").getBytes(StandardCharsets.UTF_8)))
      finally out.close()
      fs.create(new Path(tmp, "_SUCCESS")).close()
      val target = new Path(root, s"$name-$kk")
      fs.delete(target, true)
      require(fs.rename(tmp, target), s"snapshot: rename $tmp -> $target failed")
    }
    write(model.prototypeLines, "Prototypes")
    write(model.outdatedLines, "OutdatedProtos")
    write(model.edgeLines, "Edges")
    write(model.weightLines, "Weights")
    write(timeUpdates.map(_.toString), "timeUpdates")
  }
}
