package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{GngModel, GngParams, NodeStats, Point}
import graft.operators.{EpochState, GngOps}

/** G-Stream: micro-batching Growing Neural Gas over Spark.
  *
  * Batch and streaming entry points share one training step: assign+
  * aggregate feeding the guarded driver-side graph update
  * ([[GngModel.step]]), from a model built by [[GngModel.bootstrap]] —
  * the Structured Streaming re-expression of the reference's DStream
  * `foreachRDD` loop (batchStream.scala:82-118; SURVEY §2.9 T1/T2).
  * A streamed batch runs exactly one Spark job,
  * [[GngOps.assignAggregate]]; a fit whose input fits on the driver
  * runs its driver-local twin.
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

  /** Bootstrap a model from the first two points (by ascending id) —
    * [[GngModel.bootstrap]]'s rule, with the top-2 taken by Spark. */
  def bootstrap(points: Dataset[Point], params: GngParams): GngModel =
    GngModel.bootstrap(points.orderBy(col("id")).limit(2).collect(), params)

  /** [[fitChunked]] inputs at or below this many rows run the whole
    * chunk loop driver-local: one collect job instead of one Spark job
    * per chunk. The GNG stats step is O(rows × nodes × dim) driver work,
    * trivially cheap at this size. Above it the distributed path is
    * identical in semantics (GngOpsSpec proves the two paths equal). */
  val localPathMaxRows: Int = 100000

  /** Deterministic batch-mode training: chunk `points` into `nChunks`
    * micro-batches by `id % nChunks` and run the full step per chunk.
    * Faithful to the streaming loop (kk = 1-based non-empty batch
    * counter) but reproducible — used by tests, Verify and Bench.
    * `onBatch(kk, model)` fires after each non-empty chunk's update (the
    * snapshot tap gng_stream_clusters uses); it must copy what it
    * keeps, since the model keeps evolving. */
  def fitChunked(points: Dataset[Point], params: GngParams, nChunks: Int,
      onBatch: (Int, GngModel) => Unit = (_, _) => ()): GngModel = {
    // Probe: if the whole input fits on the driver, run the entire chunk
    // loop locally — one collect job total instead of one job per chunk.
    // The probe itself ships NO row data: it counts a zero-column
    // projection under the limit (column pruning reaches the scan), so
    // a genuinely large input costs a bounded row-count scan — never up
    // to localPathMaxRows full Points (~50 MB at 64-d) of driver heap —
    // and only a confirmed-small input pays the actual collect.
    val n = points.select(lit(1)).limit(localPathMaxRows + 1).count()
    if (n <= localPathMaxRows)
      return fitChunkedLocal(points.collect(), params, nChunks, onBatch)
    // One parquet read for the whole loop: each of the nChunks passes
    // filters the cached points instead of re-scanning the source.
    val cached = points.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try chunkLoop(bootstrap(cached, params), nChunks, onBatch) { (c, model) =>
      GngOps.assignAggregate(cached.filter(col("id") % nChunks === c),
        model.centroids, model.seedWatch)
    } finally cached.unpersist(blocking = false)
  }

  /** Driver-local twin of [[fitChunked]]: same bootstrap (first two
    * points by ascending id), same `id % nChunks` chunking, same step
    * loop, but via [[GngOps.assignAggregateLocal]] — zero Spark jobs. */
  def fitChunkedLocal(points: Array[Point], params: GngParams, nChunks: Int,
      onBatch: (Int, GngModel) => Unit = (_, _) => ()): GngModel =
    chunkLoop(GngModel.bootstrap(points, params), nChunks, onBatch) { (c, model) =>
      // plain `%` (not floorMod) — same remainder semantics as the
      // distributed path's `col("id") % nChunks`
      GngOps.assignAggregateLocal(points.filter(p => p.id % nChunks == c),
        model.centroids, model.seedWatch)
    }

  /** The chunk loop both fits share: chunk `c`'s stats from `assign`,
    * one [[GngModel.step]], and `onBatch` after each non-empty chunk. */
  private def chunkLoop(model: GngModel, nChunks: Int, onBatch: (Int, GngModel) => Unit)(
      assign: (Int, GngModel) => Array[(Int, NodeStats)]): GngModel = {
    var kk = 0
    for (c <- 0 until nChunks) {
      val next = model.step(assign(c, model), kk)
      if (next != kk) { kk = next; onBatch(kk, model) }
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
    // A label or id that does not fit its type (NaN, 3e10 as an int) is
    // dropped too: try_cast yields NULL where cast throws.
    val arityOk =
      if (expectedDim > 0) size(col("arr")) === expectedDim + 2
      else size(col("arr")) >= 3
    // Every feature within 1e100 keeps squared distances, and the error
    // sums built from them, far from overflow: one 1e200 feature would
    // overflow every distance, make its winner's error +Infinity, and T9
    // would grow from that node at every growth step. The one comparison
    // also drops NULL (it yields NULL), NaN (Spark orders NaN above every
    // number) and ±Infinity.
    val bounded = (x: Column) => abs(x) <= 1e100
    raw
      .select(split(col("value"), sepRe).as("parts"))
      .select(expr("transform(parts, t -> try_cast(t AS DOUBLE))").as("arr"))
      .filter(arityOk)
      .select(
        expr("slice(arr, 1, size(arr) - 2)").as("features"),
        element_at(col("arr"), -2).try_cast("int").as("label"),
        element_at(col("arr"), -1).try_cast("long").as("id"))
      .filter(forall(col("features"), bounded) && col("label").isNotNull && col("id").isNotNull)
      .as[Point]
  }

  /** Streaming training: file-source text stream of the reference's CSV
    * shape → foreachBatch step → optional snapshots.
    * Mirrors batchStreamRun wiring: 100 ms trigger, snapshot dirs
    * `Prototypes-kk`/`OutdatedProtos-kk`/`Edges-kk`/`Weights-kk`/
    * `timeUpdates-kk` under `outDir` at each kk where `snapshotAt`
    * holds (default: kk = 1 and every 10th).
    *
    * `stateDir` holds the stream's durable state, in one local
    * directory (the recovery point is published through NIO): the Spark
    * checkpoint `<stateDir>/_ckpt` and the recovery point
    * `<stateDir>/model-latest.bin`, the (model, kk) pair after the last
    * non-empty batch (codec version 2, stamped with the query id and the
    * batch id). Read the trained model from it with
    * [[GngModel.loadState]]. When the recovery point exists, the stream
    * resumes from it: the stored model and kk replace `model`, which is
    * only the starting model of a dir without state (EpochState.init's
    * rule), and files the checkpoint already consumed are not trained on
    * again. A resume whose stored params differ from `model.params`, or
    * whose `_ckpt` is gone, fails at this call. A stream that did not
    * resume trains `model` in place; without `stateDir` its checkpoint
    * goes to a temp dir and nothing survives a restart. */
  def trainStreaming(
      spark: SparkSession,
      inputDir: String,
      model: GngModel,
      separator: String = ",",
      outDir: Option[String] = None,
      triggerMs: Long = 100L,
      stateDir: Option[String] = None,
      excludeFiles: Seq[String] = Nil,
      snapshotAt: Int => Boolean = k => k == 1 || k % 10 == 0,
      onBatch: (Int, Long) => Unit = (_, _) => ()): StreamingQuery = {
    import spark.implicits._
    val recoveryPoint = stateDir.map(java.nio.file.Paths.get(_, "model-latest.bin"))
    val ckpt = stateDir.map(java.nio.file.Paths.get(_, "_ckpt"))
    // Resume: the stored (model, kk, stamp), loaded once. Batch ids are
    // relative to the checkpoint, so a recovery point without its
    // checkpoint cannot tell which files the model already absorbed.
    val stored = recoveryPoint.filter(java.nio.file.Files.exists(_)).map { p =>
      require(java.nio.file.Files.isDirectory(ckpt.get),
        s"trainStreaming: $p exists but its Spark checkpoint ${ckpt.get} does not; " +
          "without it the stream cannot tell which files the model already absorbed")
      val s = GngModel.loadStamped(p)
      require(s._1.params == model.params,
        s"trainStreaming: $p was trained with ${s._1.params}, not ${model.params}")
      s
    }
    val live = stored.fold(model)(_._1)
    // the 1-based non-empty batch counter: fading (kk % 3) and the
    // snapshot cadence stay aligned with a never-killed run across a
    // restart (GStreamRestartSpec proves bit-identical ends)
    var kk = stored.fold(0)(_._2)

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
    val pts = parseCsvPoints(raw, separator, expectedDim = live.dim)

    // Exactly-once (§7.4.7): the recovery point is stamped with the
    // query id and the batch id it absorbed, and moved into place before
    // Spark writes `commits/<id>`. A batch the SAME query delivers again
    // after a crash in between is skipped (EpochState's rule); a fresh
    // checkpoint has a new query id and never skips (GStreamCrashSpec).
    var committed: Option[GngModel.Stamp] = stored.flatMap(_._3)
    // cumulative per-batch update milliseconds, ring-buffered at 100
    // entries — the reference's timeUpdates telemetry, its ONLY
    // published baseline numbers (batchStream.scala:84,88,92-93;
    // golden conf/test/results/DS1-200-3/timeUpdates-92)
    val timeUpdates = scala.collection.mutable.ArrayBuffer[Long](0L)
    def applyBatch(batch: Dataset[Point], batchId: Long, query: java.util.UUID): Unit = {
      val t0 = System.currentTimeMillis()
      val stats = GngOps.assignAggregate(batch, live.centroids, live.seedWatch)
      val next = live.step(stats, kk)
      if (next != kk) {
        kk = next
        val updateMs = System.currentTimeMillis() - t0
        timeUpdates += timeUpdates.last + updateMs
        if (timeUpdates.length > 100) timeUpdates.remove(0)
        onBatch(kk, updateMs) // per-batch telemetry (bench/monitoring)
        outDir.foreach { dir =>
          if (snapshotAt(kk)) writeSnapshots(spark, dir, live, kk, timeUpdates.toSeq)
        }
        // (kk, model, stamp) in one file: a restart resumes kk too
        recoveryPoint.foreach { p =>
          java.nio.file.Files.createDirectories(p.getParent)
          val stamp = GngModel.Stamp(query, batchId)
          EpochState.publish(p, GngModel.toBytes(live, kk, Some(stamp)))
          committed = Some(stamp)
        }
      }
    }
    // Spark's streaming WAL (offsets + commits) fsyncs per micro-batch;
    // without a stateDir it lands in java.io.tmpdir, and on a contended
    // disk those fsyncs dominate small-batch training (measured: 92-batch
    // runs inflating 3x under host I/O load). Callers that need
    // restartability pass a durable dir; harnesses pass tmpfs scratch.
    val base = pts.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
    ckpt.foreach(c => base.option("checkpointLocation", c.toString))
    base
      .foreachBatch { (batch: Dataset[Point], batchId: Long) =>
        // StreamExecution sets this on the stream thread; the id persists
        // in the checkpoint, so it names the query across restarts
        val query = java.util.UUID.fromString(
          spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
        if (!committed.exists(c => c.query == query && EpochState.replayed(batchId, c.batchId)))
          applyBatch(batch, batchId, query)
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
