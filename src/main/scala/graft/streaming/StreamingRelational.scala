package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}

/** Relational Structured Streaming surface: watermarked event-time
  * windows, session windows, and custom keyed state — the streaming
  * capabilities the reference's DStream loop lacks (SURVEY §2.9: "no
  * watermarks, no event-time" — the new engine inherits them from
  * Structured Streaming).
  *
  * Each transform is defined on an unbounded stream; [[oneShot]] runs it
  * over a bounded file source with `Trigger.AvailableNow` into a memory
  * sink, so the same code is verifiable against a batch SQL oracle and
  * deployable against a real stream unchanged.
  *
  * Scale notes: streaming aggregation state is partitioned by group key
  * across executors (RocksDB/HDFS state store in production); the
  * watermark bounds state size for append-mode windows. The memory sink
  * + complete mode here is test harnessing, not the production sink.
  */
object StreamingRelational {

  private val memId = new AtomicLong(0)

  /** Fast scratch space for throwaway streaming state: tmpfs when
    * available. The one-shot harness checkpoint holds WAL + state-store
    * delta files that die with the query; the HDFS-backed state store
    * fsyncs every delta on commit, and on a disk-backed /tmp those
    * fsyncs dominate the whole query (profiled at 18-48 s of summed
    * commit time across 32 partitions for a 2-batch run — vs
    * milliseconds on tmpfs). Durability buys nothing here: a crashed
    * verification run is simply re-run. Production streams use
    * [[toParquetSink]] with a caller-owned durable checkpoint. */
  private[graft] def scratchBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Recursive delete, deepest-first; closes the walk stream (an
    * unclosed Files.walk leaks a directory fd per call). */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Run a streaming transform over bounded input and return the final
    * result table (memory sink, AvailableNow). The scale-sane mode is
    * `append` over [[eventsStreamWithSentinel]]: each finalized window
    * crosses the sink exactly once. `complete` re-emits the entire
    * result every trigger — at scale that rewrite is a driver-side
    * bottleneck — and remains only as a fallback oracle harness for
    * transforms without a watermark. */
  def oneShot(spark: SparkSession, streamed: DataFrame,
      mode: String = "append"): DataFrame = {
    val name = s"graft_mem_${memId.incrementAndGet()}"
    val ckpt = java.nio.file.Files.createTempDirectory(scratchBase, "graft-ckpt")
    // Bounded verification input doesn't need one state store per core:
    // each store costs a load + delta-write + fsync per micro-batch
    // (profiled at ~30 ms/store/batch — with 32 stores that fixed cost
    // dwarfs the per-row work at harness scale). The streaming query
    // pins its state partitioning from the session conf at start(); we
    // cap it for the harness query and restore the session value
    // immediately after — under confLock, so overlapping oneShot calls
    // can't interleave set/restore and leave the session capped.
    // Production streams (toParquetSink) are launched by callers under
    // their own conf and keep full parallelism.
    runOneShot(spark, ckpt) { () =>
      streamed.writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    spark.table(name)
  }

  private val confLock = new Object

  /** The ONE one-shot harness shell shared by [[oneShot]] /
    * [[oneShotServe]] / [[oneShotFold]]: cap
    * spark.sql.shuffle.partitions to 8 under `confLock` (see the state
    * -store cost note in [[oneShot]]), start the query, await
    * AvailableNow drain, restore the conf, delete the checkpoint. One
    * definition so a fix to the cap-and-restore logic can't miss a
    * variant. */
  private def runOneShot(spark: SparkSession, ckpt: java.nio.file.Path,
      cleanupCkpt: Boolean = true)(
      start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try confLock.synchronized {
      val shufKey = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(shufKey)
      try {
        spark.conf.set(shufKey, math.min(prev.toInt, 8))
        start().awaitTermination()
      } finally spark.conf.set(shufKey, prev)
    } finally if (cleanupCkpt) deleteRecursively(ckpt)

  /** One sentinel parquet file per (JVM, sentinelTs): re-writing it per
    * call was measured at ~0.4 s/call, ×3 bench reps per streaming
    * query. Cleaned up by a shutdown hook. */
  private val sentinelCache = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  sys.addShutdownHook {
    import scala.jdk.CollectionConverters._
    sentinelCache.values.asScala.foreach(d =>
      deleteRecursively(java.nio.file.Paths.get(d)))
  }

  /** [[eventsStream]] unioned with a one-row sentinel stream whose
    * event time is far beyond any real event. Once the sentinel batch
    * commits, the watermark passes every real window's end, and the
    * final no-data micro-batch (noDataMicroBatches, on by default)
    * flushes them all to an APPEND sink — so watermarked aggregations
    * are verifiable against the batch oracle without complete mode's
    * rewrite-everything-per-trigger memory sink. The sentinel's own
    * window stays beyond the watermark and is never emitted.
    *
    * `sentinelTs` must exceed max(event ts) + watermark delay + any
    * window gap; the default is decades past the test corpus.
    *
    * CORRECTNESS ASSUMPTIONS (asserted here where possible):
    *   - The sentinel must NOT commit in an earlier micro-batch than
    *     any real event: if it did, the post-batch watermark would jump
    *     past every real window and all later-arriving real events
    *     would be dropped as late data. Under `Trigger.AvailableNow`
    *     with no `maxFilesPerTrigger` on either file source (this
    *     module never sets it), every available file of BOTH sources
    *     lands in micro-batch 0 and the sentinel only moves the
    *     watermark after that batch — the safe order. Callers must not
    *     add `maxFilesPerTrigger` (or any rate limit) on top of this
    *     stream.
    *   - The final windows are flushed by a no-data micro-batch, so
    *     `spark.sql.streaming.noDataMicroBatches.enabled` must stay
    *     true (asserted below — silently-empty results otherwise). */
  def eventsStreamWithSentinel(spark: SparkSession, dir: String,
      sentinelTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")): DataFrame = {
    require(
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true").toBoolean,
      "eventsStreamWithSentinel needs spark.sql.streaming.noDataMicroBatches.enabled=true: " +
        "the no-data micro-batch after the sentinel commits is what flushes the finalized " +
        "windows to the append sink; without it the one-shot result is silently empty")
    val tmp = sentinelCache.computeIfAbsent(sentinelTs.getTime, _ => {
      import spark.implicits._
      val dirPath = java.nio.file.Files.createTempDirectory("graft-sentinel")
      Seq((-1L, sentinelTs, -1L, "__sentinel__", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(dirPath.toString)
      dirPath.toString
    })
    val sentinel = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .parquet(tmp)
    eventsStream(spark, dir).unionByName(sentinel)
  }

  /** The events table as a stream (same ts normalization as
    * [[graft.queries.Tables.events]] — the driver's testdata has shipped
    * both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) NTZ encodings, so probe
    * the static footer once to pick the stream schema). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // mirror Tables.events' three-way dispatch exactly — a footer the
    // batch path can read must stream too (LTZ declared NTZ would make
    // the parquet reader reject every s-query while batch works)
    val probed = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val tsDdl = probed match {
      case org.apache.spark.sql.types.LongType => "BIGINT"
      case org.apache.spark.sql.types.TimestampType => "TIMESTAMP"
      case _ => "TIMESTAMP_NTZ"
    }
    // the file stream source requires a directory: stream the sf dir,
    // glob-filtered to the events table
    val raw = spark.readStream
      .schema(s"event_id BIGINT, ts $tsDdl, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    probed match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** The documents table as a stream — the "arriving crawl increment"
    * for streaming ingestion pipelines (s06 joins it against the static
    * signature index). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** The embeddings table as a stream — the arriving query vectors for
    * streaming ANN serving (s07). */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  /** One-shot micro-batch SERVING: run `serve` over each arriving
    * micro-batch via foreachBatch, appending results to a scratch
    * parquet sink, and return the accumulated result. This is the
    * production shape for serving a stream of requests against a
    * static index with an operator whose plan (windows, multi-pass
    * aggregation) Structured Streaming cannot host directly: the
    * micro-batch is a plain DataFrame, so the FULL batch operator —
    * same code, same plan — runs per trigger. Per-request independence
    * makes the result invariant to how the stream slices into batches,
    * which is exactly what the batch oracle verifies. */
  def oneShotServe(spark: SparkSession, streamed: DataFrame,
      serve: DataFrame => DataFrame): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(scratchBase, "graft-ckpt")
    val out = java.nio.file.Files.createTempDirectory(scratchBase, "graft-serve")
    // one static hook owns every serve dir (sentinelCache's pattern) —
    // a hook per call would accumulate hook threads over a long harness
    serveDirs.add(out)
    runOneShot(spark, ckpt) { () =>
      streamed.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            serve(batch).write.mode("append").parquet(out.toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // an all-empty stream never writes a file; reading the bare dir
    // would throw "Unable to infer schema" — answer with the serve
    // plan's own (empty) result over an empty batch instead. The walk
    // is RECURSIVE: a serve function that writes partitioned output
    // puts its data files in subdirectories, and a top-level-only
    // listing would misclassify that as empty and silently answer with
    // the empty-batch plan
    val served = java.nio.file.Files.walk(out)
    val hasFiles = try served.anyMatch(_.toString.endsWith(".parquet"))
    finally served.close()
    if (hasFiles) spark.read.parquet(out.toString)
    else serve(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], streamed.schema))
  }

  private val serveDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook {
    serveDirs.forEach(d => deleteRecursively(d))
  }

  /** Register a scratch path for exit-time cleanup under the single
    * static hook (a hook per call would accumulate hook threads). */
  private[graft] def registerScratch(p: java.nio.file.Path): Unit = serveDirs.add(p)

  /** Streaming STATE MAINTENANCE: fold every micro-batch into an
    * accumulated state table — `state := step(state, batch)` — and
    * return the final state. The production shape for incrementally
    * maintained aggregates (IncrementalAgg): the stored snapshot is
    * `init`, each arriving increment batch merges in, and when `step`
    * is associative/commutative the final state is invariant to how
    * the stream slices into batches (spec-asserted with a 2-batch
    * MemoryStream) — so the batch oracle verifies the streaming path.
    *
    * State is dimension-sized (one row per key), held as eagerly
    * localCheckpoint'ed RDD blocks between triggers: the lineage cut
    * keeps per-batch plan analysis flat over arbitrarily many batches
    * (connectedComponents' idiom) instead of growing a
    * merge-of-merge-of-merge tree. */
  def oneShotFold(spark: SparkSession, streamed: DataFrame, init: DataFrame,
      step: (DataFrame, DataFrame) => DataFrame): DataFrame =
    oneShotFoldMany(spark, streamed, Seq(init),
      (states, batch) => Seq(step(states.head, batch))).head

  /** The fold over SEVERAL independent state tables at once — for
    * folds where one arriving micro-batch must pay several kernel
    * families exactly once each (s35's data card: per-doc features,
    * contamination shingles, KN trigrams), without forcing their
    * different schemas into one tagged union. `step` receives every
    * current state plus the batch and returns the same number of new
    * states; each is localCheckpoint'ed eagerly — superseded rounds'
    * checkpoint blocks are freed by the ContextCleaner once
    * unreferenced (the connectedComponents memory model;
    * Dataset.unpersist would be a no-op here, it only uncaches
    * CacheManager entries, not checkpoints). [[oneShotFold]] is the
    * N=1 delegation, so the skip/checkpoint/lineage-cut logic has ONE
    * definition (the runOneShot docstring's own rule). */
  def oneShotFoldMany(spark: SparkSession, streamed: DataFrame,
      inits: Seq[DataFrame],
      step: (Seq[DataFrame], DataFrame) => Seq[DataFrame]): Seq[DataFrame] = {
    val ckpt = java.nio.file.Files.createTempDirectory(scratchBase, "graft-ckpt")
    @volatile var states = inits.map(_.localCheckpoint(true))
    runOneShot(spark, ckpt) { () =>
      streamed.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val next = step(states, batch)
            require(next.length == states.length,
              s"oneShotFoldMany: step returned ${next.length} states for ${states.length}")
            states = next.map(_.localCheckpoint(true))
            ()
          }
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    states
  }

  /** [[oneShotFold]] passing the micro-batch id into `step` — for
    * folds whose step performs EXTERNAL side effects (growing an
    * on-disk index, appending to a table): foreachBatch is
    * at-least-once, so a re-delivered batch would re-run the side
    * effect; the id lets the step keep an idempotence marker and skip
    * batches it has already applied (s15's `_applied_N` files). */
  def oneShotFoldWithEpoch(spark: SparkSession, streamed: DataFrame, init: DataFrame,
      step: (DataFrame, DataFrame, Long) => DataFrame): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(scratchBase, "graft-ckpt")
    @volatile var state = init.localCheckpoint(true)
    runOneShot(spark, ckpt) { () =>
      streamed.writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          if (!batch.isEmpty) {
            state = step(state, batch, epoch).localCheckpoint(true)
            ()
          }
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    state
  }

  /** [[oneShotFold]] with EXACTLY-ONCE persistent state
    * ([[graft.operators.EpochState]]): each micro-batch commits
    * `step(state, batch)` under its batch id, so the crash window
    * between "merge applied" and "state committed" cannot double-count
    * — a restarted stream re-delivers the in-flight batch
    * (foreachBatch's at-least-once contract) and the epoch stamp makes
    * the re-application a no-op. This is the production shape for q37/
    * s08's maintained aggregates: the in-memory fold above is the
    * measurement/verification form (state dies with the job); this one
    * survives a kill at ANY point with no loss and no double-apply
    * (EpochStateSpec drives the two crash halves explicitly).
    *
    * `stateDir` persists across restarts — pass the SAME dir to the
    * re-run and initialization is a no-op on committed state. The
    * STREAMING CHECKPOINT lives inside it (`_ckpt`) and persists with
    * it: batch ids are checkpoint-relative, so a restart with a fresh
    * checkpoint would renumber new data from 0 and the epoch guard
    * would wrongly skip it — checkpoint and epoch stamps must travel
    * together or the guard guards the wrong thing. */
  def oneShotFoldExactlyOnce(spark: SparkSession, streamed: DataFrame,
      stateDir: String, init: DataFrame,
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ckpt = java.nio.file.Paths.get(stateDir, "_ckpt")
    java.nio.file.Files.createDirectories(ckpt)
    graft.operators.EpochState.init(spark, stateDir, init)
    runOneShot(spark, ckpt, cleanupCkpt = false) { () =>
      streamed.writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          if (!batch.isEmpty) {
            graft.operators.EpochState.commit(spark, stateDir, epoch)(
              state => step(state, batch))
            ()
          }
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    graft.operators.EpochState.state(spark, stateDir)
  }

  /** Watermarked tumbling-window aggregation: events per (hour, type)
    * with summed value. The 1-hour watermark bounds append-mode state;
    * under complete mode (verification) it is declared but not dropping. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Session windows per user: events closer than `gap` merge into one
    * session (Spark `session_window`; sessions merge while
    * next.ts < prev.ts + gap — i.e. a gap ≥ `gap` starts a new session). */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))

  /** Production sink: append-mode parquet files with a streaming
    * checkpoint, written by Spark's file sink from the executors (unlike
    * the driver-held GNG model, whose snapshots [[GStream.writeSnapshots]]
    * writes on the driver). The checkpoint makes restarts
    * exactly-once: a re-start with the same checkpointLocation replays
    * nothing already committed and appends nothing twice. Use with the
    * watermarked transforms above; the watermark bounds both state and
    * the set of windows finalized into files. */
  def toParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Streaming exact dedup: first occurrence per key wins; the
    * watermark bounds the dedup state (keys older than the watermark
    * are dropped from state — the streaming twin of [[graft.operators.Dedup.exact]]). */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked stream-stream inner join: for each left event, right
    * events of the same user within [left.ts − window, left.ts]. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so Spark can expire join state — the unbounded-state
    * trap of naive stream joins is structurally avoided. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      window: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", "1 hour").as("l")
    val r = right.withWatermark("ts", "1 hour").as("r")
    l.join(r,
      col("l.user_id") === col("r.user_id") &&
        col("r.ts").between(
          col("l.ts") - expr(s"INTERVAL $window"), col("l.ts")))
  }

  /** Custom keyed state via `mapGroupsWithState`: running per-user
    * (count, value sum) across micro-batches — the keyed analogue of the
    * reference's single global model state (SURVEY §2.9 T2 maps the
    * global case to foreachBatch; this is the `KeyValueGroupedDataset`
    * path for state that IS keyed). Emits the updated snapshot per key
    * per batch (update output mode). */
  def runningUserStats(events: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (c0, s0) = state.getOption.getOrElse((0L, 0.0))
          var c = c0
          var s = s0
          rows.foreach { r => c += 1; s += r._2 }
          state.update((c, s))
          // +1e-9 nudge before rounding (qualityScore precedent): the
          // incremental stream-order sum and the oracle's scan-order sum
          // can differ by an ulp, which flips the rounded value only on
          // a knife's-edge .xx5 boundary — the nudge pushes both
          // engines off the boundary the same way
          (userId, c, math.round((s + 1e-9) * 100.0) / 100.0)
      }
  }
}
