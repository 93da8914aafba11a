package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp
import graft.SparkTestSupport

/** Structured Streaming relational ops: streaming/batch parity for
  * windows and sessions, and multi-batch keyed state via
  * mapGroupsWithState. */
class StreamingRelationalSpec extends AnyFunSuite with SparkTestSupport {

  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def eventsDf(rows: (Int, Long, String, Double)*) = {
    import spark.implicits._
    rows.toSeq.map { case (m, u, t, v) => (ts(m), u, t, v) }
      .toDF("ts", "user_id", "event_type", "value")
  }

  test("hourlyTypeCounts (streamed) equals batch groupBy") {
    import spark.implicits._
    val data = Seq(
      (5, 1L, "click", 1.0), (25, 1L, "click", 2.0), (61, 1L, "click", 4.0),
      (10, 2L, "view", 8.0), (70, 2L, "view", 16.0), (130, 2L, "view", 32.0))
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    mem.addData(data.take(3).map { case (m, u, t, v) => (ts(m), u, t, v) })
    mem.addData(data.drop(3).map { case (m, u, t, v) => (ts(m), u, t, v) })
    val streamed = mem.toDF.toDF("ts", "user_id", "event_type", "value")
    val out = StreamingRelational.oneShot(spark,
      StreamingRelational.hourlyTypeCounts(streamed), mode = "complete")
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val expected = eventsDf(data: _*)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === expected.toSeq)
  }

  test("userSessions merges events within gap (inclusive), splits beyond it") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Long, Double)]
    // user 1: events at 0, 20, 39 min (one session: gaps 20, 19 < 30)
    //         then 90 min (new session: gap 51)
    // user 2: events at 0, 30 min — gap EXACTLY 30 → session_window
    //         MERGES (next.start == prev.end; split requires gap > 30)
    mem.addData(Seq((ts(0), 1L, 1.0), (ts(20), 1L, 2.0), (ts(39), 1L, 4.0),
      (ts(90), 1L, 8.0), (ts(0), 2L, 1.0), (ts(30), 2L, 2.0)))
    val streamed = mem.toDF.toDF("ts", "user_id", "value")
    val out = StreamingRelational.userSessions(streamed, "30 minutes")
    val rows = StreamingRelational.oneShot(spark, out, mode = "complete")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events")))
    assert(rows.toSeq === Seq(
      (1L, ts(0), ts(39), 3L),
      (1L, ts(90), ts(90), 1L),
      (2L, ts(0), ts(30), 2L)))
  }

  test("append mode + sentinel emits every finalized window exactly once, sentinel never") {
    import spark.implicits._
    val data = Seq(
      (5, 1L, "click", 1.0), (25, 1L, "click", 2.0), (61, 1L, "click", 4.0),
      (10, 2L, "view", 8.0), (70, 2L, "view", 16.0), (130, 2L, "view", 32.0))
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    mem.addData(data.map { case (m, u, t, v) => (ts(m), u, t, v) })
    // sentinel far past max ts + watermark: drives the watermark over
    // every real window's end so append mode flushes them all
    mem.addData(Seq((Timestamp.valueOf("2100-01-01 00:00:00"), -1L, "__sentinel__", 0.0)))
    val streamed = mem.toDF.toDF("ts", "user_id", "event_type", "value")
    val out = StreamingRelational.oneShot(spark,
      StreamingRelational.hourlyTypeCounts(streamed), mode = "append")
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val expected = eventsDf(data: _*)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // all real windows present exactly once; the sentinel's own
    // (unfinalized) window is absent
    assert(out.toSeq === expected.toSeq)
    assert(!out.exists(_._2 == "__sentinel__"))
  }

  test("toParquetSink writes finalized windows; checkpointed restart appends nothing") {
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("sr-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sr-ckpt").toString
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    mem.addData(Seq((ts(5), 1L, "click", 1.0), (ts(25), 1L, "click", 2.0),
      (ts(10), 2L, "view", 8.0)))
    mem.addData(Seq((Timestamp.valueOf("2100-01-01 00:00:00"), -1L, "__sentinel__", 0.0)))
    def run(): Unit = {
      val streamed = mem.toDF.toDF("ts", "user_id", "event_type", "value")
      val q = StreamingRelational.toParquetSink(
        StreamingRelational.hourlyTypeCounts(streamed), outDir, ckpt)
      q.awaitTermination()
    }
    run()
    val first = spark.read.parquet(outDir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(first.toSet === Set(
      (ts(0), "click", 2L, 3.0),
      (ts(0), "view", 1L, 8.0)))
    // exactly-once resume: same checkpoint, no new data -> no new rows
    run()
    val second = spark.read.parquet(outDir).count()
    assert(second === first.length.toLong)
  }

  test("streamingDedup keeps the first occurrence per key") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Long, String)]
    mem.addData(Seq((ts(0), 1L, "first"), (ts(5), 1L, "dup"), (ts(10), 2L, "only")))
    mem.addData(Seq((ts(15), 1L, "dup2"), (ts(20), 3L, "new")))
    val streamed = mem.toDF.toDF("ts", "key", "tag")
    val name = "dedup_out"
    val q = StreamingRelational.streamingDedup(streamed, "ts", Seq("key"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table(name).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[String]("tag")).toMap
    assert(rows === Map(1L -> "first", 2L -> "only", 3L -> "new"))
  }

  test("stream-stream join bounds matches to the event-time window") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    // user 1: click at 0 and 100; purchase at 20 (matches click@0 within
    // 30m; click@100 is 80m later — out of window)
    clicks.addData(Seq((ts(0), 1L, 500L), (ts(100), 1L, 501L), (ts(0), 2L, 502L)))
    buys.addData(Seq((ts(20), 1L, 900L), (ts(200), 2L, 901L)))
    val l = buys.toDF.toDF("ts", "user_id", "buy_id")
    val r = clicks.toDF.toDF("ts", "user_id", "click_id")
    val name = "ssj_out"
    val q = StreamingRelational.streamStreamJoin(l, r, "30 minutes")
      .select(col("l.user_id"), col("buy_id"), col("click_id"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("buy_id"), r.getAs[Long]("click_id"))).toSet
    // only purchase 900 matches click 500 (20 min prior, same user)
    assert(rows === Set((1L, 900L, 500L)))
  }

  test("runningUserStats accumulates keyed state across micro-batches") {
    import spark.implicits._
    val mem = MemoryStream[(Long, Double)]
    mem.addData(Seq((1L, 1.0), (1L, 2.0), (2L, 10.0)))
    val q = StreamingRelational.runningUserStats(mem.toDS())
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("running_stats")
      .outputMode("update").trigger(Trigger.ProcessingTime(50))
      .start()
    try {
      q.processAllAvailable()
      mem.addData(Seq((1L, 4.0), (2L, 20.0), (3L, 100.0)))
      q.processAllAvailable()
    } finally q.stop()
    // update mode: take the LAST emitted row per user (final state)
    val finalRows = spark.table("running_stats")
      .groupBy("user_id").agg(max(struct(col("n"), col("total"))).as("s"))
      .select(col("user_id"), col("s.n"), col("s.total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(finalRows === Set((1L, 3L, 7.0), (2L, 2L, 30.0), (3L, 1L, 100.0)))
  }

  private val sf = "/root/testdata/sf0.001"

  private def serveKnn(batch: org.apache.spark.sql.DataFrame) =
    graft.operators.Similarity.lshKnnBatch(
      graft.queries.VectorQueries.servedIndex(spark, sf), batch,
      col("embedding"), col("vec_id"),
      dim = graft.queries.VectorQueries.EmbDim, k = 10, nBits = 4)

  test("oneShotServe: an all-empty stream yields an empty result, not a schema crash") {
    val served = StreamingRelational.oneShotServe(spark,
      StreamingRelational.embeddingsStream(spark, sf)
        .filter(col("vec_id") === -1L),   // matches nothing
      serveKnn)
    assert(served.columns.toSeq === Seq("qid", "id", "score", "rk"))
    assert(served.count() === 0L)
  }

  test("oneShotServe: streamed ANN serving equals the batch operator") {
    val queries = graft.queries.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0)
    val served = StreamingRelational.oneShotServe(spark,
        StreamingRelational.embeddingsStream(spark, sf)
          .filter(col("vec_id") % 10 === 0),
        serveKnn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val batch = serveKnn(queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(served.nonEmpty && served === batch)
  }

  test("micro-batch slicing does not change served ANN answers") {
    import spark.implicits._
    val qs = graft.queries.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    assert(qs.length === 4)
    val mem = MemoryStream[(Long, Seq[Double])]
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          serveKnn(batch).collect()
            .foreach(r => acc.add((r.getLong(0), r.getLong(1), r.getInt(3))))
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      mem.addData(qs.take(2)); q.processAllAvailable()  // micro-batch 1
      mem.addData(qs.drop(2)); q.processAllAvailable()  // micro-batch 2
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val sliced = acc.asScala.toSet
    val oneBatch = serveKnn(
        qs.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(sliced === oneBatch)
    assert(sliced.map(_._1) === Set(0L, 1L, 2L, 3L))
  }

  test("state fold: batch slicing does not change the merged aggregate state") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    // s08's loop against a MemoryStream: snapshot + increment sliced
    // into two micro-batches must equal snapshot + increment in one
    // (merge associativity/commutativity, the invariant the shared
    // full-recompute oracle relies on)
    val snapRows = Seq(("a", 1.0), ("a", 3.0), ("b", -2.0))
    val incRows = Seq(("a", 5.0), ("c", 7.0), ("b", 0.5), ("c", 2.5))
    val snapshot = IncrementalAgg.aggState(
      snapRows.toDF("k", "v"), Seq(col("k")), col("v"))
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val mem = MemoryStream[(String, Double)]
    @volatile var state = snapshot.localCheckpoint(true)
    val q = mem.toDF().toDF("k", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          state = IncrementalAgg.merge(state,
            IncrementalAgg.aggState(batch, Seq(col("k")), col("v")),
            Seq("k")).localCheckpoint(true)
          ()
        }
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      mem.addData(incRows.take(2)); q.processAllAvailable()  // micro-batch 1
      mem.addData(incRows.drop(2)); q.processAllAvailable()  // micro-batch 2
    } finally q.stop()
    val oneShot = IncrementalAgg.merge(snapshot,
      IncrementalAgg.aggState(incRows.toDF("k", "v"), Seq(col("k")), col("v")),
      Seq("k"))
    assert(stateOf(state) === stateOf(oneShot))
    // and both equal the full recompute over all rows
    val recompute = IncrementalAgg.aggState(
      (snapRows ++ incRows).toDF("k", "v"), Seq(col("k")), col("v"))
    assert(stateOf(state) === stateOf(recompute))
  }

  test("oneShotFoldMany: one arriving batch pays every state's kernel once; arity guarded") {
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    mem.addData(Seq((1L, "a"), (2L, "bb")))
    mem.addData(Seq((3L, "ccc")))
    var batches = 0
    val st = StreamingRelational.oneShotFoldMany(
      spark, mem.toDF().toDF("id", "s"),
      Seq(Seq.empty[(Long, String)].toDF("id", "s"),
        Seq.empty[(Long, Int)].toDF("id", "n")),
      (states, batch, _) => {
        batches += 1
        Seq(states(0).unionByName(batch),
          states(1).unionByName(batch.select(col("id"), length(col("s")).as("n"))))
      })
    // both states accumulated every row exactly once, whatever the slicing
    assert(st(0).collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "bb"), (3L, "ccc")))
    assert(st(1).collect().map(r => (r.getLong(0), r.getInt(1))).toSet ===
      Set((1L, 1), (2L, 2), (3L, 3)))
    assert(batches >= 1)
    // a step that loses a state must fail loud, not silently drop it
    val mem2 = MemoryStream[Long]
    mem2.addData(Seq(1L))
    assertThrows[Exception] {
      StreamingRelational.oneShotFoldMany(
        spark, mem2.toDF().toDF("id"),
        Seq(Seq.empty[Long].toDF("id"), Seq.empty[Long].toDF("id")),
        (_, batch, _) => Seq(batch))
    }
  }
}
