package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.SparkTestSupport
import graft.model.{GngModel, GngParams, Point}

/** End-to-end G-Stream: batch (fitChunked) determinism and the
  * Structured Streaming file-source path (trainStreaming), mirroring the
  * reference's single JUnit test (batchStreamTest.scala:10-17) but with
  * assertions. */
class GStreamSpec extends AnyFunSuite with SparkTestSupport {

  /** Two well-separated 2-D clusters; ids 1..n. */
  private def clusterPoints(n: Int): Seq[Point] = {
    val rng = new scala.util.Random(11)
    (1 to n).map { i =>
      val (cx, cy) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      Point(Array(cx + rng.nextGaussian(), cy + rng.nextGaussian()), i % 2, i.toLong)
    }
  }

  test("parseCsvPoints drops malformed lines instead of killing the query") {
    import spark.implicits._
    // poison shapes: non-numeric token, too few fields, empty line,
    // trailing garbage field — each would either throw under ANSI cast
    // or project a nonsense Point before the try_cast + arity guards
    val lines = Seq(
      "1.0,2.0,0,1",   // good
      "garbage",       // non-numeric, 1 field
      "1.0,2.0",       // arity 2: would have read label=1, id=2 (!)
      "",              // empty
      "3.0,4.0,x,9",   // non-numeric label slot
      "NaN,0.0,0,3",   // non-finite feature: would poison its winner
      "Infinity,0.0,0,4",
      "1.0,2.0,NaN,7", // label / id that a cast cannot fit: CAST_OVERFLOW
      "1.0,2.0,3e10,8",
      "1.0,2.0,0,1e200",
      "1.0,2.0,0,NaN",
      "1e200,0.0,0,401", // finite, but every distance from it overflows
      "5.0,6.0,1,2")   // good
    val got = GStream.parseCsvPoints(lines.toDF("value")).collect()
      .map(p => (p.features.toSeq, p.label, p.id)).sortBy(_._3)
    assert(got.toSeq === Seq(
      (Seq(1.0, 2.0), 0, 1L),
      (Seq(5.0, 6.0), 1, 2L)))
  }

  test("socket source feeds the same CSV point projection (reference S3 path)") {
    // the reference wired (then disabled) a socketTextStream ingest
    // (batchStreamRun.scala:42); here the structured socket source
    // drives the SAME parseCsvPoints projection the file source uses —
    // a real TCP server, real lines, asserted parse
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      Seq("1.5,2.5,0,7", "3.0,4.0,1,8", "-1.25,0.5,0,9").foreach(out.println)
      out.flush()
      // keep the connection open until the query is done reading
      Thread.sleep(8000)
      sock.close(); server.close()
    })
    feeder.setDaemon(true)
    feeder.start()
    val raw = spark.readStream
      .format("socket")
      .option("host", "localhost")
      .option("port", port)
      .load()
    val pts = GStream.parseCsvPoints(raw)
    val q = pts.writeStream
      .format("memory")
      .queryName("socket_pts")
      .outputMode("append")
      .start()
    try {
      // socket source has no end-of-stream: poll until the rows land
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("socket_pts").count() < 3 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val rows = spark.table("socket_pts").collect()
        .map(r => (r.getAs[Seq[Double]]("features"), r.getAs[Int]("label"), r.getAs[Long]("id")))
        .sortBy(_._3)
      assert(rows.length === 3)
      assert(rows(0) === (Seq(1.5, 2.5), 0, 7L))
      assert(rows(1) === (Seq(3.0, 4.0), 1, 8L))
      assert(rows(2) === (Seq(-1.25, 0.5), 0, 9L))
    } finally q.stop()
  }

  test("fitChunked is deterministic and learns both cluster centers") {
    import spark.implicits._
    val pts = spark.createDataset(clusterPoints(400))
    val params = GngParams()
    val m1 = GStream.fitChunked(pts, params, nChunks = 10)
    val m2 = GStream.fitChunked(pts, params, nChunks = 10)
    assert(GngModel.toBytes(m1, 0).toSeq === GngModel.toBytes(m2, 0).toSeq)
    // growth ran (kk=5,10): 2 + 2*3 = 8 nodes unless pruned
    assert(m1.nodeCount > 2)
    // some centroid near each cluster center
    def nearest(cx: Double, cy: Double) = m1.nodes.map { p =>
      math.hypot(p.centroid(0) - cx, p.centroid(1) - cy)
    }.min
    assert(nearest(0, 0) < 15.0)
    assert(nearest(100, 100) < 15.0)
  }

  test("fitChunked above localPathMaxRows: the distributed path equals fitChunkedLocal") {
    import spark.implicits._
    val pts = clusterPoints(GStream.localPathMaxRows + 1)
    // one partition: the per-partition partials merge left to right into
    // exactly the local sums, so the two fits agree byte for byte
    val ds = spark.createDataset(pts).coalesce(1)
    val kks, localKks = scala.collection.mutable.ArrayBuffer[Int]()
    val m = GStream.fitChunked(ds, GngParams(), nChunks = 10, (kk, _) => kks += kk)
    val local = GStream.fitChunkedLocal(pts.toArray, GngParams(), nChunks = 10,
      (kk, _) => localKks += kk)
    assert(kks.toSeq === (1 to 10))
    assert(kks.toSeq === localKks.toSeq)
    assert(GngModel.toBytes(m, kks.last).toSeq === GngModel.toBytes(local, localKks.last).toSeq)
  }

  test("fitChunkedLocal absorbs a point whose every distance overflows: it goes to node 0") {
    val poison = Point(Array(1e200, 0.0), 0, 41L)
    // chunk 0 (ids ≡ 0 mod 4) runs as kk = 1; chunk 1 holds the point
    var before: Array[Array[Double]] = null
    val m = GStream.fitChunkedLocal((clusterPoints(40) :+ poison).toArray, GngParams(), 4,
      (kk, model) => if (kk == 1) before = model.centroids.map(_.clone()))
    assert(m.nodeCount >= 2)
    val stats = graft.operators.GngOps.assignAggregateLocal(Seq(poison), before)
    assert(stats.map(_._1).toSeq === Seq(0))
    assert(stats(0)._2.votes.toSeq === Seq(1 -> 1L))
  }

  test("a parsed 1e200 feature cannot take over growth: the fit stays finite") {
    import spark.implicits._
    // if kept, every distance from it overflows: its winner's error
    // becomes +Infinity and T9 grows from that node at every growth step
    val lines = clusterPoints(400).map(p => s"${p.features(0)},${p.features(1)},${p.label},${p.id}") :+
      "1e200,0.0,0,401"
    val pts = GStream.parseCsvPoints(lines.toDF("value")).collect()
    val m = GStream.fitChunkedLocal(pts, GngParams(), 10)
    assert(m.nodeCount > 2)
    m.nodes.foreach(p => assert(p.centroid.forall(java.lang.Double.isFinite), s"node ${p.id}"))
    assert(m.errors.forall(java.lang.Double.isFinite), m.errors)
  }

  test("parseCsvPoints parses the reference CSV shape (features..., label, id)") {
    import spark.implicits._
    val df = Seq("1.5,2.5,0,7", "3.0,4.0,1,8").toDF("value")
    val pts = GStream.parseCsvPoints(df).collect().sortBy(_.id)
    assert(pts(0).features.toSeq === Seq(1.5, 2.5) && pts(0).label === 0 && pts(0).id === 7L)
    assert(pts(1).features.toSeq === Seq(3.0, 4.0) && pts(1).label === 1 && pts(1).id === 8L)
  }

  test("trainStreaming: one job per batch, byte-equal to the local replay") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
    // wide rows: 40,000-d, 60 points a batch, ~4.8 MB a file. Each file
    // is one batch, and with minPartitionNum 1 the file source reads it
    // as one partition (by default it splits to fill the 4 cores), so
    // the batch's one partial is the local replay's sum
    val dim = 40000
    val perBatch = 60
    // small-integer coordinates keep the CSV compact and parse exactly
    def point(i: Int): Point = {
      val base = if (i % 2 == 0) 0 else 6
      Point(Array.tabulate(dim)(j => (base + (i * 7 + j * 3) % 4).toDouble), i % 2, i.toLong)
    }
    val batches = (0 until 3).map(b => (1 to perBatch).map(i => point(b * perBatch + i)))
    val inDir = Files.createTempDirectory("gstream-wide-in")
    val base = System.currentTimeMillis() - 60000
    batches.zipWithIndex.foreach { case (pts, b) =>
      val f = inDir.resolve(s"batch-$b.csv")
      Files.write(f, pts.map(p =>
        (p.features.map(_.toInt) :+ p.label :+ p.id).mkString(",")).mkString("\n").getBytes)
      // strictly increasing mtimes: the stream reads the batches in order
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + b * 1000L))
    }
    val seeds = Seq(point(1001), point(1002))
    val params = GngParams(growEvery = 2)

    // Spark jobs grouped by the micro-batch that ran them, with each
    // job's task count. Listener events arrive asynchronously and in
    // order, so a marker job run after the stream stops flushes them.
    val sc = spark.sparkContext
    val jobs = scala.collection.mutable.Map.empty[String, Seq[Int]]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(MicroBatchExecution.BATCH_ID_KEY))).foreach { id =>
          jobs.synchronized(jobs(id) = jobs.getOrElse(id, Nil) :+ e.stageInfos.map(_.numTasks).sum)
        }
        if (props.exists(_.getProperty("gstream.spec.flush") != null)) flushed.countDown()
      }
    }
    val streamed = GngModel.bootstrap(seeds, params)
    val lastKk = new java.util.concurrent.atomic.AtomicInteger(0)
    sc.addSparkListener(listener)
    // the stream clones the session's conf when it starts
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val q = GStream.trainStreaming(spark, inDir.toString, streamed,
        triggerMs = 50L, onBatch = (k, _) => lastKk.set(k))
      try q.processAllAvailable() finally q.stop()
      sc.setLocalProperty("gstream.spec.flush", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("gstream.spec.flush", null)
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.conf.unset("spark.sql.files.minPartitionNum")
      sc.removeSparkListener(listener)
    }
    // one job of one task per batch, and no probe job before it
    assert(jobs.synchronized(jobs.toMap) === (0 until batches.size).map(_.toString -> Seq(1)).toMap)

    val local = GngModel.bootstrap(seeds, params)
    var kk = 0
    for (pts <- batches)
      kk = local.step(graft.operators.GngOps.assignAggregateLocal(pts, local.centroids, local.seedWatch), kk)
    assert(kk === 3)
    assert(lastKk.get === kk)
    assert(java.util.Arrays.equals(GngModel.toBytes(streamed, kk), GngModel.toBytes(local, kk)))
  }

  test("trainStreaming consumes files as micro-batches and snapshots the model") {
    val inDir = Files.createTempDirectory("gstream-in").toString
    val outDir = Files.createTempDirectory("gstream-out").toString
    val pts = clusterPoints(60)
    val model = {
      import spark.implicits._
      GStream.bootstrap(spark.createDataset(pts.take(2)), GngParams(growEvery = 2))
    }
    // one file per micro-batch (maxFilesPerTrigger=1), written BEFORE the
    // stream starts — the file source picks up pre-existing files too
    pts.grouped(20).zipWithIndex.foreach { case (chunk, i) =>
      val lines = chunk.map(p => s"${p.features(0)},${p.features(1)},${p.label},${p.id}")
      Files.write(Paths.get(inDir, s"batch-$i.csv"),
        String.join("\n", lines: _*).getBytes)
    }
    def partFiles(name: String): Array[String] = {
      val dir = Paths.get(outDir, name)
      if (!Files.exists(dir)) Array.empty
      else Files.list(dir).toArray.map(_.toString)
        .filter(p => p.contains("part-") && !p.endsWith(".crc"))
    }
    val q = GStream.trainStreaming(spark, inDir, model,
      outDir = Some(outDir), snapshotAt = _ => true, triggerMs = 50L)
    try {
      val deadline = System.currentTimeMillis() + 60000
      // wait for the published part file of the last snapshot (the writer
      // fills a _tmp- dir and renames it into place once complete)
      while (partFiles("Prototypes-3").isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally q.stop()
    assert(Files.exists(Paths.get(outDir, "Prototypes-1")))
    assert(partFiles("Prototypes-3").nonEmpty)
    assert(model.nodeCount >= 2)
    // snapshot contents parse back as centroids
    val lines = Files.readAllLines(Paths.get(partFiles("Prototypes-3").head))
    assert(lines.size > 0)
  }
}
