package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.SparkTestSupport
import graft.model.{GngParams, Point}

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
    assert(m1.nodeCount === m2.nodeCount)
    // ε-compare: treeAggregate partial-merge order varies run to run, so
    // centroid BITS may differ by an ulp (SURVEY §7.4.2); the graph
    // structure and values must agree to float tolerance
    m1.nodes.zip(m2.nodes).foreach { case (a, b) =>
      a.centroid.zip(b.centroid).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"centroid drift: $x vs $y")
      }
    }
    assert(m1.edgeLines === m2.edgeLines)
    // growth ran (kk=5,10): 2 + 2*3 = 8 nodes unless pruned
    assert(m1.nodeCount > 2)
    // some centroid near each cluster center
    def nearest(cx: Double, cy: Double) = m1.nodes.map { p =>
      math.hypot(p.centroid(0) - cx, p.centroid(1) - cy)
    }.min
    assert(nearest(0, 0) < 15.0)
    assert(nearest(100, 100) < 15.0)
  }

  test("csvToPoints parses the reference CSV shape (features..., label, id)") {
    import spark.implicits._
    val df = Seq("1.5,2.5,0,7", "3.0,4.0,1,8").toDF("value")
    val pts = GStream.csvToPoints(df).collect().sortBy(_.id)
    assert(pts(0).features.toSeq === Seq(1.5, 2.5) && pts(0).label === 0 && pts(0).id === 7L)
    assert(pts(1).features.toSeq === Seq(3.0, 4.0) && pts(1).label === 1 && pts(1).id === 8L)
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
      outDir = Some(outDir), snapshotEvery = 1, triggerMs = 50L)
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
