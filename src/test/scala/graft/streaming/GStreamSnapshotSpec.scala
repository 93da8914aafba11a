package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import graft.SparkTestSupport
import graft.model.{GngModel, GngParams, Point}

/** The driver-side snapshot sink ([[GStream.writeSnapshots]]): byte
  * parity with Spark's text writer, the reference directory layout,
  * overwrite on a repeated kk, and no temp directory left behind. */
class GStreamSnapshotSpec extends AnyFunSuite with SparkTestSupport {

  private val names = Seq("Prototypes", "OutdatedProtos", "Edges", "Weights", "timeUpdates")
  private val timeUpdates = Seq(0L, 17L, 40L)

  /** Three 2-D clusters, ids 1..n. */
  private def points(n: Int, seed: Int): Array[Point] = {
    val rng = new scala.util.Random(seed)
    val centers = Array((0.0, 0.0), (50.0, 80.0), (120.0, 10.0))
    (1 to n).map { i =>
      val (cx, cy) = centers(i % 3)
      Point(Array(cx + rng.nextGaussian(), cy + rng.nextGaussian()), i % 3, i.toLong)
    }.toArray
  }

  /** Grown well past the two bootstrap nodes, no fading: OutdatedProtos empty. */
  private def grown(nChunks: Int): GngModel =
    GStream.fitChunkedLocal(points(600, 3), GngParams(), nChunks)

  /** Fading on from two nodes, so OutdatedProtos has lines. */
  private def faded: GngModel =
    GStream.fitChunkedLocal(points(600, 4),
      GngParams(fadeMinNodes = 2, minWeight = 50.0), 30)

  private def structures(m: GngModel): Seq[(String, Seq[String])] =
    names.zip(Seq(m.prototypeLines, m.outdatedLines, m.edgeLines, m.weightLines,
      timeUpdates.map(_.toString)))

  private def listing(dir: Path): Set[String] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSet

  private def partBytes(dir: Path): Seq[Byte] =
    listing(dir).filter(_.startsWith("part-")).toSeq.sorted
      .flatMap(f => Files.readAllBytes(dir.resolve(f)).toSeq)

  /** An empty structure is written as one empty line. */
  private def padded(lines: Seq[String]): Seq[String] = if (lines.isEmpty) Seq("") else lines

  private def sparkText(lines: Seq[String], path: String): Unit = {
    import spark.implicits._
    padded(lines).toDF("value")
      .coalesce(1).write.mode("overwrite").text(path)
  }

  private def readLines(path: Path): Seq[String] =
    spark.read.text(path.toString).collect().map(_.getString(0)).toSeq

  test("part bytes equal Spark's text writer and read back as the model's lines") {
    val (g, f) = (grown(20), faded)
    assert(g.nodeCount > 2, "the grown model must have grown")
    assert(g.outdatedLines.isEmpty)
    assert(f.outdatedLines.nonEmpty, "the faded model must have archived nodes")
    for (m <- Seq(g, f)) {
      val out = Files.createTempDirectory("gstream-snap")
      val ref = Files.createTempDirectory("gstream-snap-ref")
      GStream.writeSnapshots(spark, out.toString, m, 5, timeUpdates)
      for ((name, lines) <- structures(m)) {
        sparkText(lines, ref.resolve(name).toString)
        val dir = out.resolve(s"$name-5")
        assert(partBytes(dir) === partBytes(ref.resolve(name)), name)
        assert(readLines(dir) === padded(lines), name)
      }
    }
  }

  test("each snapshot dir holds exactly part-00000 and an empty _SUCCESS") {
    val out = Files.createTempDirectory("gstream-snap")
    GStream.writeSnapshots(spark, out.toString, grown(20), 1, timeUpdates)
    for (name <- names) {
      val dir = out.resolve(s"$name-1")
      assert(listing(dir) === Set("part-00000", "_SUCCESS"), name)
      assert(Files.size(dir.resolve("_SUCCESS")) === 0L, name)
    }
    assert(listing(out) === names.map(n => s"$n-1").toSet)
  }

  test("writing the same kk twice leaves only the second model's content") {
    val out = Files.createTempDirectory("gstream-snap")
    val (first, second) = (grown(4), grown(20))
    assert(first.prototypeLines !== second.prototypeLines)
    GStream.writeSnapshots(spark, out.toString, first, 9, Seq(0L, 1L, 2L, 3L, 4L))
    GStream.writeSnapshots(spark, out.toString, second, 9, timeUpdates)
    for ((name, lines) <- structures(second)) {
      val dir = out.resolve(s"$name-9")
      assert(listing(dir) === Set("part-00000", "_SUCCESS"), name)
      assert(readLines(dir) === padded(lines), name)
    }
  }

  test("no _tmp dir is left behind, and a crash's stale _tmp is cleared") {
    val out = Files.createTempDirectory("gstream-snap")
    // what a crash mid-write leaves: a half-written temp for the kk the
    // restarted run replays, and one for a kk it will not reach again
    for (stale <- Seq("_tmp-Prototypes-3", "_tmp-Edges-8")) {
      Files.createDirectories(out.resolve(stale))
      Files.write(out.resolve(stale).resolve("part-00000"), "torn".getBytes)
    }
    val m = grown(20)
    GStream.writeSnapshots(spark, out.toString, m, 3, timeUpdates)
    assert(listing(out) === names.map(n => s"$n-3").toSet)
    assert(readLines(out.resolve("Prototypes-3")) === m.prototypeLines)
    GStream.writeSnapshots(spark, out.toString, m, 4, timeUpdates)
    assert(!listing(out).exists(_.startsWith("_tmp-")))
    assert(Files.exists(Paths.get(out.toString, "timeUpdates-4", "_SUCCESS")))
  }
}
