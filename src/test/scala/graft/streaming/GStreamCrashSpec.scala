package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._
import graft.SparkTestSupport
import graft.model.{GngModel, GngParams, Point}

/** The crash window of streamed G-Stream training. Each batch moves the
  * (kk, model) recovery point into place, and only then does Spark write
  * `commits/<id>`. Deleting the last `commits/<id>` and restarting on the
  * same checkpoint makes Spark deliver that batch again under the same
  * id, which is what a crash between the two writes does. Both halves
  * must end equal to the run that was never killed:
  *  - the recovery point already holds the batch: it is skipped;
  *  - the recovery point is from the batch before: it applies once. */
class GStreamCrashSpec extends AnyFunSuite with SparkTestSupport {

  private val nBatches = 12
  private val perBatch = 200

  /** GStreamRestartSpec's deterministic 2-D two-cluster stream. */
  private def points: IndexedSeq[Point] =
    (0L until (nBatches * perBatch).toLong).map { i =>
      val c = if (i % 2 == 0) (120.0, 200.0) else (240.0, 430.0)
      Point(Array(
        c._1 + 15 * math.sin(i * 0.37), c._2 + 15 * math.cos(i * 0.73)),
        (i % 2).toInt, i)
    }

  /** Batches [0, n) as one CSV file each, with increasing mtimes. */
  private def writeBatches(dir: Path, n: Int): Unit = {
    val base = System.currentTimeMillis()
    for (b <- 0 until n) {
      val lines = points.filter(_.id % nBatches == b).map(p =>
        String.format(java.util.Locale.ROOT, "%.10f,%.10f,%d,%d",
          Double.box(p.features(0)), Double.box(p.features(1)),
          Int.box(p.label), Long.box(p.id)))
      val f = dir.resolve(f"batch-$b%03d.csv")
      Files.write(f, lines.mkString("\n").getBytes)
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + b * 10L))
    }
  }

  private def freshModel: GngModel = {
    val byId = points.sortBy(_.id)
    new GngModel(GngParams(), 2).init2Nodes(byId(0), byId(1))
  }

  private def scratch(prefix: String): Path = graft.queries.PerDir.scratch(prefix)

  private def drain(q: StreamingQuery): Unit = try q.processAllAvailable() finally q.stop()

  /** The newest batch id in the checkpoint's commit log. */
  private def lastCommitted(ckpt: Path): Long = {
    val s = Files.list(ckpt.resolve("commits"))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    finally s.close()
  }

  /** The state a crash before `commits/<id>` leaves: no commit entry. */
  private def uncommit(ckpt: Path, batchId: Long): Unit = {
    Files.delete(ckpt.resolve(s"commits/$batchId"))
    Files.deleteIfExists(ckpt.resolve(s"commits/.$batchId.crc"))
  }

  private def assertSame(expected: (GngModel, Int), actual: (GngModel, Int)): Unit = {
    assert(actual._2 === expected._2, "kk")
    assert(actual._1.prototypeLines === expected._1.prototypeLines)
    assert(actual._1.weightLines === expected._1.weightLines)
    assert(actual._1.edgeLines === expected._1.edgeLines)
    assert(actual._1.errors.toSeq === expected._1.errors.toSeq)
  }

  test("a batch delivered again after a crash applies exactly once, in both halves of the window") {
    val in = scratch("gsc-in")
    val state = scratch("gsc-state")
    val ckpt = state.resolve("_ckpt")
    val latest = state.resolve("model-latest.bin")
    val before = scratch("gsc-before").resolve("model-before.bin")
    writeBatches(in, nBatches)
    // every run passes the fresh model; a restart ignores it and resumes
    // from the state dir
    def train(onBatch: (Int, Long) => Unit) =
      GStream.trainStreaming(spark, in.toString, freshModel, triggerMs = 1L,
        stateDir = Some(state.toString), onBatch = onBatch)

    // the never-killed run; onBatch fires before a batch's recovery point
    // is published, so at the last kk the file still holds the batch before
    drain(train((kk, _) => if (kk == nBatches) Files.copy(latest, before)))
    val full = GngModel.loadState(latest)
    assert(full._2 === nBatches)
    val last = lastCommitted(ckpt)

    // (b) the crash came before the last recovery point moved into place:
    // the file holds the batch before, and the last batch is uncommitted
    uncommit(ckpt, last)
    Files.copy(before, latest, StandardCopyOption.REPLACE_EXISTING)
    assert(GngModel.loadState(latest)._2 === nBatches - 1)
    val seenB = scala.collection.mutable.ArrayBuffer[Int]()
    drain(train((kk, _) => seenB += kk))
    assert(seenB.toSeq === Seq(nBatches), "the uncommitted batch applies once")
    assertSame(full, GngModel.loadState(latest))

    // (a) the crash came after the recovery point moved into place and
    // before Spark wrote commits/<last>: the batch arrives again, skipped
    uncommit(ckpt, last)
    val seenA = scala.collection.mutable.ArrayBuffer[Int]()
    drain(train((kk, _) => seenA += kk))
    assert(Files.exists(ckpt.resolve(s"commits/$last")), "Spark delivered the batch again")
    assert(seenA.isEmpty, s"the delivered-again batch was applied a second time: kk $seenA")
    assertSame(full, GngModel.loadState(latest))
  }
}
