package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import graft.SparkTestSupport
import graft.model.{GngModel, GngParams, Point}

/** Kill-and-restart at the gng_throughput scale (92 files × 200 2-D
  * points — the DS1-200 run shape): a run killed mid-stream and resumed
  * on the SAME state dir (the (kk, model) recovery point and the Spark
  * streaming checkpoint) must end bit-identical to a never-killed run.
  * This is the restart contract at the scale the BASELINE.md measurement runs, not
  * just the unit-scale case in GStreamRunSpec. */
class GStreamRestartSpec extends AnyFunSuite with SparkTestSupport {

  private val nBatches = 92
  private val perBatch = 200

  /** The gng_throughput generator: deterministic 2-D two-cluster stream. */
  private def points: IndexedSeq[Point] =
    (0L until (nBatches * perBatch).toLong).map { i =>
      val c = if (i % 2 == 0) (120.0, 200.0) else (240.0, 430.0)
      Point(Array(
        c._1 + 15 * math.sin(i * 0.37), c._2 + 15 * math.cos(i * 0.73)),
        (i % 2).toInt, i)
    }

  /** Write batches [from, until) as one CSV file each, with strictly
    * increasing modification times so the file source's arrival order
    * is the batch order in every run. */
  private def writeBatches(dir: Path, from: Int, until: Int): Unit = {
    val base = System.currentTimeMillis()
    for (b <- from until until) {
      val lines = points.filter(_.id % nBatches == b).map(p =>
        String.format(java.util.Locale.ROOT, "%.10f,%.10f,%d,%d",
          Double.box(p.features(0)), Double.box(p.features(1)),
          Int.box(p.label), Long.box(p.id)))
      val f = dir.resolve(f"batch-$b%03d.csv")
      Files.write(f, lines.mkString("\n").getBytes)
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(base + b * 10L))
    }
  }

  private def freshModel: GngModel = {
    val byId = points.sortBy(_.id)
    new GngModel(GngParams(), 2).init2Nodes(byId(0), byId(1))
  }

  private def scratch(prefix: String): Path = graft.queries.PerDir.scratch(prefix)

  test("kill at batch 46 + resume from (kk, model) ends bit-identical to a continuous run") {
    // ---- run A: all 92 files, never killed
    val dirA = scratch("gsr92-a-in")
    val mdlA = scratch("gsr92-a-state").toString
    writeBatches(dirA, 0, nBatches)
    val qA = GStream.trainStreaming(spark, dirA.toString, freshModel,
      triggerMs = 1L, stateDir = Some(mdlA))
    try qA.processAllAvailable() finally qA.stop()
    val (modelA, kkA) = GngModel.loadState(Paths.get(mdlA, "model-latest.bin"))
    assert(kkA === nBatches)

    // ---- run B: first 46 files, stop (the "kill") ...
    val dirB = scratch("gsr92-b-in")
    val mdlB = scratch("gsr92-b-state").toString
    writeBatches(dirB, 0, 46)
    val qB1 = GStream.trainStreaming(spark, dirB.toString, freshModel,
      triggerMs = 1L, stateDir = Some(mdlB))
    try qB1.processAllAvailable() finally qB1.stop()
    val midKk = GngModel.loadState(Paths.get(mdlB, "model-latest.bin"))._2
    assert(midKk === 46, "the recovery point carries the batch counter")

    // ... then RESTART on the same state dir with a fresh model: the
    // stream resumes the stored model and kk, the source WAL skips the
    // 46 consumed files, and the remaining files arrive
    writeBatches(dirB, 46, nBatches)
    val batchesSeen = scala.collection.mutable.ArrayBuffer[Int]()
    val qB2 = GStream.trainStreaming(spark, dirB.toString, freshModel,
      triggerMs = 1L, stateDir = Some(mdlB),
      onBatch = (kk, _) => batchesSeen += kk)
    try qB2.processAllAvailable() finally qB2.stop()
    val (modelB, kkB) = GngModel.loadState(Paths.get(mdlB, "model-latest.bin"))

    // resumed run counted 47..92 — no reset, no double-count
    assert(batchesSeen.headOption === Some(47), s"resume must continue kk: $batchesSeen")
    assert(kkB === nBatches)

    // bit-identical end state: same prototypes, weights, edges, errors
    assert(modelB.nodeCount === modelA.nodeCount)
    assert(modelB.prototypeLines === modelA.prototypeLines)
    assert(modelB.weightLines === modelA.weightLines)
    assert(modelB.edgeLines === modelA.edgeLines)
    assert(modelB.errors.toSeq === modelA.errors.toSeq)
  }
}
