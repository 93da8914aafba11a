package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.SparkTestSupport

/** The reference-compatible CLI wiring: seed from nodes2.txt, stream
  * the other files of dirData (textFileStream parity: the seed file is
  * excluded by name), snapshot + model checkpoint under dirSortie. */
class GStreamRunSpec extends AnyFunSuite with SparkTestSupport {

  test("start(): seeds from nodes2.txt, trains on post-start files, snapshots") {
    val dirData = Files.createTempDirectory("gsr-in").toString
    val dirSortie = Files.createTempDirectory("gsr-out").toString
    // the reference's seed fixture shape: 2 CSV rows, last two cols label+id
    Files.write(Paths.get(dirData, "nodes2.txt"), "122,199,1,1\n243,434,2,2".getBytes)

    val q = GStreamRun.start(spark, dirData, dirSortie, ",",
      decayFactor = 0.9, lambdaAge = 1.2, nbNodesToAdd = 3, nbWind = 9)
    try {
      Thread.sleep(1500) // ensure batch files are strictly newer than start
      val rng = new scala.util.Random(5)
      for (b <- 0 until 3) {
        val lines = (1 to 50).map { i =>
          val (cx, cy) = if (i % 2 == 0) (120.0, 200.0) else (240.0, 430.0)
          f"${cx + rng.nextGaussian()}%.3f,${cy + rng.nextGaussian()}%.3f,${i % 2},${b * 50 + i}"
        }
        Files.write(Paths.get(dirData, s"batch-$b.csv"), lines.mkString("\n").getBytes)
        Thread.sleep(300)
      }
      val deadline = System.currentTimeMillis() + 60000
      // timeUpdates is the LAST structure writeSnapshots emits; wait for
      // its _SUCCESS marker (the dir is published by one rename only after
      // its part file and marker are written, and model-latest.bin already
      // exists from batch 1) — anything earlier races stop()
      def done = Files.exists(Paths.get(dirSortie, "timeUpdates-3", "_SUCCESS")) &&
        Files.exists(Paths.get(dirSortie, "_model", "model-latest.bin"))
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(done, "expected timeUpdates-3 snapshot and model checkpoint")
    } finally q.stop()

    // timeUpdates: cumulative per-batch update ms, leading 0 sentinel
    // (reference batchStream.scala:84,92 — golden timeUpdates-92 shape)
    val tu = Files.list(Paths.get(dirSortie, "timeUpdates-3")).toArray
      .map(_.toString)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith("part-"))
      .filterNot(_.endsWith(".crc")).sorted
      .flatMap(p => scala.io.Source.fromFile(p).getLines().toSeq)
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)
    assert(tu.length === 4, s"expected 0 + 3 cumulative entries, got ${tu.toSeq}")
    assert(tu.head === 0L)
    assert(tu.toSeq === tu.toSeq.sorted, "cumulative ms must be non-decreasing")

    // restored checkpoint matches the live model (payload = (kk, model))
    val (restored, restoredKk) = graft.model.GngModel.loadState(
      Paths.get(dirSortie, "_model", "model-latest.bin"))
    assert(restored.nodeCount >= 2)
    assert(restoredKk === 3, "checkpoint must carry the batch counter")
    // snapshots exist from the first batch (kk=1) and every batch
    // (nbWind=9 → step 1 → the {1..8}·step branch fires each kk)
    assert(Files.exists(Paths.get(dirSortie, "Prototypes-1")))
    assert(Files.exists(Paths.get(dirSortie, "Edges-2")))
    assert(Files.exists(Paths.get(dirSortie, "Weights-3")))

    // Edges rows render reference-exact: `ArrayBuffer(0, 1, ...)`
    // (batchStream.scala:99 writes ArrayBuffer.toString; golden
    // conf/test/results/DS1-200-3/Edges-92/part-00000) so new snapshot
    // dirs byte-diff cleanly against old golden dirs
    val edgeRows = Files.list(Paths.get(dirSortie, "Edges-2")).toArray
      .map(_.toString)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith("part-"))
      .filterNot(_.endsWith(".crc")).sorted
      .flatMap(p => scala.io.Source.fromFile(p).getLines().toSeq)
      .filter(_.nonEmpty)
    assert(edgeRows.nonEmpty)
    assert(edgeRows.forall(_.matches("""ArrayBuffer\(\d+(, \d+)*\)""")),
      s"Edges rows must match the reference ArrayBuffer rendering: ${edgeRows.head}")
  }

  test("referenceCadence(91) reproduces the committed golden checkpoint set") {
    // reference batchStream.scala:95 with the DS1-200 run's nbWind=91 and
    // 92 non-empty batches — golden dirs conf/test/results/DS1-200-3/*
    val kks = (1 to 92).filter(GStream.referenceCadence(91))
    assert(kks === Seq(1, 10, 20, 30, 40, 50, 60, 70, 80, 89, 90, 91, 92))
  }

  test("referenceCadence matches the reference's left-assoc division for nbWind%9>=2") {
    // reference `kk == i*nbWind/9` floors the PRODUCT: nbWind=92 →
    // marks 10,20,30,40,51,61,71,81 (NOT 50/60/70/80 = i*floor(92/9))
    val kks = (1 to 93).filter(GStream.referenceCadence(92))
    assert(kks === Seq(1, 10, 20, 30, 40, 51, 61, 71, 81, 90, 91, 92, 93))
  }

  test("referenceCadence small-nbWind degenerate cases snapshot every late batch") {
    // nbWind=5: ⌊i·5/9⌋ marks {1,2,3,4} (reference would too — e.g.
    // kk=2 == 4*5/9), then kk>=nbWind-2 covers everything from 3 up
    val kks = (1 to 12).filter(GStream.referenceCadence(5))
    assert(kks === Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
  }

  test("a restarted stream resumes training from the model checkpoint") {
    val dirData = Files.createTempDirectory("gsr2-in").toString
    val outDir = Files.createTempDirectory("gsr2-out").toString
    val state = s"$outDir/_model"
    import spark.implicits._
    val base = System.currentTimeMillis() - 60000
    def batch(dir: String, b: Int): Unit = {
      val lines = (1 to 40).map { i =>
        val (cx, cy) = if (i % 2 == 0) (0.0, 0.0) else (80.0, 80.0)
        f"${cx + (i % 9)}%.1f,${cy + (i % 7)}%.1f,${i % 2},${b * 100 + i}"
      }
      val f = Paths.get(dir, s"b$b.csv")
      Files.write(f, lines.mkString("\n").getBytes)
      // strictly increasing mtimes: every run sees the batches in order
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + b * 1000L))
    }
    // the seed points reappear in batch 0 (ids 1 and 2), each won by
    // the OTHER seed's node — so every arrival counts
    def freshModel = GStream.bootstrap(
      GStream.parseCsvPoints(spark.createDataset(Seq("0,0,0,1", "80,80,1,2")).toDF("value")),
      graft.model.GngParams())
    def counts(m: graft.model.GngModel) =
      (m.nodes ++ m.outdatedNodes ++ m.isolatedNodes).map(p => p.id -> p.nAssigned).toMap
    def total(m: graft.model.GngModel) = counts(m).values.sum

    // phase 1: fresh model, two batches
    batch(dirData, 0); batch(dirData, 1)
    val q1 = GStream.trainStreaming(spark, dirData, freshModel,
      stateDir = Some(state), triggerMs = 50L)
    val deadline1 = System.currentTimeMillis() + 30000
    while (!Files.exists(Paths.get(state, "model-latest.bin")) &&
      System.currentTimeMillis() < deadline1) Thread.sleep(200)
    q1.processAllAvailable(); q1.stop()
    val (afterPhase1, kkPhase1) = graft.model.GngModel.loadState(
      Paths.get(state, "model-latest.bin"))
    assert(kkPhase1 === 2)
    val totalPhase1 = total(afterPhase1)
    assert(totalPhase1 === 2L + 80L, "both seeds + every phase-1 point, each once")

    // phase 2: RESTART on the same state dir, new files arrive; the
    // fresh model is ignored, and the checkpoint skips b0 and b1
    batch(dirData, 2); batch(dirData, 3)
    val q2 = GStream.trainStreaming(spark, dirData, freshModel,
      stateDir = Some(state), triggerMs = 50L)
    q2.processAllAvailable(); q2.stop()
    val (restarted, kkRestarted) = graft.model.GngModel.loadState(
      Paths.get(state, "model-latest.bin"))
    assert(kkRestarted === 4)
    // the resumed model added exactly the 80 valid phase-2 points to the
    // phase-1 counts — nothing lost, nothing counted twice
    assert(total(restarted) === totalPhase1 + 80L)

    // a never-killed run over the same four batches: identical per-node
    // counts, live and archived
    val dirOnce = Files.createTempDirectory("gsr2-once").toString
    val stateOnce = Files.createTempDirectory("gsr2-once-out").toString
    (0 until 4).foreach(batch(dirOnce, _))
    val qOnce = GStream.trainStreaming(spark, dirOnce, freshModel,
      stateDir = Some(stateOnce), triggerMs = 50L)
    qOnce.processAllAvailable(); qOnce.stop()
    val (once, kkOnce) = graft.model.GngModel.loadState(Paths.get(stateOnce, "model-latest.bin"))
    assert(kkOnce === 4)
    assert(counts(restarted) === counts(once))
    assert(restarted.prototypeLines === once.prototypeLines)
  }

  test("start() on the same dirSortie resumes from the recovery point, not nodes2.txt") {
    val base = System.currentTimeMillis() - 60000
    def batch(dir: java.nio.file.Path, b: Int): Unit = {
      val lines = (1 to 40).map { i =>
        val (cx, cy) = if (i % 2 == 0) (0.0, 0.0) else (80.0, 80.0)
        f"${cx + (i % 9) + b}%.1f,${cy + (i % 7) - b}%.1f,${i % 2},${b * 100 + i}"
      }
      val f = dir.resolve(s"b$b.csv")
      Files.write(f, lines.mkString("\n").getBytes)
      // strictly increasing mtimes: every run sees the batches in order
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + b * 1000L))
    }
    def input(batches: Int*) = {
      val dir = Files.createTempDirectory("gsr3-in")
      Files.write(dir.resolve("nodes2.txt"), "0,0,0,1\n80,80,1,2".getBytes)
      batches.foreach(batch(dir, _))
      dir
    }
    def start(in: java.nio.file.Path, out: String, decayFactor: Double = 0.9) =
      GStreamRun.start(spark, in.toString, out, ",",
        decayFactor = decayFactor, lambdaAge = 1.2, nbNodesToAdd = 3, nbWind = 4)
    def run(in: java.nio.file.Path, out: String) = {
      val q = start(in, out)
      try q.processAllAvailable() finally q.stop()
      graft.model.GngModel.loadState(Paths.get(out, "_model", "model-latest.bin"))
    }

    // files 1-2, stop; they rotate away and files 3-4 arrive; restart
    val dirData = input(1, 2)
    val dirSortie = Files.createTempDirectory("gsr3-out").toString
    assert(run(dirData, dirSortie)._2 === 2)
    Files.delete(dirData.resolve("b1.csv")); Files.delete(dirData.resolve("b2.csv"))
    batch(dirData, 3); batch(dirData, 4)
    val (resumed, kk) = run(dirData, dirSortie)
    assert(kk === 4, "the restart continues the batch counter over files 3-4")

    val (once, kkOnce) = run(input(1, 2, 3, 4), Files.createTempDirectory("gsr3-once").toString)
    assert(kkOnce === 4)
    assert(resumed.prototypeLines === once.prototypeLines)
    assert(resumed.edgeLines === once.edgeLines)
    assert(resumed.weightLines === once.weightLines)

    // a recovery point trained under other params, or one whose Spark
    // checkpoint is gone, fails at start instead of training on
    val wrong = intercept[IllegalArgumentException](start(dirData, dirSortie, decayFactor = 0.5))
    assert(wrong.getMessage.contains("was trained with"))
    StreamingRelational.deleteRecursively(Paths.get(dirSortie, "_model", "_ckpt"))
    val orphan = intercept[IllegalArgumentException](start(dirData, dirSortie))
    assert(orphan.getMessage.contains("Spark checkpoint"))
  }
}
