package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.GngParams

/** Drop-in CLI entry point with the reference's exact argument contract
  * (batchStreamRun.scala:18-26): 9 positional args
  *
  * {{{ master dirData dirSortie DSname separator decayFactor lambdaAge nbNodesToAdd nbWind }}}
  *
  * Bootstraps a 2-node model from `dirData/nodes2.txt` (the reference's
  * static seed scan, batchStreamRun.scala:37), streams CSV files
  * appearing in `dirData` as micro-batches at the reference's 100 ms
  * trigger (:32-33), trains G-Stream, and writes
  * Prototypes/OutdatedProtos/Edges/Weights/timeUpdates snapshots under
  * `dirSortie` at the reference's exact checkpoint cadence
  * (batchStream.scala:95-101). A user of the reference runs this main
  * with their existing arguments unchanged; `DSname` and `nbWind` keep
  * their reference roles (output labeling / total-window count used for
  * the snapshot cadence).
  *
  * A restart with the same `dirSortie` resumes: `dirSortie/_model` is
  * the stream's state dir ([[GStream.trainStreaming]]'s `stateDir`), with
  * the Spark checkpoint in `_ckpt` next to the recovery point
  * `model-latest.bin`. The stored model and its batch counter replace
  * the `nodes2.txt` bootstrap, and files the checkpoint already
  * consumed — or that were rotated away — are never trained on again.
  */
object GStreamRun {

  def main(args: Array[String]): Unit = {
    require(args.length >= 9,
      "usage: master dirData dirSortie DSname separator decayFactor lambdaAge nbNodesToAdd nbWind")
    val Array(master, dirData, dirSortie, dsName, separator,
      decayFactor, lambdaAge, nbNodesToAdd, nbWind) = args.take(9)
    val spark = graft.util.GraftSession.tuned(SparkSession.builder())
      .master(master)
      .appName(s"g-stream-$dsName")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    val q = start(spark, dirData, dirSortie, separator,
      decayFactor.toDouble, lambdaAge.toDouble, nbNodesToAdd.toInt, nbWind.toInt)
    q.awaitTermination() // reference blocks forever (batchStreamRun.scala:64-65)
  }

  /** Testable wiring: returns the running query instead of blocking. */
  def start(spark: SparkSession, dirData: String, dirSortie: String,
      separator: String, decayFactor: Double, lambdaAge: Double,
      nbNodesToAdd: Int, nbWind: Int): StreamingQuery = {
    val params = GngParams(decayFactor = decayFactor, lambdaAge = lambdaAge,
      nbNodesToAdd = nbNodesToAdd)
    // bootstrap scan: first two rows of nodes2.txt (reference takes
    // exactly 2; batchStream.scala:72-78; it scans them at every start,
    // batchStreamRun.scala:37). A restart resumes from the state dir and
    // ignores this model.
    val seed = GStream.parseCsvPoints(
      spark.read.text(s"$dirData/nodes2.txt").limit(2), separator)
    // reference-exact snapshot cadence (batchStream.scala:95):
    // kk ∈ {1, ⌊nbWind/9⌋·{1..8}, every 10th past 8⌊nbWind/9⌋+10, ≥nbWind−2}
    GStream.trainStreaming(spark, dirData, GStream.bootstrap(seed, params), separator,
      outDir = Some(dirSortie),
      snapshotAt = GStream.referenceCadence(nbWind),
      stateDir = Some(java.nio.file.Paths.get(dirSortie, "_model").toString),
      // the seed file is never re-ingested as a batch (textFileStream
      // parity for the one pre-existing file the reference layout has)
      excludeFiles = Seq("nodes2.txt"))
  }
}
