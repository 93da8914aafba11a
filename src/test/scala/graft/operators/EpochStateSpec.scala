package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSupport
import scala.jdk.CollectionConverters._

/** The exactly-once contract of the epoch-stamped state store: the
  * incremental-agg merge is associative but NOT idempotent, so the
  * two crash halves around a commit must both be provably
  * double-apply-free (the GStreamRestartSpec discipline applied to the
  * relational state loop). Fixture values are binary-exact doubles so
  * equality assertions are bit-exact regardless of merge order. */
class EpochStateSpec extends AnyFunSuite with SparkTestSupport {
  import spark.implicits._

  private def agg(rows: Seq[(String, Double)]): DataFrame =
    IncrementalAgg.aggState(rows.toDF("k", "v"), Seq(col("k")), col("v"))

  private def mergeStep(inc: DataFrame): DataFrame => DataFrame =
    state => IncrementalAgg.merge(state, inc, Seq("k"))

  private def snap(dir: String): Map[String, (Long, Double)] =
    EpochState.state(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  private def tmpDir(tag: String): String = graft.queries.PerDir.scratch(tag).toString

  test("replay after a COMPLETED commit is a no-op (epoch guard)") {
    val dir = tmpDir("epoch-replay")
    EpochState.init(spark, dir, agg(Seq("a" -> 1.0)))
    val inc = agg(Seq("a" -> 2.0, "b" -> 4.0))
    assert(EpochState.commit(spark, dir, epoch = 0)(mergeStep(inc)))
    val once = snap(dir)
    assert(once === Map("a" -> ((2L, 3.0)), "b" -> ((1L, 4.0))))
    // at-least-once re-delivery: the SAME epoch arrives again — the
    // guard must skip it, or the non-idempotent merge double-counts
    assert(!EpochState.commit(spark, dir, epoch = 0)(mergeStep(inc)))
    assert(snap(dir) === once, "re-applied epoch must not change state")
    // re-init on committed state is a no-op too (a restarted job must
    // not reset to the base snapshot)
    EpochState.init(spark, dir, agg(Seq("z" -> 99.0)))
    assert(snap(dir) === once)
    // epochs below the stamp are refused even if never seen (the
    // single-writer non-decreasing contract)
    assert(!EpochState.commit(spark, dir, epoch = -0)(mergeStep(inc)))
  }

  test("crash BETWEEN version write and pointer publish: replay applies exactly once") {
    val dir = tmpDir("epoch-crash")
    EpochState.init(spark, dir, agg(Seq("a" -> 1.0)))
    assert(EpochState.commit(spark, dir, epoch = 0)(mergeStep(agg(Seq("a" -> 2.0)))))
    val committed = snap(dir)
    // the crash half: the new version is fully written, the pointer is
    // NOT — exactly the window where a naive loop double-counts
    val p = EpochState.readPointer(dir).get
    val inc = agg(Seq("a" -> 8.0, "c" -> 16.0))
    EpochState.writeVersion(spark, dir, p, epoch = 1, mergeStep(inc))
    // readers still see the committed state: the orphan is invisible
    assert(snap(dir) === committed)
    assert(EpochState.readPointer(dir).get === p)
    // restart replays epoch 1 through the normal path — it must apply
    // ONCE (the orphan version is overwritten, not merged onto)
    assert(EpochState.commit(spark, dir, epoch = 1)(mergeStep(inc)))
    assert(snap(dir) === Map("a" -> ((3L, 11.0)), "c" -> ((1L, 16.0))))
    // and a second replay of the same epoch is now guarded
    assert(!EpochState.commit(spark, dir, epoch = 1)(mergeStep(inc)))
    assert(snap(dir) === Map("a" -> ((3L, 11.0)), "c" -> ((1L, 16.0))))
  }

  test("stream restart end-to-end: kill in the crash window, resume, state == one clean run") {
    val stateDir = tmpDir("epoch-stream")
    val streamDir = tmpDir("epoch-stream-src")
    def writeFile(name: String, rows: Seq[(String, Double)]): Unit =
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite")
        .parquet(s"$streamDir/$name")
    def stream = spark.readStream.schema("k STRING, v DOUBLE")
      .option("pathGlobFilter", "*.parquet").parquet(s"$streamDir/*")
    val step: (DataFrame, DataFrame) => DataFrame = (state, batch) =>
      IncrementalAgg.merge(state,
        IncrementalAgg.aggState(batch, Seq(col("k")), col("v")), Seq("k"))
    val init = agg(Seq("a" -> 1.0))
    def fold(): DataFrame = graft.streaming.StreamingRelational.oneShotFoldMany(
      spark, stream, Seq(init), (st, batch, _) => Seq(step(st.head, batch)),
      stateDir = Some(stateDir)).head

    // run 1: one file, commits under its batch id
    writeFile("f1", Seq("a" -> 2.0, "b" -> 4.0))
    fold()
    val afterRun1 = snap(stateDir)
    assert(afterRun1 === Map("a" -> ((2L, 3.0)), "b" -> ((1L, 4.0))))

    // new data arrives; the job dies AFTER merging it into a new state
    // version but BEFORE the commit publishes — the exact window a
    // naive `state := merge(state, batch); persist(state)` loop
    // double-counts on restart
    writeFile("f2", Seq("b" -> 8.0, "c" -> 16.0))
    val p = EpochState.readPointer(stateDir).get
    EpochState.writeVersion(spark, stateDir, p, epoch = p.epoch + 1,
      mergeStep(agg(Seq("b" -> 8.0, "c" -> 16.0))))
    assert(snap(stateDir) === afterRun1, "un-published version must stay invisible")

    // restart with the SAME state dir (checkpoint travels inside it):
    // the file source re-delivers f2 under the same batch id; the
    // commit applies exactly once
    fold()
    val expected = Map("a" -> ((2L, 3.0)), "b" -> ((2L, 12.0)), "c" -> ((1L, 16.0)))
    assert(snap(stateDir) === expected)

    // a further restart with no new data replays nothing
    fold()
    assert(snap(stateDir) === expected)
  }

  test("time travel: retained versions read AS OF, pruned ones fail loud") {
    val dir = tmpDir("es-travel")
    EpochState.init(spark, dir, agg(Seq(("a", 1.0))))
    for (e <- 0 to 3)
      EpochState.commit(spark, dir, e.toLong, keep = 10L)(
        mergeStep(agg(Seq(("a", 1.0)))))
    assert(EpochState.versions(dir) === Seq(0L, 1L, 2L, 3L, 4L))
    // as-of version 2 = base + epochs 0,1 -> count 3
    val v2 = EpochState.stateAt(spark, dir, 2L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2 === Map("a" -> 3L))
    assert(EpochState.readPointer(dir).get.version === 4L,
      "the pointer must have moved past the travelled-to version")
    // default keep window prunes: a tight-keep store loses v0
    val dir2 = tmpDir("es-travel2")
    EpochState.init(spark, dir2, agg(Seq(("a", 1.0))))
    for (e <- 0 to 3)
      EpochState.commit(spark, dir2, e.toLong)(mergeStep(agg(Seq(("a", 1.0)))))
    assert(!EpochState.versions(dir2).contains(0L), "v0 should be pruned at keep=2")
    val err = intercept[IllegalArgumentException] {
      EpochState.stateAt(spark, dir2, 0L)
    }
    assert(err.getMessage.contains("pruned"))
    // a version beyond the pointer is refused
    val err2 = intercept[IllegalArgumentException] {
      EpochState.stateAt(spark, dir, 99L)
    }
    assert(err2.getMessage.contains("not committed"))
  }

  test("once: an applied marker skips the side effect") {
    val dir = java.nio.file.Paths.get(tmpDir("once-applied"))
    java.nio.file.Files.createFile(dir.resolve("_applied_3"))
    var runs = 0
    assert(!EpochState.once(dir, 3L)(runs += 1))
    assert(runs === 0)
  }

  test("once: a fresh batch runs once and leaves only the applied marker") {
    val dir = java.nio.file.Paths.get(tmpDir("once-fresh"))
    var runs = 0
    assert(EpochState.once(dir, 5L) {
      assert(java.nio.file.Files.exists(dir.resolve("_intent_5")), "intent precedes the side effect")
      runs += 1
    })
    assert(runs === 1)
    val left = {
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
    }
    assert(left === Set("_applied_5"))
    // the re-delivery of the same batch is now skipped
    assert(!EpochState.once(dir, 5L)(runs += 1))
    assert(runs === 1)
  }

  test("once: an intent marker without an applied marker fails loudly, naming dir and batch") {
    val dir = java.nio.file.Paths.get(tmpDir("once-torn"))
    java.nio.file.Files.createFile(dir.resolve("_intent_7"))
    var runs = 0
    val e = intercept[IllegalStateException](EpochState.once(dir, 7L)(runs += 1))
    assert(runs === 0)
    assert(e.getMessage.contains(dir.toString), e.getMessage)
    assert(e.getMessage.contains("batch 7"), e.getMessage)
  }

  test("a durable fold given two states fails fast: EpochState commits one table per pointer") {
    val stateDir = tmpDir("epoch-two")
    val s = agg(Seq("a" -> 1.0))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingRelational.oneShotFoldMany(
        spark, spark.readStream.schema("k STRING, v DOUBLE").parquet(tmpDir("epoch-two-src")),
        Seq(s, s), (st, _, _) => st, stateDir = Some(stateDir))
    }
    assert(e.getMessage.contains("one table per EpochState pointer"), e.getMessage)
    assert(EpochState.readPointer(stateDir).isEmpty, "nothing may be initialized")
  }
}
