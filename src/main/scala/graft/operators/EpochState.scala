package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE, TRUNCATE_EXISTING, WRITE}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit rule of every exactly-once stream in the library.
  * foreachBatch is at-least-once: a batch whose effects ran but whose
  * `commits/<id>` was never written is delivered again, under the same
  * id, when the query restarts on its checkpoint. A step that is not
  * idempotent (a merge, an append, a G-Stream update) is guarded by:
  *
  *  - [[replayed]]: a batch id at or below the last committed one is
  *    skipped. Batch ids are checkpoint-relative, so the committed id
  *    travels with the checkpoint (a durable fold keeps both in its
  *    state dir) or is paired with the query id (G-Stream's stamped
  *    recovery point, [[graft.streaming.GStream.trainStreaming]]);
  *  - [[publish]]: state becomes visible by atomically renaming a temp
  *    file that was first forced to disk — old or new, never torn;
  *  - [[once]]: a side effect that cannot hide behind a rename (an
  *    index or layout append) is bracketed by intent/applied markers.
  *
  * The table store applies the rule to dimension-sized relational
  * state: versions live under `dir/v=N/` as parquet, and the pointer
  * `dir/_latest` = {"version":N,"epoch":E} names the current one, E
  * being the last applied batch id. [[commit]] writes `v=N+1`, then
  * publishes the pointer; a crash in between leaves an orphan nothing
  * points to, which the replay overwrites. EpochStateSpec (folds) and
  * GStreamCrashSpec (the G-Stream recovery point) drive both crash
  * halves. Single writer: batch N+1 starts only after batch N returned.
  * Old versions are pruned to a keep-window, so a reader that resolved
  * the pointer a moment ago can finish its scan.
  */
object EpochState {

  final case class Pointer(version: Long, epoch: Long)

  private def latest(dir: String) = Paths.get(dir, "_latest")

  private def versionDir(dir: String, v: Long) = Paths.get(dir, s"v=$v")

  /** True when batch `epoch` is at or below the last committed batch
    * id, i.e. it was already applied and must be skipped. */
  def replayed(epoch: Long, committed: Long): Boolean = epoch <= committed

  /** Publish `bytes` at `target` all-or-nothing: write a sibling temp
    * file, force it to disk, then rename it over `target` atomically. */
  def publish(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    val ch = java.nio.channels.FileChannel.open(tmp, CREATE, WRITE, TRUNCATE_EXISTING)
    try {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
  }

  /** Run `sideEffect` for batch `epoch` at most once, tracked by marker
    * files in `dir`; true when it ran. `_applied_<epoch>` present: skip.
    * No marker: lay `_intent_<epoch>`, run, lay `_applied_<epoch>` (the
    * commit point), drop the intent. Intent without applied: an earlier
    * attempt died inside or after the side effect, which may be partial
    * or complete, so re-running it blindly could double it; throw. */
  def once(dir: Path, epoch: Long)(sideEffect: => Unit): Boolean = {
    val applied = dir.resolve(s"_applied_$epoch")
    val intent = dir.resolve(s"_intent_$epoch")
    if (Files.exists(applied)) false
    else {
      if (Files.exists(intent)) throw new IllegalStateException(
        s"EpochState: batch $epoch in $dir has an intent marker but no applied marker: an " +
          "earlier attempt crashed inside or after its side effect. Rebuild the derived data " +
          s"in $dir instead of re-applying it.")
      Files.createFile(intent)
      sideEffect
      Files.createFile(applied)
      Files.delete(intent)
      true
    }
  }

  /** The committed pointer, or None for an uninitialized directory. */
  def readPointer(dir: String): Option[Pointer] =
    if (!Files.exists(latest(dir))) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(latest(dir)))
      Some(Pointer(node.get("version").asLong(), node.get("epoch").asLong()))
    }

  private def publish(dir: String, p: Pointer): Unit =
    publish(latest(dir),
      s"""{"version":${p.version},"epoch":${p.epoch}}""".getBytes("UTF-8"))

  /** Initialize the store with a base state (epoch -1: every real
    * epoch ≥ 0 applies on top). No-op if already initialized — a
    * restarted job must NOT reset committed state to the base. */
  def init(spark: SparkSession, dir: String, base: DataFrame): Unit =
    if (readPointer(dir).isEmpty) {
      Files.createDirectories(Paths.get(dir))
      base.write.mode("overwrite").parquet(versionDir(dir, 0L).toString)
      publish(dir, Pointer(0L, -1L))
    }

  /** The current committed state. */
  def state(spark: SparkSession, dir: String): DataFrame = {
    val p = readPointer(dir).getOrElse(
      throw new IllegalStateException(s"EpochState: $dir is not initialized"))
    spark.read.parquet(versionDir(dir, p.version).toString)
  }

  /** Apply `step` to the current state and commit it under `epoch`.
    * Returns false (and does nothing) when `epoch` was already applied
    * — the idempotent-replay path. `step` must be deterministic given
    * the current state (a replay re-runs it against the SAME version:
    * the pointer only advances after the new version is fully
    * written). */
  def commit(spark: SparkSession, dir: String, epoch: Long, keep: Long = 2)
      (step: DataFrame => DataFrame): Boolean = {
    require(epoch >= 0, s"EpochState: epochs must be >= 0, got $epoch")
    val p = readPointer(dir).getOrElse(
      throw new IllegalStateException(s"EpochState: $dir is not initialized"))
    if (replayed(epoch, p.epoch)) false
    else {
      writeVersion(spark, dir, p, epoch, step)
      publish(dir, Pointer(p.version + 1, epoch))
      prune(dir, p.version + 1, keep)
      true
    }
  }

  /** TIME TRAVEL: the state AS OF an older retained version — the
    * lakehouse read a reproducibility audit runs ("what did the table
    * say when epoch E trained that model?"). Versions inside the
    * commit-time `keep` window are plain parquet under `v=N/`; outside
    * it they are pruned, and the error says so rather than returning a
    * torn or empty frame. */
  def stateAt(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val p = readPointer(dir).getOrElse(
      throw new IllegalStateException(s"EpochState: $dir is not initialized"))
    require(version <= p.version,
      s"EpochState: version $version not committed yet (latest ${p.version})")
    val vd = versionDir(dir, version)
    require(Files.exists(vd),
      s"EpochState: version $version pruned (retained: ${versions(dir).mkString(",")})")
    spark.read.parquet(vd.toString)
  }

  /** Retained version numbers, ascending. */
  def versions(dir: String): Seq[Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      // Files.list holds a directory handle until closed — without the
      // finally, every versions() call (stateAt's error path included)
      // leaks one fd.
      val stream = Files.list(root)
      try {
        val it = stream.iterator()
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith("v=")) out += n.substring(2).toLong
        }
        out.sorted.toSeq
      } finally stream.close()
    }
  }

  /** The commit's first half — everything EXCEPT the pointer publish.
    * Exposed (package-private) so the restart spec can park a commit
    * exactly inside the crash window; production code uses [[commit]]. */
  private[graft] def writeVersion(spark: SparkSession, dir: String, p: Pointer,
      epoch: Long, step: DataFrame => DataFrame): Unit =
    step(spark.read.parquet(versionDir(dir, p.version).toString))
      .write.mode("overwrite").parquet(versionDir(dir, p.version + 1).toString)

  /** Drop version directories older than `keep` behind the committed
    * one — bounded storage without yanking a version a concurrent
    * reader may still be scanning. */
  private def prune(dir: String, current: Long, keep: Long = 2): Unit = {
    var v = current - keep - 1
    while (v >= 0 && Files.exists(versionDir(dir, v))) {
      graft.streaming.StreamingRelational.deleteRecursively(versionDir(dir, v))
      v -= 1
    }
  }
}
