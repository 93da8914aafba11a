package graft.queries

/** The one "build once per data dir, serve many queries" memo behind
  * every shared fixture: stored indexes, trained models, arrival
  * slices, state snapshots (G-Stream's train-once rule, applied to
  * every artifact).
  *
  *   - No build runs inside `ConcurrentHashMap.computeIfAbsent`: builds
  *     nest, and a nested `computeIfAbsent` on one map can throw
  *     "Recursive update" (depending on the dir paths' hashes). The map
  *     only hands out a once-cell per key; the build runs under the
  *     cell's lock.
  *   - A build that throws records nothing: the next call builds again.
  *   - [[sole]] counts this fixture's built dirs only.
  */
final class PerDir[T] {
  private val cells = new java.util.concurrent.ConcurrentHashMap[String, PerDir.Cell[T]]()

  /** The value for data dir `d`, built by `build` on the first call
    * that succeeds; concurrent first callers wait for the one build. */
  def apply(d: String)(build: => T): T =
    cells.computeIfAbsent(d, _ => new PerDir.Cell[T]).get(build)

  /** The value when exactly one dir has built it, else `None` — the
    * dump-time oracles inline it (Verify runs every query over one
    * dir, then reads `oracleSql`). Zero or several dirs leave no
    * unambiguous value, and the queries stay rows-only. */
  def sole: Option[T] = {
    import scala.jdk.CollectionConverters._
    cells.values.asScala.flatMap(_.built).toList match {
      case Seq(v) => Some(v)
      case _ => None
    }
  }
}

object PerDir {
  /** One key's once-cell: empty until a build returns. */
  private final class Cell[T] {
    @volatile private var value: Option[T] = None

    def built: Option[T] = value

    def get(build: => T): T = value match {
      case Some(v) => v
      case None => synchronized {
        value match {
          case Some(v) => v
          case None =>
            val v = build
            value = Some(v)
            v
        }
      }
    }
  }

  /** A fresh directory under [[graft.streaming.StreamingRelational.scratchBase]],
    * deleted at JVM exit by the one scratch hook. */
  def scratch(tag: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(
      graft.streaming.StreamingRelational.scratchBase, tag)
    graft.streaming.StreamingRelational.registerScratch(dir)
    dir
  }
}
