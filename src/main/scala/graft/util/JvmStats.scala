package graft.util

/** JVM-level measurement helpers for the bench main ([[graft.Bench]]). */
object JvmStats {
  /** Total GC time (ms) summed over all collectors since JVM start. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
}
