package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span. Times are epoch microseconds so they line up with
  * the epoch-millisecond times Spark puts on job and progress events. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long)

/** Work counters of one Spark job, filled from listener events. */
final class JobRec(val jobId: Int, val scope: String, val streamRunId: String,
    val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var resultBytes = 0L
  var spillBytes = 0L
}

/** Everything the benchmark observes about one run, from outside the
  * library: streaming progress events (always, because the end-to-end
  * batch times come from them), and, when traced, spans around the
  * benchmark's calls into each layer plus per-job work counters from a
  * SparkListener. Spans and counters stay in memory until the end. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L

  /** Label attached to streaming runs started while it is set, and to
    * Spark jobs through a local property that stream threads inherit. */
  @volatile private var phase: String = "setup"
  def setPhase(p: String): Unit = {
    phase = p
    spark.sparkContext.setLocalProperty(Recorder.ScopeKey, p)
  }

  // ---- streaming progress (every mode)
  private val runPhase = new ConcurrentHashMap[String, String]()
  val progress = new ConcurrentLinkedQueue[(String, String)]() // (phase, json)

  private val queryListener = new StreamingQueryListener {
    // onQueryStarted runs on the thread that calls start(), so the
    // phase read here is the one the benchmark set for that call
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runPhase.put(e.runId.toString, phase)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((runPhase.getOrDefault(e.progress.runId.toString, "unknown"), e.progress.json))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(queryListener)

  // ---- spans (traced mode)
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L

  /** Time `body` as a span under `parent`; the body gets its own span id
    * for children. Untraced runs pass through with id 0. */
  def span[T](name: String, layer: String, parent: Long)(body: Long => T): T =
    if (!traced) body(0L)
    else {
      val id = spans.synchronized { nextId += 1; nextId }
      val s = nowUs
      try body(id)
      finally {
        val e = nowUs
        spans.synchronized { spans += Span(id, parent, name, layer, s, e) }
      }
    }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  // ---- Spark job counters (traced mode)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val rec = new JobRec(e.jobId,
        props.map(_.getProperty(Recorder.ScopeKey)).flatMap(Option(_)).getOrElse("none"),
        props.map(_.getProperty("sql.streaming.queryId")).flatMap(Option(_)).getOrElse(""),
        e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      forStage(e.stageInfo.stageId)(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = forStage(e.stageId) { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.resultBytes += m.resultSize
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    private def forStage(stageId: Int)(f: JobRec => Unit): Unit =
      Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized(f(j))
      }
  }
  if (traced) spark.sparkContext.addSparkListener(jobListener)

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)

  def close(): Unit = {
    drain()
    spark.streams.removeListener(queryListener)
    if (traced) spark.sparkContext.removeSparkListener(jobListener)
  }
}

object Recorder {
  val ScopeKey = "perfbench.scope"
}
