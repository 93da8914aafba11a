package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Parameters of one run, read from the properties file the runner
  * writes next to the generated inputs. */
final class Params(p: java.util.Properties) {
  def str(k: String): String =
    Option(p.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"missing param $k"))
  def int(k: String): Int = str(k).toInt
  def double(k: String): Double = str(k).toDouble
}

final case class Ctx(spark: SparkSession, rec: Recorder, work: Path, inputs: Path,
    seed: Long, params: Params) {
  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** What a workload reports; the runner turns it into metrics. */
final class Result {
  val setupS = ArrayBuffer.empty[Double]
  val passS = ArrayBuffer.empty[Double]
  /** Process CPU seconds of each measured pass, alongside `passS`. */
  val passCpuS = ArrayBuffer.empty[Double]
  /** One entry per operation (batch or query) of the measured phase. */
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val layer = LinkedHashMap.empty[String, Any]
  val info = LinkedHashMap.empty[String, Any]
  var heapMb: Double = -1.0

  def op(ms: Double, ok: Boolean, extra: (String, Any)*): Unit =
    ops += (Map[String, Any]("ms" -> ms, "ok" -> ok) ++ extra)
  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

trait Workload {
  def run(c: Ctx, res: Result, root: Long): Unit
}

/** Benchmark JVM entry point:
  * {{{ perfbench.Main --workload W --work DIR --trace 0|1 --seed N --cpus C }}}
  * Reads generated inputs from DIR/inputs, writes DIR/raw.json. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val inputs = work.resolve("inputs")
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(inputs.resolve("params.properties"))
    try props.load(in) finally in.close()
    val cpus = a("cpus").toInt
    val traced = a("trace") == "1"
    val workload: Workload = a("workload") match {
      case "gstream_backlog" => Backlog
      case "stream_folds" => Folds
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val spark = graft.util.GraftSession.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rec = new Recorder(spark, traced)
    val res = new Result
    val ctx = Ctx(spark, rec, work, inputs, a("seed").toLong, new Params(props))
    var fatal: Option[String] = None
    try rec.span(a("workload"), "workload", 0L)(root => workload.run(ctx, res, root))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        fatal = Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    rec.close()

    val out = LinkedHashMap[String, Any](
      "workload" -> a("workload"),
      "fatal" -> fatal,
      "jvm" -> Map(
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "master" -> spark.sparkContext.master),
      "setup_s" -> res.setupS,
      "pass_s" -> res.passS,
      "pass_cpu_s" -> res.passCpuS,
      "ops" -> res.ops,
      "checks" -> res.checks,
      "layer" -> res.layer,
      "info" -> res.info,
      "heap_mb" -> res.heapMb,
      "progress" -> rec.progress.asScala.toSeq.map { case (ph, js) =>
        Map("phase" -> ph, "p" -> Json.Raw(js))
      })
    if (traced) {
      out("spans") = rec.spanList.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs))
      out("jobs") = rec.jobList.map(j => Map("job" -> j.jobId, "scope" -> j.scope,
        "stream_run" -> j.streamRunId, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "shuffle_read_bytes" -> j.shuffleReadBytes, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "result_bytes" -> j.resultBytes, "spill_bytes" -> j.spillBytes))
    }
    Files.writeString(work.resolve("raw.json"), Json.render(out.toMap))
    spark.stop()
    System.exit(if (fatal.isDefined) 1 else 0)
  }

  /** Used heap after forced collections: what the workload keeps alive. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** CPU seconds used by every thread of this JVM so far. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
