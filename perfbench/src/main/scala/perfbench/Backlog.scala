package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.model.{GngModel, GngParams, Point}
import graft.operators.GngOps
import graft.streaming.GStreamRun

/** gstream_backlog: the paper's path as users run it. `GStreamRun.start`
  * drains a pre-written backlog of reference-shape CSV files (one file
  * per micro-batch, 100 ms trigger, reference snapshot cadence, model
  * recovery point). Batch times come from the stream's progress events;
  * the final model is checked against a driver-local replay. */
object Backlog extends Workload {

  private val Sep = ","

  def run(c: Ctx, res: Result, root: Long): Unit = {
    val p = c.params
    val decay = p.double("decay_factor")
    val lambdaAge = p.double("lambda_age")
    val nbNodesToAdd = p.int("nb_nodes_to_add")
    def start(dir: Path, out: Path) =
      GStreamRun.start(c.spark, dir.toString, out.toString, Sep, decay, lambdaAge,
        nbNodesToAdd, nbWind = dataFiles(dir).length)

    // set-up: time from start to a drained warm-up backlog, several times
    for (w <- 0 until p.int("setup_reps")) {
      c.rec.setPhase(s"setup$w")
      val t0 = System.nanoTime()
      val q = c.rec.span(s"setup$w", "setup", root) { _ =>
        val q = start(c.inputs.resolve(s"warm$w"), c.work.resolve(s"warm$w-out"))
        q.processAllAvailable()
        q
      }
      res.setupS += c.elapsedS(t0)
      q.stop()
    }

    // warm-up, untimed: drain a longer backlog so the JIT has compiled
    // the per-batch path before the measured stream starts
    c.rec.setPhase("warmup")
    c.rec.span("warmup", "setup", root) { _ =>
      val q = start(c.inputs.resolve("warmup"), c.work.resolve("warmup-out"))
      try q.processAllAvailable() finally q.stop()
    }

    // measured: drain the whole backlog
    val dir = c.inputs.resolve("backlog")
    val out = c.work.resolve("backlog-out")
    val files = dataFiles(dir)
    c.rec.setPhase("measure")
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuS()
    val q = c.rec.span("stream_run", "streaming", root) { _ =>
      val q = start(dir, out)
      val watchdog = new java.util.Timer(true)
      watchdog.schedule(new java.util.TimerTask {
        def run(): Unit = q.stop()
      }, (p.double("limit_s") * 1000).toLong)
      try q.processAllAvailable()
      catch { case e: Exception => res.info("stream_error") = e.toString }
      finally watchdog.cancel()
      q
    }
    res.passS += c.elapsedS(t0)
    res.passCpuS += Main.cpuS() - cpu0
    q.stop()
    c.rec.setPhase("check")

    val (model, kk) = GngModel.loadState(out.resolve("_model").resolve("model-latest.bin"))
    res.heapMb = Main.retainedHeapMb()
    res.info("files") = files.length
    res.info("batches_applied") = kk
    res.layer("model.state_bytes") = Files.size(out.resolve("_model").resolve("model-latest.bin"))
    res.layer("model.nodes") = model.nodeCount
    res.layer("model.edges") = model.edgeList.size
    res.layer("model.save_state_ms") = c.rec.span("save_state", "model", root) { _ =>
      timeSaveState(c.work.resolve("state-probe.bin"), model, kk)._1
    }

    // output check: the same files, in order, through the library's
    // driver-local assign and update
    val rp = c.rec.span("replay", "check", root)(_ => replay(dir, files.take(kk), model.params))
    res.layer("operators.assign_ms") = Main.median(rp.assignMs)
    res.layer("model.update_ms") = Main.median(rp.updateMs)
    res.info("valid_points") = rp.points
    res.info("malformed_lines") = rp.malformed
    res.check("all_files_applied", kk == files.length, s"kk=$kk files=${files.length}")
    val diff = compareModels(model, kk, rp.model, rp.kk)
    res.check("stream_equals_replay", diff.isEmpty, diff.getOrElse("equal"))
  }

  /** One timed `saveState` of the final model: (ms, bytes written). */
  def timeSaveState(path: Path, model: GngModel, kk: Int): (Double, Long) = {
    val t0 = System.nanoTime()
    GngModel.saveState(path, model, kk)
    val ms = Main.ms(t0)
    val bytes = Files.size(path)
    Files.delete(path)
    (ms, bytes)
  }

  /** Data files in stream order (the runner names them in mtime order);
    * `nodes2.txt` is the bootstrap seed, never a batch. */
  def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** `GStream.parseCsvPoints`' rule: exact arity, every field a number. */
  def parseLine(line: String, dim: Int): Option[Point] = {
    val parts = line.split(java.util.regex.Pattern.quote(Sep), -1)
    if (dim > 0 && parts.length != dim + 2) None
    else if (parts.length < 3) None
    else {
      val xs = parts.map(t => t.trim.toDoubleOption)
      if (xs.exists(_.isEmpty)) None
      else {
        val v = xs.map(_.get)
        Some(Point(v.take(v.length - 2), v(v.length - 2).toInt, v.last.toLong))
      }
    }
  }

  final case class Replay(model: GngModel, kk: Int, assignMs: Seq[Double],
      updateMs: Seq[Double], points: Long, malformed: Long)

  def replay(dir: Path, files: Seq[Path], params: GngParams): Replay = {
    val seed = Files.readAllLines(dir.resolve("nodes2.txt")).asScala.take(2)
      .flatMap(parseLine(_, -1)).sortBy(_.id)
    require(seed.length == 2, "seed file needs two valid points")
    val model = new GngModel(params, seed.head.features.length).init2Nodes(seed(0), seed(1))
    var kk = 0
    var points = 0L
    var malformed = 0L
    val assignMs = Seq.newBuilder[Double]
    val updateMs = Seq.newBuilder[Double]
    for (f <- files) {
      val lines = Files.readAllLines(f).asScala
      val pts = lines.flatMap(parseLine(_, model.dim)).toArray
      points += pts.length
      malformed += lines.length - pts.length
      val t0 = System.nanoTime()
      val stats = GngOps.assignAggregateLocal(pts, model.centroids)
      assignMs += Main.ms(t0)
      if (stats.nonEmpty) {
        kk += 1
        val t1 = System.nanoTime()
        model.update(stats, kk)
        updateMs += Main.ms(t1)
      }
    }
    Replay(model, kk, assignMs.result(), updateMs.result(), points, malformed)
  }

  /** None when equal: same kk, node ids, edges (as node-id pairs), and
    * centroids and weights within 1e-9. */
  def compareModels(a: GngModel, ka: Int, b: GngModel, kb: Int): Option[String] = {
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    def edgeSet(m: GngModel) = m.edgeList.map { case (i, j, _) =>
      Set(m.nodes(i).id, m.nodes(j).id)
    }.toSet
    val ia = a.nodes.map(_.id).toSeq
    val ib = b.nodes.map(_.id).toSeq
    if (ka != kb) Some(s"kk $ka != $kb")
    else if (ia.toSet != ib.toSet) Some(s"node ids differ: ${ia.size} vs ${ib.size}")
    else if (edgeSet(a) != edgeSet(b)) Some("edge sets differ")
    else {
      val posB = ib.zipWithIndex.toMap
      ia.zipWithIndex.collectFirst {
        case (id, i) if {
          val j = posB(id)
          !a.nodes(i).centroid.corresponds(b.nodes(j).centroid)(close) ||
            !close(a.clusterWeights(i), b.clusterWeights(j))
        } => s"node $id centroid or weight differs"
      }
    }
  }
}
