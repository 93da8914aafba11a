package perfbench

import java.nio.file.Files
import graft.SparkEntry
import graft.queries.Tables

/** stream_folds: the registered streaming-fold queries, run through
  * `SparkEntry.queries` over generated `events` and `documents` tables.
  * The first pass is cold: it writes every output for the oracle check
  * and is not timed. Untimed warm-up passes and then the timed passes
  * follow. */
object Folds extends Workload {

  /** Two pure-union folds, the exactly-once fold and a binary-kernel
    * fold. */
  val Prefixes: Seq[String] = Seq("s23", "s30", "s08", "s36")

  def run(c: Ctx, res: Result, root: Long): Unit = {
    val spark = c.spark
    val dir = c.inputs.toString

    // set-up: build the query registry and open both input tables
    var fns: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Nil
    for (r <- 0 until c.params.int("setup_reps")) {
      c.rec.setPhase(s"setup$r")
      val t0 = System.nanoTime()
      c.rec.span(s"setup$r", "setup", root) { _ =>
        val qs = SparkEntry.queries
        fns = Prefixes.map(p => qs.keys.filter(_.startsWith(p + "_")).toSeq match {
          case Seq(name) => name -> qs(name)
          case other => throw new IllegalStateException(s"$p matches ${other.mkString(",")}")
        })
        Tables.events(spark, dir).count()
        Tables.documents(spark, dir).count()
      }
      res.setupS += c.elapsedS(t0)
    }

    // cold pass: write every output for the oracle check
    val out = c.work.resolve("outputs")
    c.rec.span("check_pass", "check", root) { _ =>
      for ((name, fn) <- fns) {
        c.rec.setPhase(s"check/$name")
        val t0 = System.nanoTime()
        try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
        catch { case e: Exception => res.check(s"run:$name", ok = false, e.toString) }
        res.info(s"cold_ms:$name") = Main.ms(t0)
      }
    }
    // dump-time oracles exist only after their queries ran
    val oracles = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.render(fns.map(_._1).flatMap(n => oracles.get(n).map(n -> _)).toMap))

    // warm-up passes, untimed: the JIT is still compiling the queries'
    // paths for a few passes after the cold one
    for (w <- 0 until c.params.int("warmup_passes")) {
      c.rec.span(s"warmup$w", "setup", root) { _ =>
        for ((name, fn) <- fns) {
          c.rec.setPhase(s"warmup$w/$name")
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
      }
    }

    // timed passes
    for (pass <- 0 until c.params.int("passes")) {
      val p0 = System.nanoTime()
      val cpu0 = Main.cpuS()
      c.rec.span(s"pass$pass", "pass", root) { pid =>
        for ((name, fn) <- fns) {
          c.rec.setPhase(s"pass$pass/$name")
          val t0 = System.nanoTime()
          val ok = c.rec.span(name, "queries", pid) { _ =>
            try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Exception =>
              res.info(s"error:$name") = e.toString
              false
            }
          }
          res.op(Main.ms(t0), ok, "name" -> name, "pass" -> pass)
        }
      }
      res.passS += c.elapsedS(p0)
      res.passCpuS += Main.cpuS() - cpu0
    }
    c.rec.setPhase("check")
    res.heapMb = Main.retainedHeapMb()
  }
}
