package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSupport
import graft.model.{GngModel, GngParams, Point}
import graft.operators.EpochState
import graft.streaming.GStreamKeyed.KeyedPoint

/** Tenant-scale keyed-GNG state (round-11 verdict #9): per-tenant
  * models live in an EpochState-backed TABLE — the driver never
  * collects a model map (10^5 tenants × 300-node models is
  * driver-bound under fitKeyed's terminal collect). Correctness bar:
  * each tenant's stored model is bit-identical to the single-model
  * local path on that tenant's points; untouched tenants' rows carry
  * over byte-identical; a replayed micro-batch is a no-op (epoch
  * stamp); the write-committed/pointer-unpublished crash half replays
  * cleanly. */
class GStreamKeyedStateSpec extends AnyFunSuite with SparkTestSupport {

  private def kp(key: Long, i: Int): KeyedPoint =
    KeyedPoint(key,
      Array(30.0 * key + 8 * math.sin(i * 0.37), 30.0 * key + 8 * math.cos(i * 0.53)),
      key.toInt, key * 100000L + i)

  private def fingerprint(m: GngModel): (Seq[String], Seq[String], Seq[String], Int) =
    (m.prototypeLines, m.edgeLines, m.weightLines, m.nodeCount)

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("kgng-state").toString

  test("1000 tenants: distributed fit + state table, per-key serve == single-model fit") {
    import spark.implicits._
    val params = GngParams()
    val nKeys = 1000
    val pts = (for (key <- 0L until nKeys.toLong; i <- 0 until 6) yield kp(key, i)).toSeq
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir,
      spark.createDataset(pts).repartition(16), params, nChunks = 2)
    val state = EpochState.state(spark, dir)
    assert(state.count() === nKeys.toLong)
    // spot-check tenants across the key range: stored model ==
    // the single-model local path over that tenant's points alone
    for (key <- Seq(0L, 1L, 499L, 998L, 999L)) {
      val own = pts.filter(_.key == key)
        .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
      val solo = GStream.fitChunkedLocal(own, params, nChunks = 2)
      val served = GStreamKeyed.keyedModel(spark, dir, key)
      assert(served.isDefined, s"key=$key missing from the state table")
      assert(fingerprint(served.get._1) === fingerprint(solo), s"key=$key")
    }
  }

  test("batch commit: touched tenants update, untouched rows carry byte-identical, replay is a no-op") {
    import spark.implicits._
    val params = GngParams()
    val init = (for (key <- 0L until 20L; i <- 0 until 40) yield kp(key, i)).toSeq
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir, spark.createDataset(init), params, nChunks = 4)
    val before = EpochState.state(spark, dir)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => r._1 -> ((r._2, r._3.toSeq))).toMap

    // batch touches keys 0..4 only
    val batch = (for (key <- 0L until 5L; i <- 40 until 80) yield kp(key, i)).toSeq
    GStreamKeyed.commitKeyedBatch(spark, dir, spark.createDataset(batch), params, epoch = 0L)
    val after = EpochState.state(spark, dir)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    assert(after.keySet === before.keySet)
    for (key <- 5L until 20L)
      assert(after(key) === before(key), s"untouched key=$key must carry byte-identical")
    for (key <- 0L until 5L) {
      assert(after(key)._1 === before(key)._1 + 1, s"touched key=$key must advance kk")
      assert(after(key)._2 !== before(key)._2, s"touched key=$key must change")
    }

    // REPLAY of the same epoch (foreachBatch re-delivery): no-op
    GStreamKeyed.commitKeyedBatch(spark, dir, spark.createDataset(batch), params, epoch = 0L)
    val replayed = EpochState.state(spark, dir)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    assert(replayed === after, "replayed epoch must not double-train any tenant")

    // and the update itself matches the hand-run single-model path
    for (key <- Seq(0L, 4L)) {
      val own = init.filter(_.key == key)
        .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
      val solo = GStream.fitChunkedLocal(own, params, nChunks = 4)
      val arrived = batch.filter(_.key == key)
        .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
      val stats = graft.operators.GngOps.assignAggregateLocal(arrived, solo.centroids)
      solo.update(stats, 5)
      assert(fingerprint(GStreamKeyed.keyedModel(spark, dir, key).get._1) ===
        fingerprint(solo), s"key=$key update drifted from the single-model path")
    }
  }

  test("table kk counts the non-empty chunks, so the next commit steps at the right kk") {
    import spark.implicits._
    val params = GngParams()
    // every id even: with nChunks = 4 only the chunks with residue 0
    // and 2 hold points, so the fit applies 2 batches, not 4
    val init = (0 until 40).map(i => kp(3L, 2 * i))
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir, spark.createDataset(init), params, nChunks = 4)
    val storedKk = EpochState.state(spark, dir).filter($"key" === 3L).select($"kk").as[Int].head()
    assert(storedKk === 2)

    val batch = (80 until 120).map(i => kp(3L, i))
    GStreamKeyed.commitKeyedBatch(spark, dir, spark.createDataset(batch), params, epoch = 0L)
    val (served, servedKk) = GStreamKeyed.keyedModel(spark, dir, 3L).get

    val toPoint = (p: KeyedPoint) => Point(p.features, p.label, p.id)
    val solo = GStream.fitChunkedLocal(init.map(toPoint).toArray.sortBy(_.id), params, nChunks = 4)
    val arrived = batch.map(toPoint).toArray.sortBy(_.id)
    val soloKk = solo.step(
      graft.operators.GngOps.assignAggregateLocal(arrived, solo.centroids, solo.seedWatch), 2)
    assert(soloKk === 3)
    assert(servedKk === 3)
    assert(fingerprint(served) === fingerprint(solo))
    assert(GngModel.toBytes(served, servedKk).toSeq === GngModel.toBytes(solo, soloKk).toSeq)
  }

  test("new tenant mid-stream: buffers below 2 points, bootstraps when the second arrives") {
    import spark.implicits._
    val params = GngParams()
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir,
      spark.createDataset((0 until 40).map(i => kp(0L, i))), params, nChunks = 4)
    // tenant 7 trickles in: one point in epoch 0 (buffers), the rest in epoch 1
    GStreamKeyed.commitKeyedBatch(spark, dir,
      spark.createDataset(Seq(kp(7L, 0))), params, epoch = 0L)
    assert(GStreamKeyed.keyedModel(spark, dir, 7L) === None, "one point must only buffer")
    val st = EpochState.state(spark, dir).filter($"key" === 7L).head()
    assert(st.getAs[Array[Byte]]("model") == null)
    assert(st.getSeq[org.apache.spark.sql.Row](st.fieldIndex("pending"))
      .map(_.getAs[Long]("id")) === Seq(kp(7L, 0).id))
    GStreamKeyed.commitKeyedBatch(spark, dir,
      spark.createDataset((1 until 50).map(i => kp(7L, i))), params, epoch = 1L)
    val served = GStreamKeyed.keyedModel(spark, dir, 7L)
    assert(served.isDefined && served.get._2 === 1)
    // equals the streaming bootstrap semantics: two lowest ids seed,
    // the remainder is the first update batch
    val all = (0 until 50).map(i => kp(7L, i))
      .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
    val solo = new GngModel(params, 2).init2Nodes(all(0), all(1))
    val stats = graft.operators.GngOps.assignAggregateLocal(all.drop(2), solo.centroids)
    solo.update(stats, 1)
    assert(fingerprint(served.get._1) === fingerprint(solo))
  }

  test("restart proof: kill between state write and pointer publish, replay lands identical") {
    import spark.implicits._
    val params = GngParams()
    val init = (for (key <- 0L until 5L; i <- 0 until 40) yield kp(key, i)).toSeq
    val b1 = (for (key <- 0L until 5L; i <- 40 until 60) yield kp(key, i)).toSeq
    val b2 = (for (key <- 0L until 5L; i <- 60 until 90) yield kp(key, i)).toSeq

    // continuous run
    val cont = freshDir()
    GStreamKeyed.initKeyedState(spark, cont, spark.createDataset(init), params, 4)
    GStreamKeyed.commitKeyedBatch(spark, cont, spark.createDataset(b1), params, 0L)
    GStreamKeyed.commitKeyedBatch(spark, cont, spark.createDataset(b2), params, 1L)

    // crashed run: epoch 1's version directory gets WRITTEN but the
    // pointer is never published (the kill window) — then the restart
    // replays epoch 1 and continues
    val crash = freshDir()
    GStreamKeyed.initKeyedState(spark, crash, spark.createDataset(init), params, 4)
    GStreamKeyed.commitKeyedBatch(spark, crash, spark.createDataset(b1), params, 0L)
    val p = EpochState.readPointer(crash).get
    EpochState.writeVersion(spark, crash, p, 1L,
      state => GStreamKeyed.applyKeyedBatch(state, spark.createDataset(b2), params))
    // no publish — the orphan v-dir is invisible; replay epoch 1:
    GStreamKeyed.commitKeyedBatch(spark, crash, spark.createDataset(b2), params, 1L)

    val a = EpochState.state(spark, cont)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => (r._1, r._2, r._3.toSeq)).sortBy(_._1).toSeq
    val b = EpochState.state(spark, crash)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => (r._1, r._2, r._3.toSeq)).sortBy(_._1).toSeq
    assert(a === b, "crash-replayed state must equal the continuous run, model bytes included")
  }
}
