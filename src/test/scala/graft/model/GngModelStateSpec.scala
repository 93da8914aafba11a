package graft.model

import java.nio.file.{Files, Path}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GngOps
import graft.streaming.GStream

/** The model recovery point ([[GngModel.toBytes]] / saveState /
  * loadState): a save → load in the middle of any update sequence is
  * invisible to the rest of the run, its size depends on the model and
  * not on the stream, foreign bytes fail fast, and the assigned-point
  * counts equal the id-set sizes they replace. */
class GngModelStateSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempFile("gng-state", ".bin")

  /** One random training run: params with growth, fading and edge
    * expiry live, a dimension, batches of fresh points that sometimes
    * re-deliver a bootstrap point, and where to save and restore. */
  private final case class Run(params: GngParams, dim: Int, batches: Seq[Array[Point]], split: Int)

  private val genRun: Gen[Run] = for {
    lambdaAge <- Gen.oneOf(1.2, 2.0)
    maxAge <- Gen.choose(2.0, 30.0)
    nbNodesToAdd <- Gen.choose(1, 3)
    minWeight <- Gen.choose(0.5, 3.0)
    growEvery <- Gen.choose(1, 5)
    fadeEvery <- Gen.choose(1, 4)
    fadeMinNodes <- Gen.choose(2, 6)
    maxNodes <- Gen.choose(8, 40)
    dim <- Gen.choose(1, 3)
    nBatches <- Gen.choose(2, 30)
    split <- Gen.choose(1, nBatches - 1)
    seed <- Gen.long
  } yield {
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(3)(Array.fill(dim)(rng.nextDouble() * 100))
    var nextId = 0L
    def point(): Point = {
      val c = centers(rng.nextInt(centers.length))
      nextId += 1
      Point(c.map(_ + rng.nextGaussian() * 5), 0, nextId)
    }
    val boot = Array.fill(2)(point())
    val batches = Seq.fill(nBatches) {
      val fresh = Array.fill(1 + rng.nextInt(20))(point())
      if (rng.nextInt(4) == 0) fresh :+ boot(rng.nextInt(2)) else fresh
    }
    Run(GngParams(lambdaAge = lambdaAge, maxAge = maxAge, nbNodesToAdd = nbNodesToAdd,
      minWeight = minWeight, growEvery = growEvery, fadeEvery = fadeEvery,
      fadeMinNodes = fadeMinNodes, maxNodes = maxNodes), dim, boot +: batches, split)
  }

  private def step(m: GngModel, pts: Array[Point], kk: Int): Int = {
    val stats = GngOps.assignAggregateLocal(pts, m.centroids, m.seedWatch)
    if (stats.isEmpty) kk else { m.update(stats, kk + 1); kk + 1 }
  }

  private def bits(xs: Iterable[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToLongBits).toSeq

  private def nodeKey(ps: Iterable[Prototype]) =
    ps.map(p => (p.id, bits(p.centroid), p.nAssigned)).toSeq

  /** The first field on which two models differ, NaN-exact. */
  private def firstDifference(a: GngModel, b: GngModel): Option[String] = Seq(
    "params" -> (a.params == b.params),
    "dim" -> (a.dim == b.dim),
    "nodes" -> (nodeKey(a.nodes) == nodeKey(b.nodes)),
    "outdated nodes" -> (nodeKey(a.outdatedNodes) == nodeKey(b.outdatedNodes)),
    "isolated nodes" -> (nodeKey(a.isolatedNodes) == nodeKey(b.isolatedNodes)),
    "edges" -> (a.edges == b.edges),
    "ages" -> (a.ages.map(bits) == b.ages.map(bits)),
    "errors" -> (bits(a.errors) == bits(b.errors)),
    "weights" -> (bits(a.clusterWeights) == bits(b.clusterWeights)))
    .collectFirst { case (what, false) => what }

  /** GngModel.toBytes' documented size. */
  private def formulaBytes(m: GngModel): Long =
    144L + m.nodeCount * (8L * (m.dim + 3) + 4) + m.edgeList.size * 16L +
      (m.outdatedNodes.length + m.isolatedNodes.length) * (8L * (m.dim + 1) + 4)

  test("a save/load mid-run is invisible: the restored model continues bit-identical") {
    var insertedAfterSave = 0
    val prop = Prop.forAll(genRun) { run =>
      val boot = run.batches.head
      val a = new GngModel(run.params, run.dim).init2Nodes(boot(0), boot(1))
      var b = new GngModel(run.params, run.dim).init2Nodes(boot(0), boot(1))
      var kkA = 0
      var kkB = 0
      var maxIdAtSave = 0
      for ((pts, i) <- run.batches.tail.zipWithIndex) {
        if (i == run.split) {
          val f = tmp()
          GngModel.saveState(f, b, kkB)
          val (restored, kk) = GngModel.loadState(f)
          Files.delete(f)
          assert(kk === kkB)
          maxIdAtSave = (b.nodes ++ b.outdatedNodes ++ b.isolatedNodes).map(_.id).maxOption.getOrElse(0)
          b = restored
          kkB = kk
        }
        kkA = step(a, pts, kkA)
        kkB = step(b, pts, kkB)
      }
      if (b.nodes.exists(_.id > maxIdAtSave)) insertedAfterSave += 1
      val diff = firstDifference(a, b)
      (Prop(kkA == kkB) :| s"kk $kkA vs $kkB") &&
        (Prop(diff.isEmpty) :| s"differs in ${diff.getOrElse("")}") &&
        (Prop(GngModel.toBytes(b, kkB).length == formulaBytes(b)) :| "size formula")
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(200).withInitialSeed(Seed(20261017L)), prop)
    assert(result.passed, result.status.toString)
    // nodes inserted after the restore carry ids continuing the saved
    // counter, and in enough runs to matter — proof nextId was persisted
    assert(insertedAfterSave >= 50, s"only $insertedAfterSave runs grew after the restore")
  }

  test("with growth and fading off, the recovery point after batch 50 is as large as after batch 1") {
    val params = GngParams(growEvery = Int.MaxValue, fadeEvery = Int.MaxValue)
    val m = new GngModel(params, 2).init2Nodes(Point(Array(0.0, 0.0), 0, 1), Point(Array(10.0, 0.0), 0, 2))
    val rng = new scala.util.Random(3)
    val f = tmp()
    val sizes = (1 to 50).map { kk =>
      // 200 fresh points per batch around both nodes
      val pts = Array.tabulate(200) { i =>
        val x = if (i % 2 == 0) 0.0 else 10.0
        Point(Array(x + rng.nextGaussian(), rng.nextGaussian()), 0, kk * 1000L + i)
      }
      m.update(GngOps.assignAggregateLocal(pts, m.centroids, m.seedWatch), kk)
      GngModel.saveState(f, m, kk)
      Files.size(f)
    }
    Files.delete(f)
    assert(m.nodes.map(_.nAssigned).sum === 2L + 50 * 200)
    assert(sizes.head === sizes.last, s"bytes grew with the stream: ${sizes.head} → ${sizes.last}")
    assert(sizes.head === formulaBytes(m))
  }

  private def sample: (GngModel, Int) = {
    val m = new GngModel(GngParams(growEvery = 1, nbNodesToAdd = 2), 2)
      .init2Nodes(Point(Array(0.0, 0.0), 0, 1), Point(Array(10.0, 0.0), 0, 2))
    for (kk <- 1 to 6) {
      val pts = Array.tabulate(30)(i => Point(Array(i % 11.0, (i * 7) % 5.0), 0, kk * 100L + i))
      m.update(GngOps.assignAggregateLocal(pts, m.centroids, m.seedWatch), kk)
    }
    (m, 6)
  }

  private def rejects(bytes: Array[Byte]): IllegalArgumentException = {
    val f = tmp()
    try {
      Files.write(f, bytes)
      val e = intercept[IllegalArgumentException](GngModel.loadState(f))
      assert(e.getMessage.contains(f.toString), e.getMessage)
      e
    } finally Files.delete(f)
  }

  test("loadState rejects a Java-serialized recovery point of the old layout") {
    val (m, kk) = sample
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeInt(kk); out.writeObject(m); out.close()
    val e = rejects(bos.toByteArray)
    assert(e.getMessage.contains("not a G-Stream recovery point"), e.getMessage)
    assert(e.getMessage.contains("found no version"), e.getMessage)
  }

  test("loadState rejects a truncated file and an unknown version, naming the version found") {
    val (m, kk) = sample
    val good = GngModel.toBytes(m, kk)
    assert(rejects(good.take(good.length / 2)).getMessage.contains("truncated payload; found version 1"))
    val v2 = good.clone()
    v2(7) = 2
    assert(rejects(v2).getMessage.contains("unknown layout version; found version 2"))
    assert(rejects(good :+ 0.toByte).getMessage.contains("trailing bytes"))
    // every proper prefix fails as IllegalArgumentException, never EOF
    for (n <- 0 until good.length)
      intercept[IllegalArgumentException](GngModel.fromBytes(good.take(n)))
    assert(GngModel.fromBytes(good)._2 === kk)
  }

  test("loadState rejects random bytes") {
    val rng = new scala.util.Random(11)
    for (len <- Seq(0, 3, 64, 4096)) {
      val junk = Array.fill(len)(rng.nextInt(256).toByte)
      rejects(junk)
      // random bytes behind a valid header: a corrupt count or edge
      // index fails the same way, without a huge allocation
      val header = GngModel.toBytes(sample._1, 1).take(8)
      intercept[IllegalArgumentException](GngModel.fromBytes(header ++ junk))
    }
  }

  /** Test-only reference for [[Prototype.nAssigned]]: bootstraps a
    * model from `p1`, `p2` and trains it on `batches` while replaying
    * the id sets the counts replace; also records every (winner node
    * id, point id) win. */
  private def setReplay(params: GngParams, p1: Point, p2: Point, batches: Seq[Array[Point]])
      : (GngModel, Map[Int, Set[Long]], Seq[(Int, Long)]) = {
    val m = new GngModel(params, p1.features.length).init2Nodes(p1, p2)
    val sets = scala.collection.mutable.Map(
      m.nodes(0).id -> Set(p1.id), m.nodes(1).id -> Set(p2.id))
    val wins = Seq.newBuilder[(Int, Long)]
    var kk = 0
    for (pts <- batches) {
      val cents = m.centroids
      val idAt = m.nodes.map(_.id).toArray
      for (p <- pts) {
        val w = idAt(GngOps.twoNearest(p.features, cents)._1)
        sets(w) = sets.getOrElse(w, Set.empty) + p.id
        wins += w -> p.id
      }
      kk = step(m, pts, kk)
    }
    (m, sets.toMap, wins.result())
  }

  private def countsMatch(m: GngModel, sets: Map[Int, Set[Long]]): Unit = {
    val all = m.nodes ++ m.outdatedNodes ++ m.isolatedNodes
    assert(all.map(p => p.id -> p.nAssigned).toMap ===
      all.map(p => p.id -> sets.getOrElse(p.id, Set.empty[Long]).size.toLong).toMap)
  }

  test("assigned counts equal a Set replay, bootstrap points re-won by their own and another node") {
    val p1 = Point(Array(0.0, 0.0), 0, 1)
    val p2 = Point(Array(10.0, 0.0), 0, 2)
    // batch 1 re-delivers point 1 next to its own node and point 2 next
    // to node 1 (the other seed's); later batches re-deliver both again
    val batches = Seq(
      Array(Point(Array(0.1, 0.0), 0, 1), Point(Array(1.0, 0.0), 0, 2), Point(Array(9.0, 0.5), 0, 3)),
      Array(Point(Array(0.2, 0.1), 0, 1), Point(Array(9.5, 0.0), 0, 4)),
      Array(Point(Array(10.0, 0.0), 0, 2), Point(Array(0.5, 0.0), 0, 5)),
      Array(Point(Array(0.0, 0.0), 0, 1), Point(Array(5.0, 0.0), 0, 6), Point(Array(9.8, 0.2), 0, 7)))
    val params = GngParams(growEvery = 2, nbNodesToAdd = 1)
    val (m, sets, wins) = setReplay(params, p1, p2, batches)
    countsMatch(m, sets)
    // both cases really occurred: node 1 won its own seed back (three
    // times) and also won node 2's seed point
    assert(wins.count(_ == (1 -> 1L)) === 3)
    assert(wins.contains(1 -> 2L))

    // the chunked path bootstraps from the two lowest ids, which their
    // own chunk then delivers again — it must count the same way
    val pts = p1 +: p2 +: batches.flatten.filter(_.id > 2).toArray
    val chunks = (0 until 3).map(c => pts.filter(_.id % 3 == c))
    val (_, chunkedSets, chunkedWins) = setReplay(params, p1, p2, chunks)
    assert(chunkedWins.contains(1 -> 1L), "the chunked replay re-wins seed 1 on its own node")
    countsMatch(GStream.fitChunkedLocal(pts, params, 3), chunkedSets)
  }
}
