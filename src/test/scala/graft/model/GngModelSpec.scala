package graft.model

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GngOps

/** Driver-side graph-update semantics (SURVEY §2.9 T2-T10), tested
  * against hand-computed micro-scenarios — no Spark involved. */
class GngModelSpec extends AnyFunSuite {

  private def p(x: Double, y: Double, id: Long) = Point(Array(x, y), 0, id)

  private def freshModel(params: GngParams = GngParams()): GngModel =
    new GngModel(params, 2).init2Nodes(p(0, 0, 1), p(10, 0, 2))

  test("init2Nodes: 2-node line graph, age 0, weights 1") {
    val m = freshModel()
    assert(m.nodeCount === 2)
    assert(m.edges(0)(1) === 1 && m.edges(1)(0) === 1)
    assert(m.ages(0)(1) === 0.0 && m.ages(0)(0).isNaN)
    assert(m.clusterWeights.toSeq === Seq(1.0, 1.0))
    assert(m.errors.toSeq === Seq(0.0, 0.0))
    assert(m.nodes.map(_.id).toSeq === Seq(1, 2))
  }

  test("updateRule: weight decay, centroid move, error and id bookkeeping") {
    val m = freshModel()
    // 2 points at (2,0) and (4,0) win node 0 (closer to (0,0)); bmu2 = 1
    val stats = GngOps.assignAggregateLocal(
      Seq(p(2, 0, 10), p(4, 0, 11)), m.centroids)
    assert(stats.length === 1 && stats(0)._1 === 0)
    m.update(stats, kk = 1)
    // weighted centroid: (0.9*1*[0,0] + [6,0]) / (0.9 + 2) = [2.069, 0]
    assert(math.abs(m.nodes(0).centroid(0) - 6.0 / 2.9) < 1e-12)
    // weight: 1*0.9 + 2 = 2.9
    assert(math.abs(m.clusterWeights(0) - 2.9) < 1e-12)
    // error: (2²+4²) then one errorDecay factor
    assert(math.abs(m.errors(0) - 20.0 * 0.99) < 1e-12)
    // the seed point (id 1) plus the two winners (ids 10, 11)
    assert(m.nodes(0).nAssigned === 3L)
    assert(m.nodes(1).nAssigned === 1L)
    // edge 0-1 re-linked at age 0 by the bmu2 vote (aging ran first)
    assert(m.ages(0)(1) === 0.0)
  }

  test("edge aging is λ·age + 1, symmetric, and expiry drops old edges") {
    val m = freshModel(GngParams(lambdaAge = 2.0, maxAge = 5.0))
    // age edge 0-1 without re-linking it: point wins node 1, bmu2 stays
    // node 0 (only other node) → link reset... so instead manipulate via
    // repeated wins by node 0 with votes toward node 1, then check reset.
    m.ages(0)(1) = 3.0; m.ages(1)(0) = 3.0
    val stats = GngOps.assignAggregateLocal(Seq(p(1, 0, 20)), m.centroids)
    m.update(stats, 1)
    // aged to 3*2+1=7 > maxAge → expired, then bmu2 link re-created at 0
    // (updateRule runs aging before the vote-link, removeOldEdges after)
    assert(m.edges(0)(1) === 1)
    assert(m.ages(0)(1) === 0.0)
  }

  test("removeOldEdges + removeIsolatedNodes archive isolated nodes") {
    val m = freshModel(GngParams(maxAge = 0.5))
    // with maxAge 0.5, any aged edge (age ≥ 1) expires; a single win by
    // node 0 with bmu2=1 recreates 0-1, so push age past maxAge without a
    // second BMU vote: impossible with 2 nodes — so test the primitive
    // directly on a 3-node graph built through growth instead.
    m.ages(0)(1) = 10.0; m.ages(1)(0) = 10.0
    // empty stats: no aging, no vote-link; removeOldEdges sees age 10 > 0.5
    m.update(Array.empty, 1)
    assert(m.nodeCount === 0) // both nodes isolated → archived
    assert(m.isolatedNodes.length === 2)
  }

  test("growth inserts midpoint node with rewired edges every growEvery") {
    val m = freshModel(GngParams(growEvery = 1, nbNodesToAdd = 1))
    m.errors(0) = 8.0; m.errors(1) = 4.0
    m.update(Array.empty, 1) // kk=1 % 1 == 0 → grow
    assert(m.nodeCount === 3)
    // midpoint of (0,0)-(10,0)
    assert(m.nodes(2).centroid.toSeq === Seq(5.0, 0.0))
    // q-f edge dropped, q-r and r-f created
    assert(m.edges(0)(1) === 0 && m.edges(0)(2) === 1 && m.edges(1)(2) === 1)
    // errors scaled by alphaErr then summed for r, then errorDecay
    assert(math.abs(m.errors(0) - 8.0 * 0.5 * 0.99) < 1e-12)
    assert(math.abs(m.errors(2) - (4.0 + 2.0) * 0.99) < 1e-12)
    // new node has weight 0 (before any decay applied next batch)
    assert(m.clusterWeights(2) === 0.0)
  }

  test("fading evicts the single min-weight node under minWeight") {
    val m = freshModel(GngParams(fadeEvery = 1, fadeMinNodes = 1, minWeight = 1.0))
    m.clusterWeights(1) = 0.1
    // keep node 1 connected so removeIsolatedNodes doesn't claim it first
    m.update(Array.empty, 1)
    assert(m.outdatedNodes.map(_.id).toSeq === Seq(2))
    // the survivor is then isolated → archived to isolatedNodes
    assert(m.isolatedNodes.map(_.id).toSeq === Seq(1))
  }

  test("growth cadence respects pre-update node count cap") {
    val m = freshModel(GngParams(growEvery = 1, nbNodesToAdd = 1, maxNodes = 2))
    m.errors(0) = 1.0
    m.update(Array.empty, 1) // pre-count 2 ≤ maxNodes → grows to 3
    assert(m.nodeCount === 3)
    m.update(Array.empty, 2) // pre-count 3 > maxNodes → no growth
    assert(m.nodeCount === 3)
  }

  test("update ignores stats for node indices beyond the current graph") {
    val m = freshModel()
    // stats addressed to node 5 (does not exist) and a votes array wider
    // than the graph: both must be ignored/clamped, not crash — this is
    // the restart/late-stats hazard (stats computed against an older,
    // larger model)
    val wideVotes = Array(0L, 3L, 0L, 0L, 7L)
    val stale = Array(
      5 -> graft.model.NodeStats(wideVotes, 1.0, Array(1.0, 1.0), 1L, 1L),
      0 -> graft.model.NodeStats(wideVotes, 2.0, Array(2.0, 0.0), 1L, 1L))
    m.update(stale, 1)
    assert(m.nodeCount === 2)
    // node 0: its seed + the one in-range point; the out-of-range
    // stats change no count anywhere
    assert(m.nodes.map(_.nAssigned).toSeq === Seq(2L, 1L))
  }

  test("save/load round-trips the full model state (SURVEY §7.4.7)") {
    val m = freshModel(GngParams(growEvery = 1, nbNodesToAdd = 1))
    m.errors(0) = 8.0; m.errors(1) = 4.0
    m.update(GngOps.assignAggregateLocal(Seq(p(2, 0, 10)), m.centroids), 1)
    val f = java.nio.file.Files.createTempFile("gng-model", ".bin")
    GngModel.saveState(f, m, 1)
    val (m2, kk) = GngModel.loadState(f)
    assert(kk === 1)
    assert(m2.nodeCount === m.nodeCount)
    assert(m2.prototypeLines === m.prototypeLines)
    assert(m2.edgeLines === m.edgeLines)
    assert(m2.weightLines === m.weightLines)
    assert(m2.errors.toSeq === m.errors.toSeq)
    assert(m2.nodes.map(_.nAssigned).toSeq === m.nodes.map(_.nAssigned).toSeq)
    // the restored model keeps evolving identically
    val stats = GngOps.assignAggregateLocal(Seq(p(3, 0, 11)), m.centroids)
    m.update(stats, 2)
    m2.update(stats, 2)
    assert(m2.prototypeLines === m.prototypeLines)
    java.nio.file.Files.delete(f)
  }

  test("snapshot renderers match the reference formats") {
    val m = freshModel()
    assert(m.prototypeLines === Seq("0.0, 0.0", "10.0, 0.0"))
    // the reference renders adjacency rows via ArrayBuffer.toString
    // (batchStream.scala:99; golden Edges-92/part-00000) — byte-exact
    assert(m.edgeLines === Seq("ArrayBuffer(0, 1)", "ArrayBuffer(1, 0)"))
    assert(m.weightLines === Seq("1.0", "1.0"))
    assert(m.edgeList === Seq((0, 1, 0.0)))
  }
}
