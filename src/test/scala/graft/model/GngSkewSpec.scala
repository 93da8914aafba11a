package graft.model

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSupport
import graft.streaming.GStream

/** Hot-cluster skew stress for the full GNG loop — the reference's own
  * untested regime (it only ever ran near-uniform DS1): 95% of the
  * stream hammers ONE tight cluster while 5% trickles into two far
  * ones. Fading (kk%3 min-weight eviction) and growth (kk%5 max-error
  * insertion) must still converge to a model that covers BOTH regimes,
  * the adjacency/age/weight state must stay well-formed, and the
  * distributed assign pass must stay bit-compatible with the local
  * reference under maximal assignment skew at treeAggregate depth 2
  * (>16 partitions — the funnel the 1000-executor deployment uses). */
class GngSkewSpec extends AnyFunSuite with SparkTestSupport {

  private val hot = (100.0, 100.0)
  private val rareA = (400.0, 100.0)
  private val rareB = (100.0, 400.0)

  private def skewed(n: Int): Seq[Point] = {
    val rng = new scala.util.Random(42)
    (0 until n).map { i =>
      val u = rng.nextDouble()
      val (cx, cy) = if (u < 0.95) hot else if (u < 0.975) rareA else rareB
      // hot cluster is TIGHT (radius 5), rare ones broader (radius 20)
      val r = if (u < 0.95) 5.0 else 20.0
      Point(Array(cx + rng.nextGaussian() * r, cy + rng.nextGaussian() * r),
        if (u < 0.95) 0 else 1, i.toLong)
    }
  }

  test("95/5 hot-cluster stream: fading and growth converge, both regimes covered") {
    import spark.implicits._
    val pts = skewed(60 * 200)
    val m = GStream.fitChunked(spark.createDataset(pts), GngParams(), nChunks = 60)

    // grew beyond the 2-node bootstrap and stayed bounded
    assert(m.nodeCount > 2 && m.nodeCount < 200, s"nodeCount=${m.nodeCount}")

    // state well-formed under heavy eviction churn: finite centroids,
    // positive finite weights, symmetric adjacency with zero diagonal
    m.nodes.foreach(p => p.centroid.foreach(v => assert(!v.isNaN && !v.isInfinite)))
    // ≥ 0: a freshly inserted midpoint node can sit at weight 0 until
    // its first assignment — negative or non-finite is the corruption
    m.clusterWeights.foreach(w => assert(w >= 0.0 && !w.isInfinite && !w.isNaN))
    for (i <- m.nodes.indices; j <- m.nodes.indices) {
      assert(m.edges(i)(j) === m.edges(j)(i), s"adjacency symmetry at ($i,$j)")
      // NaN is the no-edge age sentinel — compare NaN-safe
      assert(java.lang.Double.compare(m.ages(i)(j), m.ages(j)(i)) === 0,
        s"age symmetry at ($i,$j)")
      if (i == j) assert(m.edges(i)(j) === 0)
    }

    // coverage: fading must NOT have starved the rare clusters — every
    // true center has a prototype within its cluster's radius envelope
    def nearest(c: (Double, Double)): Double =
      m.nodes.map(p => math.hypot(p.centroid(0) - c._1, p.centroid(1) - c._2)).min
    assert(nearest(hot) < 15.0, s"hot cluster uncovered: ${nearest(hot)}")
    assert(nearest(rareA) < 60.0, s"rare cluster A uncovered: ${nearest(rareA)}")
    assert(nearest(rareB) < 60.0, s"rare cluster B uncovered: ${nearest(rareB)}")

    // and the hot regime must not have swallowed the whole node budget:
    // at least one node sits far from the hot center
    assert(m.nodes.exists(p =>
      math.hypot(p.centroid(0) - hot._1, p.centroid(1) - hot._2) > 100.0),
      "all nodes collapsed onto the hot cluster")
  }

  test("assignAggregate under maximal skew at depth 2 equals the local reference") {
    import spark.implicits._
    import graft.operators.GngOps
    // centroids such that ~all points elect node 0 — the worst-case
    // reducer-hot-key shape; 32 partitions forces the depth-2 funnel
    val cents = Array(Array(100.0, 100.0), Array(400.0, 100.0), Array(100.0, 400.0))
    val pts = skewed(4000)
    // watch point 0 as its own winner's seed: one hit, on the hot node
    val seeds = SeedWatch(Array(GngOps.twoNearest(pts(0).features, cents)._1), Array(pts(0).id))
    val dist = GngOps.assignAggregate(
      spark.createDataset(pts).repartition(32), cents, seeds)
    val local = GngOps.assignAggregateLocal(pts, cents, seeds)
    assert(local.map(_._2.nAssigned).sum === pts.length - 1L)
    assert(dist.map(_._1).toSeq === local.map(_._1).toSeq)
    dist.zip(local).foreach { case ((k1, s1), (k2, s2)) =>
      assert(k1 === k2)
      assert(s1.votes.toSeq === s2.votes.toSeq)
      assert(s1.count === s2.count)
      assert(s1.nAssigned === s2.nAssigned)
      assert(math.abs(s1.errSum - s2.errSum) < 1e-6)
      s1.vecSum.zip(s2.vecSum).foreach { case (x, y) => assert(math.abs(x - y) < 1e-6) }
    }
    // the skew really is extreme: node 0 owns ≥ 90% of the batch
    val hotCount = dist.find(_._1 == 0).map(_._2.count).getOrElse(0L)
    assert(hotCount >= 3600, s"fixture lost its skew: $hotCount/4000")
  }
}
