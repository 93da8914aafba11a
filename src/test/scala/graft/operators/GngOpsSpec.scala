package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSupport
import graft.model.{Point, SeedWatch}

/** The distributed assign+aggregate step: top-2 selection semantics and
  * the combiner laws `treeAggregate` relies on (the same contract the
  * reference's `mergeContribs` assumes for `aggregateByKey` — SURVEY §5).
  * Property-style checks use a seeded RNG (scalatestplus-scalacheck is
  * not in the offline cache). */
class GngOpsSpec extends AnyFunSuite with SparkTestSupport {

  private val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0))

  test("twoNearest picks the two closest with lowest-index tie-break") {
    val (b1, b2, d1) = GngOps.twoNearest(Array(1.0, 0.0), cents)
    assert((b1, b2) === (0, 1))
    assert(d1 === 1.0)
  }

  test("twoNearest with equal distances keeps first-seen (reference sort order)") {
    val eq = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val (b1, b2, _) = GngOps.twoNearest(Array(0.0, 0.0), eq)
    assert((b1, b2) === (0, 1))
  }

  private def statsKey(s: Array[(Int, graft.model.NodeStats)]) =
    s.map { case (k, st) =>
      (k, st.votes.toSeq, math.round(st.errSum * 1e9),
        st.vecSum.map(v => math.round(v * 1e9)).toSeq, st.count, st.nAssigned)
    }.toSeq

  test("local aggregation is input-order independent (combiner law)") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val pts = (1 to 40).map { i =>
        Point(Array(rng.nextDouble() * 40 - 20, rng.nextDouble() * 40 - 20), 0, i.toLong)
      }
      val a = GngOps.assignAggregateLocal(pts, cents)
      val b = GngOps.assignAggregateLocal(rng.shuffle(pts), cents)
      assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
      a.zip(b).foreach { case ((k1, s1), (k2, s2)) =>
        assert(k1 === k2)
        assert(s1.votes.toSeq === s2.votes.toSeq)
        assert(s1.count === s2.count)
        assert(s1.nAssigned === s2.nAssigned)
        assert(math.abs(s1.errSum - s2.errSum) < 1e-9)
        s1.vecSum.zip(s2.vecSum).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
      }
    }
  }

  test("distributed assignAggregate equals the local reference") {
    import spark.implicits._
    val pts = (1 to 200).map { i =>
      Point(Array(math.cos(i * 0.7) * 12, math.sin(i * 1.3) * 12), 0, i.toLong)
    }
    // point 1 watched as its own winner's seed (a hit), point 2 as
    // another node's (a miss)
    val w1 = GngOps.twoNearest(pts(0).features, cents)._1
    val w2 = GngOps.twoNearest(pts(1).features, cents)._1
    val seeds = SeedWatch(Array(w1, (w2 + 1) % cents.length), Array(1L, 2L))
    val dist = GngOps.assignAggregate(spark.createDataset(pts).repartition(5), cents, seeds)
    val local = GngOps.assignAggregateLocal(pts, cents, seeds)
    assert(statsKey(dist) === statsKey(local))
    val byNode = local.toMap
    assert(byNode(w1).nAssigned === byNode(w1).count - 1)
    assert(local.map(_._2.nAssigned).sum === pts.length - 1L)
  }

  test("assignAggregate on empty centroids or empty batch") {
    import spark.implicits._
    assert(GngOps.assignAggregate(spark.createDataset(Seq.empty[Point]), cents).isEmpty)
    assert(GngOps.assignAggregate(spark.createDataset(Seq(Point(Array(1.0), 0, 1))), Array.empty).isEmpty)
  }
}
