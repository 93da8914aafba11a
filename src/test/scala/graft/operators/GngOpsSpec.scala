package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSupport
import graft.expressions.Nearest
import graft.model.{Point, SeedWatch}

/** The distributed assign+aggregate step: top-2 selection semantics and
  * the combiner laws the partition merge relies on (the same contract the
  * reference's `mergeContribs` assumes for `aggregateByKey` — SURVEY §5).
  * Property-style checks use a seeded RNG (scalatestplus-scalacheck is
  * not in the offline cache). */
class GngOpsSpec extends AnyFunSuite with SparkTestSupport {

  private val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0))

  test("twoNearest picks the two closest with lowest-index tie-break") {
    val (b1, b2, d1) = Nearest.twoNearest(Array(1.0, 0.0), cents)
    assert((b1, b2) === (0, 1))
    assert(d1 === 1.0)
  }

  test("twoNearest with equal distances keeps first-seen (reference sort order)") {
    val eq = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val (b1, b2, _) = Nearest.twoNearest(Array(0.0, 0.0), eq)
    assert((b1, b2) === (0, 1))
  }

  private def statsKey(s: Array[(Int, graft.model.NodeStats)]) =
    s.map { case (k, st) =>
      (k, st.votes, math.round(st.errSum * 1e9),
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
        assert(s1.votes === s2.votes)
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
    val w1 = Nearest.twoNearest(pts(0).features, cents)._1
    val w2 = Nearest.twoNearest(pts(1).features, cents)._1
    val seeds = SeedWatch(Array(w1, (w2 + 1) % cents.length), Array(1L, 2L))
    val dist = GngOps.assignAggregate(spark.createDataset(pts).repartition(5), cents, seeds)
    val local = GngOps.assignAggregateLocal(pts, cents, seeds)
    assert(statsKey(dist) === statsKey(local))
    val byNode = local.toMap
    assert(byNode(w1).nAssigned === byNode(w1).count - 1)
    assert(local.map(_._2.nAssigned).sum === pts.length - 1L)
  }

  test("a winner's partial holds one vote entry per second BMU drawn, not one per node") {
    import spark.implicits._
    // 1000 centroids on a line, 10 points (5 spread out, 5 around node
    // 500): each winner's votes can name at most the second BMUs its
    // points drew
    val many = Array.tabulate(1000)(i => Array(i.toDouble, 0.0))
    val pts = (1 to 10).map { i =>
      Point(Array(if (i <= 5) i * 97.3 else 500 + (i - 8) * 0.3, 0.4), 0, i.toLong)
    }
    val local = GngOps.assignAggregateLocal(pts, many)
    val dist = GngOps.assignAggregate(spark.createDataset(pts).repartition(3), many)
    for (stats <- Seq(local, dist)) {
      assert(stats.map(_._2.count).sum === 10L)
      stats.foreach { case (k, st) =>
        assert(st.votes.size <= 10, s"winner $k carries ${st.votes.size} vote entries")
        assert(st.votes.values.sum === st.count)
      }
    }
    assert(statsKey(dist) === statsKey(local))
  }

  test("assignAggregate rejects a wrongly typed column, naming the point builders") {
    import org.apache.spark.sql.functions.{array, lit}
    import spark.implicits._
    // `.as[Point]` upcasts an int id for its own reads, but the planned
    // rows the assign folds still hold an int
    val intIds = spark.range(3).select(array(lit(1.0)).as("features"), lit(0).as("label"),
      lit(7).as("id")).as[Point]
    val e = intercept[IllegalArgumentException](GngOps.assignAggregate(intIds, cents))
    assert(e.getMessage.contains("GStream.toPoints"), e.getMessage)
  }

  test("assignAggregate on empty centroids or empty batch") {
    import spark.implicits._
    assert(GngOps.assignAggregate(spark.createDataset(Seq.empty[Point]), cents).isEmpty)
    assert(GngOps.assignAggregate(spark.createDataset(Seq(Point(Array(1.0), 0, 1))), Array.empty).isEmpty)
  }
}
