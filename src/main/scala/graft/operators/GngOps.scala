package graft.operators

import org.apache.spark.sql.Dataset
import scala.collection.mutable
import graft.model.{NodeStats, Point, SeedWatch}

/** The distributed half of the G-Stream micro-batch update: nearest-
  * prototype assignment + per-winner statistics aggregation
  * (reference `findTwoNearestPointDist1L` + `aggregateByKey`,
  * batchStreamModel.scala:61-78), re-designed for scale:
  *
  *  - centroids are **broadcast** (the reference shipped them in every
  *    task closure — SURVEY §4.1 flags this as the inefficiency to fix);
  *  - assignment and partial aggregation are **fused in one pass** inside
  *    each partition (no per-point rows emitted, no shuffle at all —
  *    the reference paid a full `aggregateByKey` shuffle);
  *  - partials merge via `treeAggregate` (depth 2), so 10⁴ partitions
  *    on a real cluster funnel through executors, not the driver.
  *
  * Per batch this is exactly one narrow stage over the points — the
  * only part of the pipeline that touches all the data, and it is
  * embarrassingly parallel — plus a collect of one stat buffer per
  * (partition, winning node). Each buffer holds a dim-long centroid sum
  * and a dense N-long vote vector (`Cell.votes`), so the partials are
  * O(partitions × winners × (N + dim)), not O(N × dim).
  */
object GngOps {

  /** Top-2 nearest centroids by squared Euclidean distance; ties broken
    * by lowest index (the reference's lexicographic (dist, idx) sort,
    * batchStreamModel.scala:117-119). Returns (bmu1, bmu2, dist1²). */
  def twoNearest(features: Array[Double], centroids: Array[Array[Double]]): (Int, Int, Double) = {
    var b1 = -1; var b2 = -1
    var d1 = Double.PositiveInfinity; var d2 = Double.PositiveInfinity
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      var d = 0.0
      var k = 0
      while (k < c.length) { val t = features(k) - c(k); d += t * t; k += 1 }
      if (d < d1) { d2 = d1; b2 = b1; d1 = d; b1 = i }
      else if (d < d2) { d2 = d; b2 = i }
      i += 1
    }
    (b1, if (b2 >= 0) b2 else b1, d1)
  }

  /** One winner node's running sums within a partition. */
  private final class Cell(nNodes: Int, dim: Int) extends Serializable {
    val votes = new Array[Long](nNodes)
    var errSum = 0.0
    val vecSum = new Array[Double](dim)
    var count = 0L
    var seedHits = 0L

    def merge(o: Cell): Unit = {
      var i = 0
      while (i < votes.length) { votes(i) += o.votes(i); i += 1 }
      errSum += o.errSum
      i = 0
      while (i < vecSum.length) { vecSum(i) += o.vecSum(i); i += 1 }
      count += o.count
      seedHits += o.seedHits
    }
  }

  /** Mutable per-partition accumulator keyed by winner node. */
  private final class Acc(nNodes: Int, dim: Int, seeds: SeedWatch) extends Serializable {
    val map: mutable.HashMap[Int, Cell] = mutable.HashMap.empty
    def add(bmu1: Int, bmu2: Int, dsq: Double, features: Array[Double], id: Long): Unit = {
      val e = map.getOrElseUpdate(bmu1, new Cell(nNodes, dim))
      e.votes(bmu2) += 1
      e.errSum += dsq
      val vs = e.vecSum
      var k = 0
      while (k < dim) { vs(k) += features(k); k += 1 }
      e.count += 1
      if (seeds.hit(bmu1, id)) e.seedHits += 1
    }
    def merge(o: Acc): Acc = {
      for ((k, ov) <- o.map) {
        map.get(k) match {
          case None => map.put(k, ov)
          case Some(e) => e.merge(ov)
        }
      }
      this
    }
    def result: Array[(Int, NodeStats)] =
      map.iterator.map { case (k, e) =>
        k -> NodeStats(e.votes, e.errSum, e.vecSum, e.count, e.count - e.seedHits)
      }.toArray.sortBy(_._1)
  }

  /** Distributed assign + aggregate: one narrow pass, no shuffle.
    * Result: per-winner stats in canonical (ascending index) order.
    * `seeds` is the model's [[graft.model.GngModel.seedWatch]]; without
    * it a stream that re-delivers a bootstrap point counts it twice in
    * [[NodeStats.nAssigned]]. */
  def assignAggregate(points: Dataset[Point], centroids: Array[Array[Double]],
      seeds: SeedWatch = SeedWatch.empty): Array[(Int, NodeStats)] = {
    if (centroids.isEmpty) return Array.empty
    val dim = centroids(0).length
    val n = centroids.length
    val sc = points.sparkSession.sparkContext
    val bc = sc.broadcast(centroids)
    try {
      val rdd = points.rdd
      // the depth-2 funnel exists to keep 10⁴-partition clusters from
      // merging every partial on the driver — but it costs one extra
      // stage per micro-batch, which is pure overhead when there are
      // only a handful of partitions (local mode / small batches)
      val depth = if (rdd.getNumPartitions > 16) 2 else 1
      rdd
        .treeAggregate(new Acc(n, dim, seeds))(
          seqOp = (acc, p) => {
            val (b1, b2, d1) = twoNearest(p.features, bc.value)
            acc.add(b1, b2, d1, p.features, p.id)
            acc
          },
          combOp = (a, b) => a.merge(b),
          depth = depth)
        .result
    } finally bc.destroy()
  }

  /** Driver-local variant for tiny batches (no Spark job): identical
    * semantics, used by tests and the small-batch fast path. */
  def assignAggregateLocal(points: Iterable[Point], centroids: Array[Array[Double]],
      seeds: SeedWatch = SeedWatch.empty): Array[(Int, NodeStats)] = {
    if (centroids.isEmpty) return Array.empty
    val acc = new Acc(centroids.length, centroids(0).length, seeds)
    for (p <- points) {
      val (b1, b2, d1) = twoNearest(p.features, centroids)
      acc.add(b1, b2, d1, p.features, p.id)
    }
    acc.result
  }
}
