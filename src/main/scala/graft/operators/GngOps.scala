package graft.operators

import org.apache.spark.sql.Dataset
import scala.collection.immutable.SortedMap
import scala.collection.mutable
import graft.expressions.Nearest.twoNearest
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
  *    on a real cluster funnel through executors, not the driver;
  *  - each point's two winners come from [[graft.expressions.Nearest]]
  *    (the reference's `(dist, idx)` order, batchStreamModel.scala:117-119).
  *
  * Per batch this is exactly one narrow stage over the points — the
  * only part of the pipeline that touches all the data, and it is
  * embarrassingly parallel — plus a collect of one stat buffer per
  * (partition, winning node). Each buffer holds a dim-long centroid sum
  * and a sparse second-BMU vote count (`Cell.votes`) with at most one
  * entry per point it won, so the partials are
  * O(partitions × winners × dim + points), not O(N × dim).
  */
object GngOps {

  /** One winner node's running sums within a partition. */
  private final class Cell(dim: Int) extends Serializable {
    /** Second-BMU node index → vote count. */
    val votes: mutable.TreeMap[Int, Long] = mutable.TreeMap.empty
    var errSum = 0.0
    val vecSum = new Array[Double](dim)
    var count = 0L
    var seedHits = 0L

    def merge(o: Cell): Unit = {
      for ((j, c) <- o.votes) vote(j, c)
      errSum += o.errSum
      var i = 0
      while (i < vecSum.length) { vecSum(i) += o.vecSum(i); i += 1 }
      count += o.count
      seedHits += o.seedHits
    }

    def vote(j: Int, c: Long): Unit = votes(j) = votes.getOrElse(j, 0L) + c
  }

  /** Mutable per-partition accumulator keyed by winner node. */
  private final class Acc(dim: Int, seeds: SeedWatch) extends Serializable {
    val map: mutable.HashMap[Int, Cell] = mutable.HashMap.empty
    def add(bmu1: Int, bmu2: Int, dsq: Double, features: Array[Double], id: Long): Unit = {
      val e = map.getOrElseUpdate(bmu1, new Cell(dim))
      e.vote(bmu2, 1L)
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
        k -> NodeStats(SortedMap.from(e.votes), e.errSum, e.vecSum, e.count, e.count - e.seedHits)
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
        .treeAggregate(new Acc(dim, seeds))(
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
    val acc = new Acc(centroids(0).length, seeds)
    for (p <- points) {
      val (b1, b2, d1) = twoNearest(p.features, centroids)
      acc.add(b1, b2, d1, p.features, p.id)
    }
    acc.result
  }
}
