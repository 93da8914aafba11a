package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import scala.collection.immutable.SortedMap
import scala.collection.mutable
import graft.expressions.Nearest.twoNearest
import graft.model.{NodeStats, Point, SeedWatch}

/** The distributed half of the G-Stream micro-batch update: nearest-
  * prototype assignment + per-winner statistics aggregation
  * (reference `findTwoNearestPointDist1L` + `aggregateByKey`,
  * batchStreamModel.scala:61-78), as one Spark job per batch:
  *
  *  - assignment and partial aggregation are **fused in one pass** inside
  *    each partition (no per-point rows emitted, no shuffle at all —
  *    the reference paid a full `aggregateByKey` shuffle); the local
  *    and the distributed path run the same per-point loop (`fold`);
  *  - the centroids ride in the task closure, which the scheduler
  *    broadcasts once per stage as the task binary;
  *  - the partials come back in partition order and merge left to right
  *    on the driver, so a fixed partitioning gives bit-identical stats
  *    on every run (a replayed batch included);
  *  - each point's two winners come from [[graft.expressions.Nearest]]
  *    (the reference's `(dist, idx)` order, batchStreamModel.scala:117-119).
  *
  * The driver receives at most one stat buffer per (partition, winning
  * node): at most min(rows, partitions × nodes) cells per batch. Each
  * holds a dim-long centroid sum and a sparse second-BMU vote count
  * (`Cell.votes`) with at most one entry per point it won, so the
  * partials are O(partitions × winners × dim + points), not O(N × dim).
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

  /** Mutable per-partition accumulator keyed by winner node; only its
    * cells travel back from a task. */
  private final class Acc(dim: Int, seeds: SeedWatch) {
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
    def merge(cells: mutable.HashMap[Int, Cell]): Acc = {
      for ((k, ov) <- cells) {
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

  /** The one assign + accumulate loop both paths run: each point's two
    * winners, then its stats into its first winner's cell. `features`
    * must return an array that stays valid while its point is folded
    * (the distributed path copies it out of Spark's reused row). */
  private def fold[R](rows: Iterator[R], centroids: Array[Array[Double]], seeds: SeedWatch)(
      features: R => Array[Double], id: R => Long): Acc = {
    val acc = new Acc(centroids(0).length, seeds)
    while (rows.hasNext) {
      val r = rows.next()
      val f = features(r)
      val (b1, b2, d1) = twoNearest(f, centroids)
      acc.add(b1, b2, d1, f, id(r))
    }
    acc
  }

  /** Distributed assign + aggregate: one job, one narrow stage, no
    * shuffle. It folds the batch's own planned rows
    * (`queryExecution.toRdd`; `Dataset.rdd` would re-plan the batch
    * through a deserializer), one partial per partition.
    * Result: per-winner stats in canonical (ascending index) order.
    * `seeds` is the model's [[graft.model.GngModel.seedWatch]]; without
    * it a stream that re-delivers a bootstrap point counts it twice in
    * [[NodeStats.nAssigned]]. */
  def assignAggregate(points: Dataset[Point], centroids: Array[Array[Double]],
      seeds: SeedWatch = SeedWatch.empty): Array[(Int, NodeStats)] = {
    if (centroids.isEmpty) return Array.empty
    val schema = points.schema
    val fi = schema.fieldNames.indexOf("features")
    val ii = schema.fieldNames.indexOf("id")
    val typed = fi >= 0 && ii >= 0 && schema(ii).dataType == LongType &&
      (schema(fi).dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
    require(typed, s"assignAggregate: points need features array<double> and id bigint, got " +
      s"${schema.simpleString}; build them with GStream.toPoints or GStream.parseCsvPoints")
    points.queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(
        fold(rows, centroids, seeds)(_.getArray(fi).toDoubleArray(), _.getLong(ii)).map))
      .collect()
      .foldLeft(new Acc(centroids(0).length, seeds))(_ merge _)
      .result
  }

  /** Driver-local variant (no Spark job): the same loop over an
    * in-memory batch, used by the driver-local fits, the keyed stream
    * and tests. */
  def assignAggregateLocal(points: Iterable[Point], centroids: Array[Array[Double]],
      seeds: SeedWatch = SeedWatch.empty): Array[(Int, NodeStats)] =
    if (centroids.isEmpty) Array.empty
    else fold(points.iterator, centroids, seeds)(_.features, _.id).result
}
