package graft.operators

import org.apache.spark.sql.Dataset
import graft.expressions.Nearest
import graft.model.Point

/** A LIVE IVF index whose coarse quantizer is an EVOLVING prototype
  * table — the bridge between the engine's flagship streaming model
  * (the G-Stream prototypes v06 serves statically after training) and
  * its vector-serving stack: as the model trains, each snapshot's
  * prototype moves/births/deaths fold into the stored cell assignment
  * INCREMENTALLY instead of re-scoring the corpus per snapshot.
  *
  * Exactness argument (IncrementalIvfSpec asserts equality with full
  * re-assignment at every snapshot):
  *  - a cell row caches (node_id, dsq) where dsq is the EXACT squared
  *    distance [[Nearest.twoNearest]] computed — distances to
  *    prototypes that did not move stay valid bit-for-bit;
  *  - a vector must fully re-score ONLY when its own prototype moved
  *    or died (its cached dsq is stale) — these are exactly the
  *    "changed cells";
  *  - every other vector can only be STOLEN by a prototype that moved
  *    or was born (unchanged prototypes already lost to the cached
  *    winner), so it compares its cached (index, dsq) against the
  *    CHANGED set only — |changed| distances, not |prototypes|;
  *  - tie-breaks survive incrementality: node deletions shift array
  *    positions but preserve the relative order of survivors, and
  *    births append at the end, so the cached winner's
  *    lowest-index-tie claim over unchanged prototypes holds under
  *    the new indexing, and [[Nearest.before]] — the full argmin's
  *    own (dsq, index) order, NaN included — against the challenger
  *    set reproduces the full argmin exactly.
  *
  * Scale shape: the index (vec_id, features, node_id, dsq) is the
  * partition-resident state; every snapshot advance is ONE narrow map
  * over it with the prototype diff riding as broadcast plan constants
  * — no join, no shuffle, no driver round-trip per vector. Changed
  * cells pay a full |P|-wide argmin; the rest pay |changed| distances
  * (zero when nothing moved — the advance is then the identity map). */
object LiveIvf {

  /** One prototype snapshot: (stable node id, centroid); array
    * position = the snapshot's tie-break index (the model's own node
    * order). */
  type Snapshot = Array[(Int, Array[Double])]

  /** One indexed vector: its cell (`node_id`) and the exact cached
    * squared distance to that cell's prototype. */
  final case class Cell(vec_id: Long, features: Array[Double],
      node_id: Int, dsq: Double)

  /** Full assignment — the index BUILD (and the correctness reference
    * for [[advance]]): every vector's nearest prototype by
    * [[Nearest.twoNearest]]. */
  def assignFull(points: Dataset[Point], snap: Snapshot): Dataset[Cell] = {
    val sess = points.sparkSession
    import sess.implicits._
    val bcC = sess.sparkContext.broadcast(snap.map(_._2))
    val bcId = sess.sparkContext.broadcast(snap.map(_._1))
    points.map { p =>
      val (b1, _, d1) = Nearest.twoNearest(p.features, bcC.value)
      Cell(p.id, p.features, bcId.value(b1), d1)
    }
  }

  /** Fold one snapshot transition into the stored index: re-score the
    * changed cells fully, steal-check everything else against the
    * changed prototypes only. Row-identical to
    * `assignFull(vectors, next)`. */
  def advance(index: Dataset[Cell], prev: Snapshot, next: Snapshot): Dataset[Cell] = {
    val sess = index.sparkSession
    import sess.implicits._
    val prevById = prev.iterator.map(p => p._1 -> p._2).toMap
    val nextIdxById = next.iterator.zipWithIndex.map { case ((id, _), i) => id -> i }.toMap
    // challengers: prototypes that moved or were born, in ascending
    // NEXT-index order so twoNearest's tie-break picks the lowest new
    // index among equals
    val challengers = next.zipWithIndex.collect {
      case ((id, c), i) if !prevById.get(id).exists(java.util.Arrays.equals(_, c)) =>
        (id, i, c)
    }
    // cells whose cached dsq is stale: prototype moved or died
    val invalidated: Set[Int] = prevById.collect {
      case (id, c) if !nextIdxById.contains(id) ||
        !java.util.Arrays.equals(c, next(nextIdxById(id))._2) => id
    }.toSet
    val bcNextC = sess.sparkContext.broadcast(next.map(_._2))
    val bcNextId = sess.sparkContext.broadcast(next.map(_._1))
    val bcChalC = sess.sparkContext.broadcast(challengers.map(_._3))
    val bcChalIdx = sess.sparkContext.broadcast(challengers.map(_._2))
    val bcChalId = sess.sparkContext.broadcast(challengers.map(_._1))
    val bcInvalid = sess.sparkContext.broadcast(invalidated)
    val bcNextIdx = sess.sparkContext.broadcast(nextIdxById)
    index.map { cell =>
      if (bcInvalid.value.contains(cell.node_id)) {
        // changed cell: the only rows that pay a full argmin
        val (b1, _, d1) = Nearest.twoNearest(cell.features, bcNextC.value)
        Cell(cell.vec_id, cell.features, bcNextId.value(b1), d1)
      } else if (bcChalC.value.isEmpty) cell // nothing moved: identity
      else {
        val (cb, _, cd) = Nearest.twoNearest(cell.features, bcChalC.value)
        val curIdx = bcNextIdx.value(cell.node_id)
        if (Nearest.before(cd, bcChalIdx.value(cb), cell.dsq, curIdx))
          Cell(cell.vec_id, cell.features, bcChalId.value(cb), cd)
        else cell
      }
    }
  }
}
