package graft.model

/** A stream element: dense feature vector + ground-truth label (unused in
  * learning, kept for evaluation) + unique point id.
  * Mirrors the reference's `pointObj` (pointObj.scala:11-15) with
  * `Array[Double]` instead of a Breeze vector so the Spark `Encoder` maps
  * it to `ArrayType(DoubleType)` and the built-in HOFs apply. */
final case class Point(features: Array[Double], label: Int, id: Long)

/** A cluster centroid / graph node. Mirrors the reference's `prototype`
  * (pointObj.scala:22-26): centroid vector, the number of points ever
  * assigned, and a node id (monotonic here — the reference's
  * `nodes.length+1` scheme collides after removals, SURVEY §7.4.4).
  * The reference keeps the assigned points' id set and reads only its
  * size; a count keeps the model's size independent of stream length.
  * A bootstrap node's own seed point counts once, however often the
  * node wins it back ([[GngModel.seedWatch]]). */
final case class Prototype(id: Int, centroid: Array[Double], nAssigned: Long) {
  /** Snapshot rendering: "x, y, ..." — the reference's on-disk centroid
    * format (pointObj.scala:16-18). */
  def centroidString: String = centroid.mkString(", ")
}
