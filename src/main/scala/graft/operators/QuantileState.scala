package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.functions.col

/** MERGEABLE per-key quantile state — the streaming companion to q39's
  * approx_percentile: a Greenwald-Khanna summary
  * ([[QuantileSummaries]], the sketch behind Spark's own
  * approxQuantile) per group, built distributed and maintained across
  * micro-batches by MERGING (rank error stays ≤ ε after any merge
  * sequence), so a stream keeps ε-accurate percentiles per key without
  * ever re-scanning history — the latency/error monitor state a 100 TB
  * ingest actually holds.
  *
  * Build shape: per-partition sketches folded by `treeAggregate`
  * (t33/HeavyHitters' pattern) — raw values are never shuffled by key,
  * so a hot key costs nothing extra; the driver receives one
  * ~KB-per-key map per partition-tree level. */
object QuantileState {

  type State = Map[String, QuantileSummaries]

  /** One compressed summary per distinct `keyCol` value over
    * `valueCol`, with relative rank error ≤ `eps`. NULL values are
    * skipped (they have no rank); NULL keys group under their own
    * entry is NOT supported — rows with NULL keys are skipped too,
    * stated rather than silently grouped. */
  def sketch(df: DataFrame, keyCol: String, valueCol: String,
      eps: Double = 0.001): State = {
    require(eps > 0 && eps < 0.5, s"quantileState: eps out of range: $eps")
    val rows = df.select(col(keyCol).cast("string"), col(valueCol).cast("double")).rdd
    // per-partition MUTABLE accumulator (the BloomPrune
    // treeAggregate idiom): an immutable-map `updated` per row would
    // allocate an O(log n) node path for every input value
    rows.treeAggregate(scala.collection.mutable.HashMap.empty[String, QuantileSummaries])(
      (m, row) => {
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val k = row.getString(0)
          val qs = m.getOrElse(k,
            new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, eps))
          m.update(k, qs.insert(row.getDouble(1)))
        }
        m
      },
      (a, b) => {
        b.foreach { case (k, q) =>
          val qc = if (q.compressed) q else q.compress()
          a.update(k, a.get(k) match {
            case Some(x) => (if (x.compressed) x else x.compress()).merge(qc)
            case None => qc
          })
        }
        a
      })
      .view.mapValues(q => if (q.compressed) q else q.compress()).toMap
  }

  private def compressAll(s: State): State =
    s.view.mapValues(q => if (q.compressed) q else q.compress()).toMap

  /** Merge two states key-wise — the per-batch maintenance step. The
    * GK merge preserves the ε rank bound, so the maintained state is
    * slicing-invariant UP TO ε (not bit-identical: the surviving
    * sample points differ by merge order; every quantile answer stays
    * in band — the property s18's oracle checks). */
  def mergeStates(a: State, b: State): State = {
    val ca = compressAll(a); val cb = compressAll(b)
    (ca.keySet ++ cb.keySet).map { k =>
      k -> ((ca.get(k), cb.get(k)) match {
        case (Some(x), Some(y)) => x.merge(y)
        case (Some(x), None) => x
        case (None, Some(y)) => y
        case _ => throw new IllegalStateException("unreachable")
      })
    }.toMap
  }

  /** The ε-accurate quantile estimate for `key`, or None for an unseen
    * key / empty summary. */
  def query(state: State, key: String, q: Double): Option[Double] =
    state.get(key).flatMap(s => s.query(q).map(_.asInstanceOf[Double]))

  // --- state (de)serialization: QuantileSummaries is Serializable ---

  def serialize(s: State): Map[String, Array[Byte]] =
    s.view.mapValues { q =>
      val b = new java.io.ByteArrayOutputStream()
      val o = new java.io.ObjectOutputStream(b)
      o.writeObject(if (q.compressed) q else q.compress()); o.close()
      b.toByteArray
    }.toMap

  def deserialize(m: Map[String, Array[Byte]]): State =
    m.view.mapValues { bytes =>
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
        .readObject().asInstanceOf[QuantileSummaries]
    }.toMap
}
