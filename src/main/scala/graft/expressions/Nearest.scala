package graft.expressions

/** The one nearest-centroid kernel: the squared distance of a vector
  * (or a slice of one) to a centroid or codeword, and the one order
  * that picks winners. G-Stream's assign step, the IVF list and probe
  * kernels, PQ encoding, PQ training and the ADC tables all go
  * through it, so no two of them can disagree on a winner.
  *
  * The order is the reference's lexicographic `(dist, idx)` sort
  * (batchStreamModel.scala:117-119): Double's total order on the
  * distance (`java.lang.Double.compare`, so +Infinity sorts after
  * every finite distance and NaN after +Infinity), then the lower
  * index. It is DuckDB's `ORDER BY d, idx` (NaN last) too, so the
  * oracles' `row_number() OVER (… ORDER BY dsq, cluster)` picks the
  * same winner. A non-empty matrix always yields a winner: a point
  * whose every distance overflows to +Infinity or is NaN goes to the
  * lowest index, never to `-1`.
  */
object Nearest {

  /** Σₖ (q(off+k) − c(k))², summed k = 0, 1, 2, … — the order of
    * [[graft.GngQueries.distSql]]'s left-associated SQL chain, so both
    * engines compute bit-identical doubles. `c` sets the width. */
  def dist2(q: Array[Double], off: Int, c: Array[Double]): Double = {
    var d = 0.0
    var k = 0
    while (k < c.length) { val t = q(off + k) - c(k); d += t * t; k += 1 }
    d
  }

  /** True when `(d, i)` comes before `(e, j)` in the winner order. */
  def before(d: Double, i: Int, e: Double, j: Int): Boolean = {
    val o = java.lang.Double.compare(d, e)
    o < 0 || (o == 0 && i < j)
  }

  /** Index of the first centroid in the winner order for the slice of
    * `q` starting at `off`; `-1` only when `cs` is empty. */
  def nearest(q: Array[Double], off: Int, cs: Array[Array[Double]]): Int = {
    var best = -1
    var bd = 0.0
    var i = 0
    while (i < cs.length) {
      val d = dist2(q, off, cs(i))
      if (best < 0 || before(d, i, bd, best)) { bd = d; best = i }
      i += 1
    }
    best
  }

  /** The first two centroids in the winner order, as
    * (bmu1, bmu2, dist1²); bmu2 = bmu1 when `cs` holds one centroid,
    * and (-1, -1, +Infinity) when it holds none. */
  def twoNearest(q: Array[Double], cs: Array[Array[Double]]): (Int, Int, Double) = {
    var b1 = -1; var b2 = -1
    var d1 = Double.PositiveInfinity; var d2 = Double.PositiveInfinity
    var i = 0
    while (i < cs.length) {
      val d = dist2(q, 0, cs(i))
      if (b1 < 0 || before(d, i, d1, b1)) { d2 = d1; b2 = b1; d1 = d; b1 = i }
      else if (b2 < 0 || before(d, i, d2, b2)) { d2 = d; b2 = i }
      i += 1
    }
    (b1, if (b2 >= 0) b2 else b1, d1)
  }

  /** The first `min(n, cs.length)` centroid indices in the winner
    * order (none when `n <= 0`). */
  def nearestN(q: Array[Double], cs: Array[Array[Double]], n: Int): Array[Int] = {
    val ds = new Array[Double](cs.length)
    var i = 0
    while (i < cs.length) { ds(i) = dist2(q, 0, cs(i)); i += 1 }
    val out = new Array[Int](math.max(0, math.min(n, cs.length)))
    val used = new Array[Boolean](cs.length)
    var r = 0
    while (r < out.length) {
      var best = -1
      var j = 0
      while (j < ds.length) {
        if (!used(j) && (best < 0 || before(ds(j), j, ds(best), best))) best = j
        j += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    out
  }
}
