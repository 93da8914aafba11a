package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSupport
import graft.model.Point
import graft.operators.LiveIvf.{Cell, Snapshot}

/** [[LiveIvf]] — the live IVF index over an evolving prototype table.
  * Contract: `advance(index, prev, next)` is row-identical to
  * `assignFull(vectors, next)` for EVERY snapshot transition — moves,
  * births, deaths, steals, exact ties, and the identity case — and
  * folding a whole snapshot sequence equals full re-assignment at the
  * end. */
class IncrementalIvfSpec extends AnyFunSuite with SparkTestSupport {

  private def pts(vs: (Long, Array[Double])*) = {
    import spark.implicits._
    vs.map { case (id, f) => Point(f, 0, id) }.toDS()
  }

  private def cells(ds: org.apache.spark.sql.Dataset[Cell]): Map[Long, (Int, Double)] =
    ds.collect().map(c => c.vec_id -> (c.node_id, c.dsq)).toMap

  private def snap(ps: (Int, Array[Double])*): Snapshot = ps.toArray

  /** advance-vs-full equality over one transition. */
  private def assertAdvanceEqualsFull(vectors: Seq[(Long, Array[Double])],
      prev: Snapshot, next: Snapshot): Map[Long, (Int, Double)] = {
    val v = pts(vectors: _*)
    val index = LiveIvf.assignFull(v, prev)
    val adv = cells(LiveIvf.advance(index, prev, next))
    val full = cells(LiveIvf.assignFull(v, next))
    assert(adv === full)
    adv
  }

  private val vectors = Seq(
    1L -> Array(0.0, 0.0), 2L -> Array(1.0, 0.0), 3L -> Array(5.0, 0.0),
    4L -> Array(6.0, 0.0), 5L -> Array(10.0, 0.0))

  test("an index holding NaN and overflowing rows advances exactly like full re-assignment") {
    // every distance of row 9 is NaN and of row 10 +Infinity: both sit in
    // the lowest-index cell, and a move, a birth and a death keep them
    // where full re-assignment puts them
    val vs = pts(vectors ++ Seq(9L -> Array(Double.NaN, 0.0), 10L -> Array(1e200, 0.0)): _*)
    def bitsOf(ds: org.apache.spark.sql.Dataset[Cell]) =
      ds.collect().map(c => c.vec_id -> (c.node_id, java.lang.Double.doubleToLongBits(c.dsq))).toMap
    val steps = Seq(
      snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0)),
      snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0), 9 -> Array(10.0, 0.0)),
      snap(7 -> Array(1.0, 0.0), 8 -> Array(6.0, 0.0), 9 -> Array(10.0, 0.0)),
      snap(8 -> Array(6.0, 0.0), 9 -> Array(10.0, 0.0)))
    var index = LiveIvf.assignFull(vs, steps.head)
    for (Seq(prev, next) <- steps.sliding(2)) {
      index = LiveIvf.advance(index, prev, next)
      val full = bitsOf(LiveIvf.assignFull(vs, next))
      assert(bitsOf(index) === full)
      assert(full(9L)._1 === next(0)._1 && full(10L)._1 === next(0)._1)
    }
  }

  test("identity: nothing moved → assignments and cached distances unchanged") {
    val s = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0))
    val m = assertAdvanceEqualsFull(vectors, s, s)
    assert(m(1L)._1 === 7 && m(5L)._1 === 8)
  }

  test("moved prototype: its cell fully re-scores; stealing from unchanged cells works") {
    // node 8 moves from x=6 to x=1.5: vec 2 (cached on 7) is stolen,
    // vecs 3/4/5 (cached on 8) fully re-score
    val prev = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0))
    val next = snap(7 -> Array(0.0, 0.0), 8 -> Array(1.5, 0.0))
    val m = assertAdvanceEqualsFull(vectors, prev, next)
    assert(m(2L)._1 === 8 && m(1L)._1 === 7 && m(5L)._1 === 8)
  }

  test("birth: appended prototype steals only what it wins") {
    val prev = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0))
    val next = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0), 9 -> Array(10.0, 0.0))
    val m = assertAdvanceEqualsFull(vectors, prev, next)
    assert(m(5L)._1 === 9 && m(4L)._1 === 8 && m(1L)._1 === 7)
  }

  test("death: the dead cell's vectors re-home; survivor cells untouched") {
    val prev = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0), 9 -> Array(10.0, 0.0))
    val next = snap(7 -> Array(0.0, 0.0), 9 -> Array(10.0, 0.0))
    val m = assertAdvanceEqualsFull(vectors, prev, next)
    assert(m(3L)._1 === 7 && m(4L)._1 === 9) // 5.0→7 (dist 5) vs 9 (dist 5): tie → lower INDEX (7 at 0)
  }

  test("exact tie between cached winner and a challenger resolves by snapshot index") {
    // vec at x=3 sits exactly between node 7 (x=0, index 0) and a
    // challenger at x=6 → both dsq 9 when the challenger moves to x=0…
    // make it cleaner: challenger 8 moves to x=6 exactly mirroring
    // prev, and a new node 9 lands at the EXACT mirror of 7 around
    // vec 2 (x=1): d(2, 7)=1, d(2, 9 at x=2)=1 — tie; 7 has index 0,
    // 9 index 2 → cached winner keeps it
    val prev = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0))
    val next = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0), 9 -> Array(2.0, 0.0))
    val m = assertAdvanceEqualsFull(vectors, prev, next)
    assert(m(2L)._1 === 7, "equal distance must keep the lower-index cached winner")
    // and the mirror: if the TIE is against a challenger with a LOWER
    // next index than the cached winner, the challenger wins — delete
    // node 7 so 9 shifts to index 1 while 8 (cached for vec 4 at x=6)
    // stays… vec 3 at x=5: d to 8 = 1; insert challenger at x=4 →
    // d = 1 tie, challenger index 0 < 8's index 1 → challenger wins
    val prev2 = snap(8 -> Array(6.0, 0.0))
    val next2 = snap(10 -> Array(4.0, 0.0), 8 -> Array(6.0, 0.0))
    val m2 = assertAdvanceEqualsFull(Seq(3L -> Array(5.0, 0.0)), prev2, next2)
    assert(m2(3L)._1 === 10, "equal distance must prefer the lower snapshot index")
  }

  test("id reuse with a different centroid is treated as a move, never a stale cache") {
    // node 8 dies and a NEW node reuses id 8 elsewhere
    val prev = snap(7 -> Array(0.0, 0.0), 8 -> Array(6.0, 0.0))
    val next = snap(7 -> Array(0.0, 0.0), 8 -> Array(100.0, 0.0))
    val m = assertAdvanceEqualsFull(vectors, prev, next)
    assert(m(3L)._1 === 7 && m(5L)._1 === 7)
  }

  test("fuzz: random snapshot evolutions (moves/births/deaths) equal full re-assignment at every step") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val dim = 2 + rnd.nextInt(3)
      val vs = (1 to 15 + rnd.nextInt(20)).map(i =>
        i.toLong -> Array.fill(dim)(rnd.nextGaussian()))
      var nextId = 100
      var cur: Snapshot = Array.tabulate(3)(i =>
        (i + 1, Array.fill(dim)(rnd.nextGaussian())))
      val v = pts(vs: _*)
      var index = LiveIvf.assignFull(v, cur)
      for (step <- 1 to 4) {
        // random evolution: each prototype survives (maybe moved),
        // plus 0-2 births appended — keep >=1 survivor so cells exist
        val survivors = cur.filter(_ => rnd.nextDouble() > 0.25) match {
          case e if e.isEmpty => cur.take(1)
          case s => s
        }
        val evolved = survivors.map { case (id, c) =>
          if (rnd.nextBoolean()) (id, c.map(_ + rnd.nextGaussian() * 0.5)) else (id, c)
        }
        val births = Array.fill(rnd.nextInt(3)) {
          nextId += 1
          (nextId, Array.fill(dim)(rnd.nextGaussian()))
        }
        val next = evolved ++ births
        index = LiveIvf.advance(index, cur, next)
        assert(cells(index) === cells(LiveIvf.assignFull(v, next)),
          s"trial $trial step $step: prev=${cur.map(_._1).toSeq} next=${next.map(_._1).toSeq}")
        cur = next
      }
    }
  }

  test("folding a snapshot sequence equals full re-assignment at every step") {
    val seqSnaps = Seq(
      snap(1 -> Array(0.0, 0.0), 2 -> Array(8.0, 0.0)),
      snap(1 -> Array(0.5, 0.0), 2 -> Array(8.0, 0.0), 3 -> Array(4.0, 0.0)),
      snap(1 -> Array(0.5, 0.0), 3 -> Array(5.0, 0.0)),
      snap(4 -> Array(2.0, 0.0), 1 -> Array(0.5, 0.0), 3 -> Array(5.0, 0.0)))
    val v = pts(vectors: _*)
    var index = LiveIvf.assignFull(v, seqSnaps.head)
    for (Seq(p, n) <- seqSnaps.sliding(2)) {
      index = LiveIvf.advance(index, p, n)
      assert(cells(index) === cells(LiveIvf.assignFull(v, n)))
    }
  }
}
