package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The brute-force twin of [[Nearest]]: every centroid's (d, index)
  * pair, sorted under Double's total order and then the index — the
  * reference's `(dist, idx)` sort (batchStreamModel.scala:117-119) and
  * the DuckDB oracles' `ORDER BY dsq, cluster`. */
object NearestOracle {
  private val order: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  def ranked(q: Array[Double], off: Int, cs: Array[Array[Double]]): Seq[(Double, Int)] =
    cs.zipWithIndex.toSeq.map { case (c, i) =>
      (c.indices.foldLeft(0.0) { (d, k) => val t = q(off + k) - c(k); d + t * t }, i)
    }.sortBy(identity)(order)

  def lt(a: (Double, Int), b: (Double, Int)): Boolean = order.lt(a, b)
}

/** The kernel against [[NearestOracle]], by the bits of every distance
  * and by index, over random, tie-heavy and non-finite inputs. */
class NearestSpec extends AnyFunSuite {

  private val special = Gen.oneOf(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, 1e200, -1e200)

  /** random features, small integers (to force ties), or small integers
    * with NaN / ±Inf / overflowing coordinates mixed in */
  private def coord(kind: Int): Gen[Double] = kind match {
    case 0 => Gen.choose(-10.0, 10.0)
    case 1 => Gen.choose(0, 2).map(_.toDouble)
    case _ => Gen.frequency(3 -> Gen.choose(0, 2).map(_.toDouble), 1 -> special)
  }

  private case class Case(q: Array[Double], off: Int, cs: Array[Array[Double]], nProbe: Int) {
    override def toString: String =
      s"q=${q.mkString("[", ",", "]")} off=$off nProbe=$nProbe " +
        s"cs=${cs.map(_.mkString("[", ",", "]")).mkString(" ")}"
  }

  private val genCase: Gen[Case] = for {
    kind <- Gen.choose(0, 2)
    dim <- Gen.choose(1, 5)
    n <- Gen.oneOf(Gen.const(1), Gen.const(2), Gen.choose(3, 10))
    off <- Gen.choose(0, 3)
    tail <- Gen.choose(0, 2)
    q <- Gen.listOfN(off + dim + tail, coord(kind))
    cs <- Gen.listOfN(n, Gen.listOfN(dim, coord(kind)))
    nProbe <- Gen.choose(1, n + 1)
  } yield Case(q.toArray, off, cs.map(_.toArray).toArray, nProbe)

  /** IEEE bits with every NaN collapsed to one, as `Double.compare`
    * sees them: Java does not fix which NaN payload an operation on
    * NaNs returns, and interpreted and compiled code can differ. */
  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  private def check(prop: Prop): Unit = {
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(Seed(20261019L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("dist2, nearest, twoNearest and nearestN equal the brute-force sort, bit for bit") {
    check(Prop.forAll(genCase) { c =>
      val want = NearestOracle.ranked(c.q, c.off, c.cs)
      val slice = c.q.slice(c.off, c.off + c.cs(0).length)
      val (b1, b2, d1) = Nearest.twoNearest(slice, c.cs)
      val want2 = if (c.cs.length > 1) want(1)._2 else want(0)._2
      val wantD = want.map { case (d, i) => i -> d }.toMap
      val dists = c.cs.map(Nearest.dist2(c.q, c.off, _))
      (Prop(dists.indices.forall(i => bits(dists(i)) == bits(wantD(i)))) :| "dist2") &&
        (Prop(Nearest.nearest(c.q, c.off, c.cs) == want(0)._2) :| "nearest") &&
        (Prop((b1, b2) == (want(0)._2, want2)) :| s"twoNearest ($b1, $b2)") &&
        (Prop(bits(d1) == bits(want(0)._1)) :| s"twoNearest d1 $d1") &&
        (Prop(Nearest.nearestN(slice, c.cs, c.nProbe).toSeq == want.take(c.nProbe).map(_._2)) :|
          "nearestN")
    })
  }

  test("before is the oracle's (d, index) order") {
    val genPair = for {
      d <- Gen.oneOf(coord(2), coord(0)); e <- Gen.oneOf(coord(2), coord(0))
      i <- Gen.choose(0, 3); j <- Gen.choose(0, 3)
    } yield ((d, i), (e, j))
    check(Prop.forAll(genPair) { case (a, b) =>
      Nearest.before(a._1, a._2, b._1, b._2) == NearestOracle.lt(a, b)
    })
  }

  test("a non-empty matrix never yields -1, whatever the point") {
    val cs = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(2.0, 2.0))
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e200)) {
      val q = Array(v, 0.0)
      assert(Nearest.nearest(q, 0, cs) === 0, s"$v")
      assert(Nearest.twoNearest(q, cs)._1 === 0 && Nearest.twoNearest(q, cs)._2 === 1, s"$v")
      assert(Nearest.nearestN(q, cs, 4).toSeq === Seq(0, 1, 2), s"$v")
    }
    // a finite distance beats +Infinity, and +Infinity beats NaN
    val mixed = Array(Array(Double.NaN, 0.0), Array(1e200, 0.0), Array(3.0, 4.0))
    assert(Nearest.nearestN(Array(0.0, 0.0), mixed, 3).toSeq === Seq(2, 1, 0))
    assert(Nearest.twoNearest(Array(0.0, 0.0), Array(Array(3.0, 4.0))) === ((0, 0, 25.0)))
    assert(Nearest.nearest(Array(0.0), 0, Array.empty[Array[Double]]) === -1)
  }
}
