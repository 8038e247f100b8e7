package graft.operators

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSupport
import graft.model.{NodeStats, Point}

/** Property specs for the assign step: the pruned top-2 kernel against
  * the plain scan it replaced, and the distributed aggregate against the
  * driver-local one. scalacheck drives the generators directly (fixed
  * seed, so a failure reproduces). */
class GngKernelPropertySpec extends AnyFunSuite with SparkTestSupport {

  /** The oracle: a plain left-associated squared-distance scan over every
    * centroid, lowest index winning ties. */
  private def naiveTwoNearest(features: Array[Double], centroids: Array[Array[Double]]): (Int, Int, Double) = {
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

  private def check(p: Prop, tests: Int): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(tests).withInitialSeed(Seed(20261017L)), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private val poison = Gen.oneOf(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, 1e200, -1e200)

  /** A coordinate: an integer grid value (ties everywhere) or a
    * continuous one; with `poisoned`, occasionally a non-finite or
    * overflowing value. */
  private def coord(grid: Boolean, poisoned: Boolean): Gen[Double] = {
    val plain = if (grid) Gen.choose(-2, 2).map(_.toDouble) else Gen.choose(-10.0, 10.0)
    if (poisoned) Gen.frequency(150 -> plain, 1 -> poison) else plain
  }

  private def vec(dim: Int, grid: Boolean, poisoned: Boolean): Gen[Array[Double]] =
    Gen.listOfN(dim, coord(grid, poisoned)).map(_.toArray)

  /** (point, centroids): 1–64 nodes of dims 1–40, some rows duplicated
    * (exact ties); the point is free, equal to a centroid, near one, or
    * carries one poison coordinate. */
  private val kernelCase: Gen[(Array[Double], Array[Array[Double]])] = for {
    dim <- Gen.choose(1, 40)
    n <- Gen.choose(1, 64)
    grid <- Gen.prob(0.5)
    poisoned <- Gen.prob(0.2)
    rows <- Gen.listOfN(n, vec(dim, grid, poisoned))
    dupOf <- Gen.listOfN(n, Gen.frequency(4 -> Gen.const(-1), 1 -> Gen.choose(0, n - 1)))
    free <- vec(dim, grid, poisoned)
    kind <- Gen.choose(0, 3)
    pick <- Gen.choose(0, n - 1)
    at <- Gen.choose(0, dim - 1)
    bad <- poison
  } yield {
    val cents = rows.toArray
    for (i <- 0 until n if dupOf(i) >= 0 && dupOf(i) < i) cents(i) = cents(dupOf(i)).clone()
    val x = kind match {
      case 0 => free
      case 1 => cents(pick).clone()
      case 2 => cents(pick).map(_ + 0.25)
      case _ => val p = cents(pick).clone(); p(at) = bad; p
    }
    (x, cents)
  }

  test("pruned top-2 kernel equals the naive scan bit for bit on (bmu1, bmu2, d1²)") {
    check(Prop.forAllNoShrink(kernelCase) { case (x, cents) =>
      val (a1, a2, ad) = GngOps.twoNearest(x, cents)
      val (b1, b2, bd) = naiveTwoNearest(x, cents)
      Prop((a1, a2) == (b1, b2) &&
        java.lang.Double.doubleToRawLongBits(ad) == java.lang.Double.doubleToRawLongBits(bd)) :|
        s"dim ${x.length} nodes ${cents.length}: kernel ($a1, $a2, $ad) vs naive ($b1, $b2, $bd)"
    }, tests = 3000)
  }

  test("one Top2 reused across points of different widths and node counts") {
    val r = new GngOps.Top2
    check(Prop.forAllNoShrink(kernelCase) { case (x, cents) =>
      val flat = GngOps.flatten(cents)
      GngOps.top2(x, flat, x.length, r)
      Prop((r.bmu1, r.bmu2, r.d1) == naiveTwoNearest(x, cents))
    }, tests = 500)
  }

  /** Winners, votes and counts exact; sums to 1e-9 relative (partials
    * merge in task-completion order). */
  private def sameStats(a: Array[(Int, NodeStats)], b: Array[(Int, NodeStats)]): Boolean = {
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x) max math.abs(y))
    a.length == b.length && a.zip(b).forall { case ((k1, s1), (k2, s2)) =>
      k1 == k2 && s1.votes.sameElements(s2.votes) && s1.count == s2.count &&
        close(s1.errSum, s2.errSum) && s1.vecSum.length == s2.vecSum.length &&
        s1.vecSum.indices.forall(i => close(s1.vecSum(i), s2.vecSum(i)))
    }
  }

  /** (points, centroids, partitions): up to 300 points, some poisoned. */
  private val batchCase: Gen[(Seq[Point], Array[Array[Double]], Int)] = for {
    dim <- Gen.choose(1, 20)
    n <- Gen.choose(1, 30)
    grid <- Gen.prob(0.5)
    cents <- Gen.listOfN(n, vec(dim, grid, poisoned = false))
    nPts <- Gen.choose(0, 300)
    feats <- Gen.listOfN(nPts, vec(dim, grid, poisoned = true))
    parts <- Gen.choose(1, 9)
  } yield (feats.zipWithIndex.map { case (f, i) => Point(f, 0, i.toLong) }, cents.toArray, parts)

  test("assignAggregate equals assignAggregateLocal under random repartitioning") {
    import spark.implicits._
    check(Prop.forAllNoShrink(batchCase) { case (pts, cents, parts) =>
      val dist = GngOps.assignAggregate(spark.createDataset(pts).repartition(parts), cents)
      val local = GngOps.assignAggregateLocal(pts, cents)
      val finite = pts.count(p => naiveTwoNearest(p.features, cents)._1 >= 0)
      Prop(sameStats(dist, local) && local.map(_._2.count).sum == finite) :|
        s"${pts.size} points, ${cents.length} nodes, $parts partitions"
    }, tests = 25)
  }
}
