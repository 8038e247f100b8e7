package graft.model

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Graph invariants of [[GngModel]] under random update sequences: random
  * point streams (clustered, 1–4-D) trained through the chunked fit loop
  * under random parameters that make edge expiry, fading and growth
  * fire often. After every update the model must hold:
  *   - `edges` square, symmetric, 0/1, zero diagonal;
  *   - `ages` NaN exactly where there is no edge;
  *   - at most `maxNodes + nbNodesToAdd` live nodes;
  *   - finite centroids;
  *   - weights ≥ 0 (inserted nodes start at weight 0).
  * scalacheck drives the generator directly (fixed seed, so a failure
  * reproduces). */
class GngModelPropertySpec extends AnyFunSuite {

  private def check(p: Prop, tests: Int): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(tests).withInitialSeed(Seed(20261018L)), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private val params: Gen[GngParams] = for {
    decayFactor <- Gen.choose(0.5, 1.0)
    lambdaAge <- Gen.choose(1.0, 2.0)
    maxAge <- Gen.choose(1.0, 60.0)
    nbNodesToAdd <- Gen.choose(1, 3)
    minWeight <- Gen.choose(0.0, 5.0)
    voisinage <- Gen.oneOf(0, 1)
    fadeEvery <- Gen.choose(1, 3)
    fadeMinNodes <- Gen.choose(0, 10)
    growEvery <- Gen.choose(1, 5)
    maxNodes <- Gen.choose(2, 25)
  } yield GngParams(decayFactor = decayFactor, lambdaAge = lambdaAge, maxAge = maxAge,
    nbNodesToAdd = nbNodesToAdd, minWeight = minWeight, voisinage = voisinage,
    fadeEvery = fadeEvery, fadeMinNodes = fadeMinNodes, growEvery = growEvery,
    maxNodes = maxNodes)

  /** (points, nChunks): 2–300 points around 1–5 centres; ids are the
    * row numbers, so every chunk `id % nChunks` is a random slice. */
  private val stream: Gen[(Array[Point], Int)] = for {
    dim <- Gen.choose(1, 4)
    k <- Gen.choose(1, 5)
    centres <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-50.0, 50.0)))
    n <- Gen.choose(2, 300)
    seed <- Gen.choose(0L, Long.MaxValue)
    nChunks <- Gen.choose(1, 40)
  } yield {
    val rng = new java.util.Random(seed)
    val pts = Array.tabulate(n) { i =>
      val c = centres(rng.nextInt(k))
      Point(c.map(_ + rng.nextGaussian() * 3).toArray, 0, i.toLong)
    }
    (pts, nChunks)
  }

  private def violations(m: GngModel): Seq[String] = {
    val n = m.nodeCount
    val p = m.params
    val out = Seq.newBuilder[String]
    if (m.edges.length != n || m.edges.exists(_.length != n)) out += "edges not square"
    if (m.ages.length != n || m.ages.exists(_.length != n)) out += "ages not square"
    if (out.result().isEmpty) {
      for (i <- 0 until n; j <- 0 until n) {
        val e = m.edges(i)(j)
        if (e != 0 && e != 1) out += s"edges($i)($j) = $e"
        if (e != m.edges(j)(i)) out += s"edges asymmetric at ($i,$j)"
        if (i == j && e != 0) out += s"edges diagonal at $i"
        if (m.ages(i)(j).isNaN != (e == 0)) out += s"ages($i)($j) = ${m.ages(i)(j)} with edge $e"
      }
    }
    if (n > p.maxNodes + p.nbNodesToAdd) out += s"$n nodes > ${p.maxNodes} + ${p.nbNodesToAdd}"
    if (m.centroids.exists(_.exists(x => !java.lang.Double.isFinite(x)))) out += "non-finite centroid"
    if (m.clusterWeights.exists(w => !(w >= 0))) out += s"weights ${m.clusterWeights}"
    out.result()
  }

  test("random update sequences keep the graph invariants after every batch") {
    check(Prop.forAllNoShrink(params, stream) { case (prm, (pts, nChunks)) =>
      val bad = Seq.newBuilder[String]
      val (m, kk) = graft.streaming.GStream.fitChunkedLocalHooked(pts, prm, nChunks,
        (k, model) => violations(model).foreach(v => bad += s"kk=$k: $v"))
      val all = bad.result() ++ violations(m)
      Prop(all.isEmpty && kk <= nChunks) :| s"$prm nChunks=$nChunks kk=$kk: ${all.take(5)}"
    }, tests = 400)
  }
}
