package perfbench

import graft.model.{GngModel, GngParams, NodeStats, Point}
import graft.operators.GngOps

/** Correctness checks. Each returns `None` when the check holds and a
  * description of the first violation otherwise. */
object Checks {

  private def bits(xs: Iterable[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** Two models hold bit-identical state: nodes, centroids, edges, edge
    * ages, errors, weights and the archived node lists. */
  def modelsEqual(a: GngModel, b: GngModel): Option[String] = {
    def protos(m: GngModel) = m.nodes.map(p => (p.id, bits(p.centroid)))
    val parts = Seq(
      "nodes" -> (protos(a) == protos(b)),
      "edges" -> (a.edges == b.edges),
      "ages" -> (a.ages.map(r => bits(r)) == b.ages.map(r => bits(r))),
      "errors" -> (bits(a.errors) == bits(b.errors)),
      "weights" -> (bits(a.clusterWeights) == bits(b.clusterWeights)),
      "outdated" -> (a.outdatedNodes.map(_.id) == b.outdatedNodes.map(_.id)),
      "isolated" -> (a.isolatedNodes.map(_.id) == b.isolatedNodes.map(_.id)))
    parts.collectFirst { case (what, false) => s"models differ in $what" }
  }

  /** Graph invariants: symmetric 0/1 edges, zero diagonal, node count
    * within the growth cap, finite centroids of the model's dimension. */
  def invariants(m: GngModel): Option[String] = {
    val n = m.nodeCount
    val cap = m.params.maxNodes + m.params.nbNodesToAdd
    if (n > cap) return Some(s"$n nodes > cap $cap")
    if (m.edges.length != n || m.edges.exists(_.length != n)) return Some("edge matrix not n x n")
    for (i <- 0 until n) {
      if (m.edges(i)(i) != 0) return Some(s"diagonal edge at $i")
      for (j <- 0 until n) {
        val e = m.edges(i)(j)
        if (e != 0 && e != 1) return Some(s"edge ($i,$j) = $e")
        if (e != m.edges(j)(i)) return Some(s"asymmetric edge ($i,$j)")
      }
      val c = m.nodes(i).centroid
      if (c.length != m.dim || c.exists(x => x.isNaN || x.isInfinite))
        return Some(s"centroid $i not finite or wrong width")
    }
    None
  }

  /** Distributed and local stats agree: same winners, exact integer
    * fields, sums within `rel` relative error. */
  def statsMatch(dist: Array[(Int, NodeStats)], local: Array[(Int, NodeStats)],
      rel: Double = 1e-9): Option[String] = {
    def close(x: Double, y: Double) = math.abs(x - y) <= rel * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    if (dist.map(_._1).toSeq != local.map(_._1).toSeq) return Some("winner sets differ")
    dist.zip(local).collectFirst {
      case ((k, a), (_, b)) if a.count != b.count => s"node $k: count ${a.count} != ${b.count}"
      case ((k, a), (_, b)) if !a.votes.sameElements(b.votes) => s"node $k: votes differ"
      case ((k, a), (_, b)) if !close(a.errSum, b.errSum) => s"node $k: errSum ${a.errSum} vs ${b.errSum}"
      case ((k, a), (_, b)) if a.vecSum.length != b.vecSum.length ||
          a.vecSum.indices.exists(i => !close(a.vecSum(i), b.vecSum(i))) => s"node $k: vecSum differs"
    }
  }

  /** Every input file became exactly one micro-batch of its rows. */
  def exactlyOnce(fileRows: Seq[Long], batchRows: Seq[Long]): Option[String] =
    if (batchRows.length != fileRows.length)
      Some(s"${batchRows.length} data batches for ${fileRows.length} files")
    else if (batchRows != fileRows)
      Some(s"rows per batch ${batchRows.mkString(",")} != rows per file ${fileRows.mkString(",")}")
    else None

  /** The checks on deliberately corrupted inputs: each must fail, and
    * the clean input must pass. Returns the cases that misbehaved. */
  def selfTest(): Seq[String] = {
    val rnd = new java.util.Random(7)
    val pts = Array.tabulate(600)(i =>
      Point(Array(rnd.nextGaussian() * 50 + (i % 2) * 500, rnd.nextGaussian() * 50), i % 2, i.toLong))
    def train(points: Array[Point]): GngModel = {
      val m = new GngModel(GngParams(), 2).init2Nodes(points(0), points(1))
      points.grouped(100).zipWithIndex.foreach { case (b, i) =>
        val st = GngOps.assignAggregateLocal(b, m.centroids)
        if (st.nonEmpty) m.update(st, i + 1)
      }
      m
    }
    val a = train(pts)
    val fails = Seq.newBuilder[String]
    def expect(name: String, r: Option[String], shouldFail: Boolean): Unit =
      if (r.isDefined != shouldFail) fails += s"$name: ${r.getOrElse("passed")}"

    expect("replay: clean", modelsEqual(a, train(pts)), shouldFail = false)
    val flipped = pts.clone()
    flipped(300) = pts(300).copy(features = Array(pts(300).features(0) + 1e-9, pts(300).features(1)))
    expect("replay: one coordinate off by 1e-9", modelsEqual(a, train(flipped)), shouldFail = true)
    expect("replay: one point dropped", modelsEqual(a, train(pts.patch(450, Nil, 1))), shouldFail = true)

    expect("invariants: clean", invariants(a), shouldFail = false)
    val asym = train(pts); asym.edges(0)(1) = 1 - asym.edges(0)(1)
    expect("invariants: asymmetric edge", invariants(asym), shouldFail = true)
    val diag = train(pts); diag.edges(1)(1) = 1
    expect("invariants: diagonal edge", invariants(diag), shouldFail = true)
    val nan = train(pts); nan.nodes(0).centroid(0) = Double.NaN
    expect("invariants: NaN centroid", invariants(nan), shouldFail = true)

    val st = GngOps.assignAggregateLocal(pts, a.centroids)
    expect("stats: clean", statsMatch(st, GngOps.assignAggregateLocal(pts.reverse, a.centroids)),
      shouldFail = false)
    val off = st.map { case (k, s) => k -> s.copy(vecSum = s.vecSum.map(_ * (1 + 1e-6))) }
    expect("stats: sums off by 1e-6", statsMatch(off, st), shouldFail = true)
    val lost = GngOps.assignAggregateLocal(pts.drop(1), a.centroids)
    expect("stats: one point lost", statsMatch(lost, st), shouldFail = true)

    expect("exactly-once: clean", exactlyOnce(Seq(200, 200), Seq(200, 200)), shouldFail = false)
    expect("exactly-once: file skipped", exactlyOnce(Seq(200, 200), Seq(200)), shouldFail = true)
    expect("exactly-once: two files in one batch", exactlyOnce(Seq(200, 200, 200), Seq(400, 200)),
      shouldFail = true)
    fails.result()
  }
}
