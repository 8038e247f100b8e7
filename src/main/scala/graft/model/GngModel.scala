package graft.model

import scala.collection.mutable.ArrayBuffer

/** Per-winner-node aggregated statistics for one micro-batch: the output
  * of the distributed assign+aggregate step and the input of the driver
  * update rule. Mirrors the reference's aggregateByKey value tuple
  * `(one-hot bmu2 votes, Σdist², Σx, n, ids)` (batchStreamModel.scala:66-78)
  * minus the ids: the model keeps only their count, so no per-point
  * state reaches the driver.
  *
  * @param votes  per-node second-BMU vote counts (length = node count at
  *               assignment time)
  * @param errSum Σ squared distance of the points this node won
  * @param vecSum elementwise Σ of the winning points' feature vectors
  * @param count  number of points won
  */
final case class NodeStats(
    votes: Array[Long],
    errSum: Double,
    vecSum: Array[Double],
    count: Long)

/** The evolving G-Stream graph: nodes (prototypes), 0/1 adjacency matrix,
  * parallel age matrix (NaN = no edge), per-node error and exponentially
  * decayed weight — driver-held state, exactly the reference's
  * `batchStreamModel` fields (batchStreamModel.scala:13-21).
  *
  * The state is O(N² + N·dim) with N ≤ `params.maxNodes` +
  * `params.nbNodesToAdd` live nodes (plus the archived outdated/isolated
  * prototypes, O(dim) each) and nothing per point: at the default cap
  * of 300 2-D nodes that is a few MB, at 1000 64-d nodes about 20 MB,
  * mostly the boxed edge and age matrices. The driver update is
  * O(N² + stats) per batch and never touches the distributed data
  * (SURVEY §7.4.8: only O(N) stats per partition reach the driver,
  * which is what makes the design scale).
  *
  * Semantics ported from SURVEY.md §2.9 T2-T10 / §3.3 with the §7.4
  * decisions: canonical stats order (sorted by node index), monotonic
  * node ids, no `upGlobalErrors` step (a no-op in the reference).
  */
final class GngModel(val params: GngParams, val dim: Int) extends Serializable {

  val nodes: ArrayBuffer[Prototype] = ArrayBuffer.empty
  val outdatedNodes: ArrayBuffer[Prototype] = ArrayBuffer.empty
  val isolatedNodes: ArrayBuffer[Prototype] = ArrayBuffer.empty
  /** 0/1 adjacency; square, symmetric, zero diagonal. */
  val edges: ArrayBuffer[ArrayBuffer[Int]] = ArrayBuffer.empty
  /** Edge ages; NaN = no edge / diagonal. */
  val ages: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer.empty
  val errors: ArrayBuffer[Double] = ArrayBuffer.empty
  val clusterWeights: ArrayBuffer[Double] = ArrayBuffer.empty

  private var nextId: Int = 0
  private def freshId(): Int = { nextId += 1; nextId }

  def nodeCount: Int = nodes.length

  /** Bootstrap: a 2-node graph from the first two points
    * (batchStream.scala:72-78 → batchStreamModel.scala:35-43). */
  def init2Nodes(p1: Point, p2: Point): this.type = {
    require(nodes.isEmpty, "model already initialized")
    nodes += Prototype(freshId(), p1.features.clone(), 1L)
    nodes += Prototype(freshId(), p2.features.clone(), 1L)
    edges += ArrayBuffer(0, 1) += ArrayBuffer(1, 0)
    ages += ArrayBuffer(Double.NaN, 0.0) += ArrayBuffer(0.0, Double.NaN)
    errors += 0.0 += 0.0
    clusterWeights += 1.0 += 1.0
    this
  }

  def centroids: Array[Array[Double]] = nodes.map(_.centroid).toArray

  private def neighborsOf(i: Int): Seq[Int] =
    edges(i).zipWithIndex.filter(_._1 == 1).map(_._2).toSeq

  /** Neighborhood kernel — constant exp(-1/T) (reference `kNeighbor`,
    * batchStreamModel.scala:336-338; see SURVEY §7.4.5). */
  private def kNeighbor: Double = math.exp(-1.0 / params.temperature)

  /** One full micro-batch model update from collected stats.
    *
    * @param stats (winner node index, stats) pairs — any order; applied
    *              in ascending node-index order (canonical, §7.4.1)
    * @param kk    1-based non-empty-batch counter (reference `kk`)
    */
  def update(stats: Array[(Int, NodeStats)], kk: Int): Unit = {
    val nbNodesPre = nodes.length // pre-update capture (batchStreamModel.scala:73)
    updateRule(stats)
    removeOldEdges()
    removeIsolatedNodes()
    // no A5 step: the reference's upGlobalErrors never fires — its guard
    // `errors.size < er._1` cannot hold for a valid node index
    // (batchStreamModel.scala:254-260, SURVEY §7.4.3); errors accumulate
    // in updateRule
    if (kk % params.fadeEvery == 0 && nbNodesPre > params.fadeMinNodes) fading()
    removeIsolatedNodes()
    if (kk % params.growEvery == 0 && nbNodesPre <= params.maxNodes)
      (0 until params.nbNodesToAdd).foreach(_ => addNewNode())
    var i = 0
    while (i < errors.length) { errors(i) *= params.errorDecay; i += 1 } // T10
  }

  /** T3-T5 + A3/A4: decay, edge aging, centroid move, vote-based edge
    * creation (batchStreamModel.scala:142-208). */
  private def updateRule(stats: Array[(Int, NodeStats)]): Unit = {
    // T3 weight decay over ALL nodes, before applying stats (:144-146)
    var i = 0
    while (i < clusterWeights.length) { clusterWeights(i) *= params.decayFactor; i += 1 }

    val statsMap: Map[Int, NodeStats] = stats.toMap
    for ((s1, st) <- stats.sortBy(_._1) if s1 < nodes.length) {
      // T4: age the winner's incident edges (symmetric, :151-160)
      for (j <- neighborsOf(s1)) {
        val aged = ages(s1)(j) * params.lambdaAge + 1.0
        ages(s1)(j) = aged
        ages(j)(s1) = aged
      }
      // A3: weighted centroid update (:165-192); neighbor term only when
      // voisinage > 0 (off by default — kNeighbor is then unused)
      val w = clusterWeights(s1)
      val old = nodes(s1).centroid
      val num = new Array[Double](dim)
      var d = 0
      while (d < dim) { num(d) = w * old(d) + st.vecSum(d); d += 1 }
      var den = w + st.count.toDouble
      if (params.voisinage > 0) {
        for (f <- neighborsOf(s1); fst <- statsMap.get(f)) {
          d = 0
          while (d < dim) { num(d) += kNeighbor * fst.vecSum(d); d += 1 }
          den += kNeighbor * fst.count.toDouble
        }
      }
      val denSafe = math.max(den, 1e-16)
      val cent = new Array[Double](dim)
      d = 0
      while (d < dim) { cent(d) = num(d) / denSafe; d += 1 }
      nodes(s1) = nodes(s1).copy(
        centroid = cent,
        nAssigned = nodes(s1).nAssigned + st.count) // U1 (:163)
      clusterWeights(s1) += st.count.toDouble
      errors(s1) += st.errSum // A4 (:205)

      // T5: link s1 to the vote-winning second BMU, age 0 (:195-202);
      // first-max-wins tie-break (Scala maxBy semantics in the reference)
      if (st.count > 0) {
        var bmu2 = 0
        var best = Long.MinValue
        var j = 0
        val nVotes = math.min(st.votes.length, nodes.length)
        while (j < nVotes) {
          if (st.votes(j) > best) { best = st.votes(j); bmu2 = j }
          j += 1
        }
        if (bmu2 != s1) {
          edges(s1)(bmu2) = 1; edges(bmu2)(s1) = 1
          ages(s1)(bmu2) = 0.0; ages(bmu2)(s1) = 0.0
        }
      }
    }
  }

  /** T6: expire edges older than maxAge (batchStreamModel.scala:211-225). */
  private def removeOldEdges(): Unit = {
    var i = 0
    while (i < nodes.length) {
      var j = 0
      while (j < nodes.length) {
        if (!ages(i)(j).isNaN && ages(i)(j) > params.maxAge) {
          edges(i)(j) = 0; edges(j)(i) = 0
          ages(i)(j) = Double.NaN; ages(j)(i) = Double.NaN
        }
        j += 1
      }
      i += 1
    }
  }

  /** T7: drop nodes with no incident edges; archive to isolatedNodes;
    * shrink all parallel structures (batchStreamModel.scala:228-251). */
  private def removeIsolatedNodes(): Unit = {
    var i = nodes.length - 1
    while (i >= 0) {
      if (edges(i).forall(_ == 0)) {
        isolatedNodes += nodes(i)
        removeNodeAt(i)
      }
      i -= 1
    }
    require(edges.forall(_.length == nodes.length), "edge matrix not square")
  }

  /** T8: evict THE single min-weight node if its weight undercuts
    * minWeight; archive to outdatedNodes (batchStreamModel.scala:309-327). */
  private def fading(): Unit = {
    if (nodes.isEmpty) return
    var minI = 0
    var i = 1
    while (i < clusterWeights.length) {
      if (clusterWeights(i) < clusterWeights(minI)) minI = i
      i += 1
    }
    if (clusterWeights(minI) < params.minWeight) {
      outdatedNodes += nodes(minI)
      removeNodeAt(minI)
    }
  }

  /** T9: insert one node at the midpoint of the max-error node q and its
    * max-error neighbor f; rewire q–r, r–f, drop q–f; scale both errors
    * by alphaErr; new error = e_q + e_f post-scale
    * (batchStreamModel.scala:263-306). */
  private def addNewNode(): Unit = {
    if (nodes.length < 2) return
    // q = argmax error (first max, as indexOf(max))
    var q = 0
    var i = 1
    while (i < errors.length) { if (errors(i) > errors(q)) q = i; i += 1 }
    val nbrs = neighborsOf(q)
    if (nbrs.isEmpty) return
    // f = argmax error among q's neighbors (first max)
    var f = nbrs.head
    for (j <- nbrs) if (errors(j) > errors(f)) f = j
    val mid = new Array[Double](dim)
    var d = 0
    while (d < dim) { mid(d) = (nodes(q).centroid(d) + nodes(f).centroid(d)) / 2.0; d += 1 }
    val r = nodes.length
    appendNode(Prototype(freshId(), mid, 0L), weight = 0.0)
    // rewire: q–r, r–f created (age 0); q–f dropped
    edges(q)(r) = 1; edges(r)(q) = 1; ages(q)(r) = 0.0; ages(r)(q) = 0.0
    edges(f)(r) = 1; edges(r)(f) = 1; ages(f)(r) = 0.0; ages(r)(f) = 0.0
    edges(q)(f) = 0; edges(f)(q) = 0; ages(q)(f) = Double.NaN; ages(f)(q) = Double.NaN
    errors(q) *= params.alphaErr
    errors(f) *= params.alphaErr
    errors(r) = errors(q) + errors(f)
  }

  /** Grow all structures by one node (reference `addElementLast`,
    * batchStreamModel.scala:347-365). */
  private def appendNode(p: Prototype, weight: Double): Unit = {
    nodes += p
    for (row <- edges) row += 0
    edges += ArrayBuffer.fill(nodes.length)(0)
    for (row <- ages) row += Double.NaN
    ages += ArrayBuffer.fill(nodes.length)(Double.NaN)
    errors += 0.0
    clusterWeights += weight
  }

  /** Delete row/col i from all structures (reference `removeLineCol`,
    * batchStreamModel.scala:369-381). */
  private def removeNodeAt(i: Int): Unit = {
    nodes.remove(i)
    edges.remove(i)
    for (row <- edges) row.remove(i)
    ages.remove(i)
    for (row <- ages) row.remove(i)
    errors.remove(i)
    clusterWeights.remove(i)
  }

  // ---- snapshot renderers (reference on-disk format, batchStream.scala:97-101)
  def prototypeLines: Seq[String] = nodes.map(_.centroidString).toSeq
  def outdatedLines: Seq[String] = outdatedNodes.map(_.centroidString).toSeq
  // reference-exact: batchStream.scala:99 writes each adjacency row via
  // ArrayBuffer.toString, so the golden dirs (conf/test/results/DS1-200-3/
  // Edges-92/part-00000) read `ArrayBuffer(0, 1, ...)` — byte-matching
  // them keeps new snapshot dirs drop-in diffable against old ones
  def edgeLines: Seq[String] = edges.map(_.mkString("ArrayBuffer(", ", ", ")")).toSeq
  def weightLines: Seq[String] = clusterWeights.map(_.toString).toSeq

  /** Idiomatic snapshot: symmetric edge list (srcIdx, dstIdx, age) —
    * avoids the O(N²) text rows at scale (SURVEY §1.4). */
  def edgeList: Seq[(Int, Int, Double)] =
    (for {
      i <- nodes.indices
      j <- (i + 1) until nodes.length
      if edges(i)(j) == 1
    } yield (i, j, ages(i)(j))).toSeq
}

object GngModel {
  /** Training-loop recovery point (the reference has no model recovery —
    * SURVEY §7.4.7 adds it so a foreachBatch loop can restart from the
    * last completed batch; plain Java serialization, the model is
    * bounded driver state): the model PLUS the 1-based non-empty
    * batch counter `kk`, in ONE file so the pair can never tear. kk is
    * loop state, not model state — but fading (kk % 3), the snapshot
    * cadence, and node insertion all key off it, so a restart that
    * reset kk to 0 would silently diverge from the never-killed run
    * (the restart spec asserts the two runs end bit-identical). */
  def saveState(path: java.nio.file.Path, model: GngModel, kk: Int): Unit = {
    val out = new java.io.ObjectOutputStream(
      java.nio.file.Files.newOutputStream(path))
    try { out.writeInt(kk); out.writeObject(model) } finally out.close()
  }

  /** Inverse of [[saveState]] → (model, kk). */
  def loadState(path: java.nio.file.Path): (GngModel, Int) = {
    val in = new java.io.ObjectInputStream(
      java.nio.file.Files.newInputStream(path))
    try {
      val kk = in.readInt()
      (in.readObject().asInstanceOf[GngModel], kk)
    } finally in.close()
  }
}
