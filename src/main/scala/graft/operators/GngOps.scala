package graft.operators

import org.apache.spark.sql.Dataset
import scala.collection.mutable
import graft.model.{NodeStats, Point}

/** The distributed half of the G-Stream micro-batch update: nearest-
  * prototype assignment + per-winner statistics aggregation
  * (reference `findTwoNearestPointDist1L` + `aggregateByKey`,
  * batchStreamModel.scala:61-78), re-designed for scale:
  *
  *  - centroids are **broadcast** once per batch as one flat row-major
  *    array (the reference shipped them in every task closure — SURVEY
  *    §4.1 flags this as the inefficiency to fix);
  *  - assignment and partial aggregation are **fused in one pass** inside
  *    each partition (no per-point rows emitted, no shuffle at all —
  *    the reference paid a full `aggregateByKey` shuffle);
  *  - partials merge via `treeAggregate` (depth 2), so 10⁴ partitions
  *    on a real cluster funnel through executors, not the driver.
  *
  * Per batch this is exactly one narrow stage over the points + a
  * collect of one partial per partition. A partial is O(nodes): dense
  * per-node count / Σdist² / Σx plus sparse (bmu1, bmu2) vote pairs —
  * no per-point state ever reaches the driver.
  *
  * Poison-value policy: a point whose squared distance to every centroid
  * is non-finite (a NaN or ±∞ coordinate, or a finite one such as 1e200
  * whose square overflows) has no nearest prototype and is skipped — it
  * contributes to no statistic. A point with a finite distance to at
  * least one centroid is assigned as usual.
  */
object GngOps {

  /** Dimensions per pruning block of [[top2]]. */
  private final val Block = 8

  /** Row-major packing of a centroid matrix: row i at [i·dim, (i+1)·dim). */
  def flatten(centroids: Array[Array[Double]]): Array[Double] = {
    val dim = if (centroids.isEmpty) 0 else centroids(0).length
    val flat = new Array[Double](centroids.length * dim)
    var i = 0
    while (i < centroids.length) {
      System.arraycopy(centroids(i), 0, flat, i * dim, dim); i += 1
    }
    flat
  }

  /** [[top2]]'s result plus its reusable per-thread scratch. */
  private[operators] final class Top2 {
    var bmu1: Int = -1
    var bmu2: Int = -1
    var d1: Double = Double.PositiveInfinity
    private var prefix: Array[Double] = Array.emptyDoubleArray
    private[GngOps] def prefixes(n: Int): Array[Double] = {
      if (prefix.length < n) prefix = new Array[Double](n)
      prefix
    }
  }

  /** Squared distance from `x` to the centroid at `off`, continued from
    * the partial sum `d0` over dimensions [k0, dim) in the left-associated
    * order; abandoned (+∞) once, at a block boundary, it exceeds `lim`. */
  private def finish(x: Array[Double], flat: Array[Double], off: Int, dim: Int,
      d0: Double, k0: Int, lim: Double): Double = {
    var d = d0
    var k = k0
    while (k < dim) {
      if (d > lim) return Double.PositiveInfinity
      val end = math.min(k + Block, dim)
      while (k < end) { val t = x(k) - flat(off + k); d += t * t; k += 1 }
    }
    d
  }

  /** Top-2 nearest centroids of `x` among the `dim`-wide rows of `flat`
    * by squared Euclidean distance, ties broken by lowest index (the
    * reference's lexicographic (dist, idx) sort,
    * batchStreamModel.scala:117-119); centroids at a non-finite distance
    * are never chosen, so `bmu1 = -1` when none is finite. `bmu2 = bmu1`
    * when only one is.
    *
    * Exact pruned search for `dim > 8`: pass 1 stores every centroid's
    * squared-distance prefix over the first 8 dimensions; the larger of
    * the two full distances of the two smallest prefixes bounds the
    * second-nearest distance; pass 2 scans in index order, continuing
    * each prefix and abandoning a centroid at a block boundary once its
    * partial sum is `> min(bound, running d2)`. Partial sums never
    * decrease and the comparison is strict, so an abandoned centroid is
    * strictly beaten by two others and can't be in the top 2, and each
    * completed distance is summed in the same order as a plain scan:
    * `(bmu1, bmu2, d1²)` equals the naive scan's bit for bit. With
    * `dim ≤ 8` (or one centroid) it is the plain single scan. */
  private[operators] def top2(x: Array[Double], flat: Array[Double], dim: Int, out: Top2): Unit = {
    val n = if (flat.length == 0) 0 else flat.length / dim
    var b1 = -1; var b2 = -1
    var d1 = Double.PositiveInfinity; var d2 = Double.PositiveInfinity
    if (dim <= Block || n < 2) {
      var i = 0
      var off = 0
      while (i < n) {
        var d = 0.0
        var k = 0
        while (k < dim) { val t = x(k) - flat(off + k); d += t * t; k += 1 }
        if (d < d1) { d2 = d1; b2 = b1; d1 = d; b1 = i }
        else if (d < d2) { d2 = d; b2 = i }
        i += 1; off += dim
      }
    } else {
      val pre = out.prefixes(n)
      var j1 = -1; var j2 = -1
      var p1 = Double.PositiveInfinity; var p2 = Double.PositiveInfinity
      var i = 0
      var off = 0
      while (i < n) { // pass 1: prefixes, and the two smallest
        var d = 0.0
        var k = 0
        while (k < Block) { val t = x(k) - flat(off + k); d += t * t; k += 1 }
        pre(i) = d
        if (d < p1) { p2 = p1; j2 = j1; p1 = d; j1 = i }
        else if (d < p2) { p2 = d; j2 = i }
        i += 1; off += dim
      }
      // math.max is NaN when either distance is (that centroid can't be
      // chosen, so there is no bound); `lim` then falls back to d2
      val bound =
        if (j2 < 0) Double.PositiveInfinity
        else math.max(finish(x, flat, j1 * dim, dim, p1, Block, Double.PositiveInfinity),
          finish(x, flat, j2 * dim, dim, p2, Block, Double.PositiveInfinity))
      i = 0
      off = 0
      while (i < n) { // pass 2
        val lim = if (bound < d2) bound else d2
        val d = finish(x, flat, off, dim, pre(i), Block, lim)
        if (d < d1) { d2 = d1; b2 = b1; d1 = d; b1 = i }
        else if (d < d2) { d2 = d; b2 = i }
        i += 1; off += dim
      }
    }
    out.bmu1 = b1
    out.bmu2 = if (b2 >= 0) b2 else b1
    out.d1 = d1
  }

  /** [[top2]] as a tuple (bmu1, bmu2, dist1²), over a [[flatten]]ed
    * centroid matrix. */
  def twoNearest(features: Array[Double], flat: Array[Double], dim: Int): (Int, Int, Double) = {
    val r = new Top2
    top2(features, flat, dim, r)
    (r.bmu1, r.bmu2, r.d1)
  }

  /** [[top2]] as a tuple (bmu1, bmu2, dist1²), over a centroid matrix. */
  def twoNearest(features: Array[Double], centroids: Array[Array[Double]]): (Int, Int, Double) =
    twoNearest(features, flatten(centroids), if (centroids.isEmpty) 0 else centroids(0).length)

  /** Per-partition accumulator, dense over the `n` nodes. The arrays are
    * allocated on the first assigned point, so the `treeAggregate` zero
    * value shipped to every task (and an empty partition's partial)
    * stays tiny. */
  private final class Acc(n: Int, dim: Int) extends Serializable {
    private var count: Array[Long] = _
    private var errSum: Array[Double] = _
    private var vecSum: Array[Double] = _ // row-major, n × dim
    /** bmu1·n + bmu2 → votes: sparse, a dense table would be n² longs. */
    private val votes = new mutable.LongMap[Long]
    @transient private var top: Top2 = _

    def add(x: Array[Double], flat: Array[Double]): Acc = {
      if (top == null) top = new Top2
      top2(x, flat, dim, top)
      val b1 = top.bmu1
      if (b1 >= 0) {
        if (count == null) {
          count = new Array[Long](n); errSum = new Array[Double](n); vecSum = new Array[Double](n * dim)
        }
        count(b1) += 1
        errSum(b1) += top.d1
        val off = b1 * dim
        var k = 0
        while (k < dim) { vecSum(off + k) += x(k); k += 1 }
        val key = b1.toLong * n + top.bmu2
        votes(key) = votes.getOrElse(key, 0L) + 1L
      }
      this
    }

    def merge(o: Acc): Acc = {
      if (count == null) {
        count = o.count; errSum = o.errSum; vecSum = o.vecSum
      } else if (o.count != null) {
        var i = 0
        while (i < n) { count(i) += o.count(i); errSum(i) += o.errSum(i); i += 1 }
        i = 0
        while (i < vecSum.length) { vecSum(i) += o.vecSum(i); i += 1 }
      }
      o.votes.foreachEntry((key, v) => votes(key) = votes.getOrElse(key, 0L) + v)
      this
    }

    /** Per-winner stats in ascending node order; votes densified here,
      * on the driver, only for nodes that won a point. */
    def result: Array[(Int, NodeStats)] = {
      if (count == null) return Array.empty
      val dense = new Array[Array[Long]](n)
      votes.foreachEntry { (key, v) =>
        val b1 = (key / n).toInt
        if (dense(b1) == null) dense(b1) = new Array[Long](n)
        dense(b1)((key % n).toInt) = v
      }
      (0 until n).iterator.filter(count(_) > 0).map { i =>
        i -> NodeStats(dense(i), errSum(i),
          java.util.Arrays.copyOfRange(vecSum, i * dim, (i + 1) * dim), count(i))
      }.toArray
    }
  }

  /** Distributed assign + aggregate: one narrow pass, no shuffle.
    * Result: per-winner stats in canonical (ascending index) order;
    * points with no finite distance to any centroid are skipped (see
    * the object doc). */
  def assignAggregate(points: Dataset[Point], centroids: Array[Array[Double]]): Array[(Int, NodeStats)] = {
    if (centroids.isEmpty) return Array.empty
    val dim = centroids(0).length
    val n = centroids.length
    val bc = points.sparkSession.sparkContext.broadcast(flatten(centroids))
    try {
      val rdd = points.rdd
      // the depth-2 funnel exists to keep 10⁴-partition clusters from
      // merging every partial on the driver — but it costs one extra
      // stage per micro-batch, which is pure overhead when there are
      // only a handful of partitions (local mode / small batches)
      val depth = if (rdd.getNumPartitions > 16) 2 else 1
      rdd
        .treeAggregate(new Acc(n, dim))(
          seqOp = (acc, p) => acc.add(p.features, bc.value),
          combOp = (a, b) => a.merge(b),
          depth = depth)
        .result
    } finally bc.destroy()
  }

  /** Driver-local variant for tiny batches (no Spark job): identical
    * semantics, used by tests and the small-batch fast path. */
  def assignAggregateLocal(points: Iterable[Point], centroids: Array[Array[Double]]): Array[(Int, NodeStats)] = {
    if (centroids.isEmpty) return Array.empty
    val flat = flatten(centroids)
    val acc = new Acc(centroids.length, centroids(0).length)
    points.foreach(p => acc.add(p.features, flat))
    acc.result
  }
}
