package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.model.{GngModel, GngParams, NodeStats, Point}
import graft.operators.GngOps
import graft.streaming.GStream

/** `wide_batches`: 64-d points against a model grown in set-up to the
  * 1000-node cap (`gng_scale`'s parameters), closed loop. Each batch:
  * parquet read -> `GStream.toPoints` -> `GngOps.assignAggregate` ->
  * `GngModel.update`. The staged batches are reused in turn with their
  * ids shifted, so every batch brings new point ids. */
object WideBatches {
  val dim = 64
  val cap = 1000
  val batchPoints = 40000
  val stagedBatches = 2
  val sampleSize = 5000
  val params = GngParams(growEvery = 1, nbNodesToAdd = 10, maxNodes = cap)

  /** Deterministic 64-d manifold: 250 seeded trigonometric clusters
    * plus per-point jitter; a point depends only on (seed, id). */
  def point(seed: Long, id: Long): Point = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    val c = (math.floorMod(id * 7919L + seed, 250L)).toInt
    val a = 0.37 + 0.01 * math.floorMod(seed, 17L)
    Point(Array.tabulate(dim)(j =>
      10.0 * math.sin(a * c * (j + 1) + 0.11 * j) + 0.3 * (r.nextDouble() - 0.5)), c, id)
  }

  def run(ctx: Ctx): Unit = {
    val (spark, opts, res, trace) = (ctx.spark, ctx.opts, ctx.result, ctx.trace)
    import spark.implicits._
    val seed = opts.seed
    val t0 = System.nanoTime()
    // grow the model to the cap, driver-local (gng_scale's set-up)
    val model = new GngModel(params, dim).init2Nodes(point(seed, 0), point(seed, 1))
    var kk = 0
    while (model.nodeCount <= cap && kk < 200) {
      kk += 1
      val pts = Array.tabulate(256)(x => point(seed, 2L + kk.toLong * 256 + x))
      val st = GngOps.assignAggregateLocal(pts, model.centroids)
      if (st.nonEmpty) model.update(st, kk)
    }
    // stage the batches as parquet, one file per core
    val dirs = (0 until stagedBatches).map { b =>
      val d = ctx.opts.work.resolve(s"wide/batch-$b").toString
      val lo = 1000000L + b.toLong * batchPoints
      spark.range(lo, lo + batchPoints, 1, opts.cores).as[Long]
        .map(i => point(seed, i))
        .write.mode("overwrite").parquet(d)
      d
    }
    res.set("setup.fixtures_s", (System.nanoTime() - t0) / 1e9)
    Main.log("model grown, batches staged")

    // one batch: read -> toPoints -> assign -> update; returns
    // (stats, centroids it was assigned against, assign ms, update ms)
    var n = 0L
    def batch(): (Array[(Int, NodeStats)], Array[Array[Double]], Double, Double) = {
      val shift = (n / stagedBatches) * 100000000L
      val dir = dirs((n % stagedBatches).toInt)
      n += 1
      kk += 1
      val pts = trace.span("gstream", "read")(GStream.toPoints(
        spark.read.parquet(dir).withColumn("id", col("id") + shift), "features", "label", "id"))
      val b = trace.now
      val cents = model.centroids
      val st = trace.span("gngops", "assign")(GngOps.assignAggregate(pts, cents))
      val c = trace.now
      trace.span("gngmodel", "update")(model.update(st, kk))
      val d = trace.now
      (st, cents, c - b, d - c)
    }
    val t1 = System.nanoTime()
    batch()
    res.set("setup.warmup_s", (System.nanoTime() - t1) / 1e9)
    res.set("heap_after_setup_mb", Main.heapAfterGcMb())
    Main.log("set-up done")

    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    var points = 0L
    var evals = 0.0
    var tracedAssignMs = 0.0
    var tracedBatches = 0
    val start = trace.now
    var passStart = start
    val deadline = start + opts.seconds * 1000
    // at least one whole pass over the staged batches, then until the deadline
    while (trace.now < deadline || n < 1 + stagedBatches) {
      if (opts.trace && !trace.traced && trace.now >= start + opts.seconds * 500) trace.enable()
      val on = trace.traced
      val a = trace.now
      val (st, cents, assignMs, updateMs) =
        trace.span("loop", s"batch-$n")(batch())
      val ms = trace.now - a
      val got = st.map(_._2.count).sum
      res.attempted += 1
      if (got != batchPoints) res.check(s"wide: batch ${n - 1} assigned every point",
        Some(s"$got of $batchPoints points"))
      points += got
      evals += got.toDouble * cents.length
      res.sample("event_latency_ms", ms)
      res.sample("batch_ms", ms)
      res.sample("fold_batch_ms", ms)
      res.sample("update_ms", updateMs)
      (if (on) traced else untraced) += ms
      if (on) {
        res.sample("gngops.assign_ms", assignMs)
        res.sample("gngmodel.update_ms", updateMs)
        tracedAssignMs += assignMs
        tracedBatches += 1
      }
      if (n % stagedBatches == 1 % stagedBatches) {
        res.sample("pass_s", (trace.now - passStart) / 1000)
        passStart = trace.now
      }
    }
    val wall = trace.now - start
    res.set("rows", points.toDouble)
    res.set("measure_s", wall / 1000)
    res.set("heap_end_mb", Main.heapAfterGcMb())
    Main.log("timed batches done")

    // a sampled sub-batch, assigned both ways against the final model
    val sampledPts = GStream.toPoints(spark.read.parquet(dirs(0)), "features", "label", "id")
      .filter(col("id") < 1000000L + sampleSize)
    val cents = model.centroids
    res.check("wide: distributed stats equal assignAggregateLocal",
      Checks.statsMatch(GngOps.assignAggregate(sampledPts, cents),
        GngOps.assignAggregateLocal(sampledPts.collect(), cents)))
    res.check("wide: model invariants", Checks.invariants(model))
    res.attempted += 2
    Main.log("checks done")

    if (opts.trace) {
      trace.settle()
      val assignSpans = trace.allSpans.filter(s => s.layer == "gngops")
      val jobs = trace.jobs.asScala.filter(j => assignSpans.exists(s => j._2 >= s.start && j._2 < s.end))
      val tracedStages = jobs.flatMap(_._4).toSeq
      val per = math.max(tracedBatches, 1).toDouble
      res.set("gngops.jobs_per_batch", jobs.size / per)
      res.set("gngops.tasks_per_batch", trace.stageSum(tracedStages)(_.tasks.toDouble) / per)
      res.set("gngops.executor_cpu_ms_per_batch", trace.stageSum(tracedStages)(_.cpuMs) / per)
      val runMs = trace.stageSum(tracedStages)(_.runMs)
      res.set("gngops.executor_run_ms_per_batch", runMs / per)
      res.set("gngops.result_bytes_per_batch", trace.stageSum(tracedStages)(_.resultBytes.toDouble) / per)
      res.set("gngops.gc_ms_per_batch", trace.stageSum(tracedStages)(_.gcMs) / per)
      res.set("gngops.busy_share", runMs / math.max(tracedAssignMs * opts.cores, 1e-9))
      res.set("trace.overhead_pct", Stats.overheadPct(untraced.toSeq, traced.toSeq))
    }
    res.set("gngops.distance_evals", evals)
    if (opts.trace) { // seconds of serialization, so only when it is reported
      val state = ctx.opts.work.resolve("wide/model.bin")
      GngModel.saveState(state, model, kk)
      res.set("gngmodel.state_bytes", java.nio.file.Files.size(state).toDouble)
    }
    res.set("gngmodel.nodes", model.nodeCount.toDouble)
    res.set("gngmodel.edges", model.edgeList.length.toDouble)
  }
}
