package perfbench

import scala.jdk.CollectionConverters._

/** The streaming-fold layer (`StreamingRelational` + `EpochState` and
  * the fold step operators), measured in the traced run of
  * `ds1_stream` after its stream has stopped.
  *
  * Not a workload of its own: a pass is ~47 Spark jobs, and over ten
  * seeds its end-to-end times spread 0.14 in one set of runs and
  * 0.29-0.57 in the next on a 4-core machine — beyond any bound the
  * benchmark may set. Its per-layer counters are what a change to this
  * layer is judged by.
  *
  * The queries run through `SparkEntry.queries`: a cold pass builds
  * their per-data-dir fixtures and writes each result as parquet for
  * the DuckDB oracle check, one warm pass follows, and one traced pass
  * (`noop` writes) gives the `fold.*` metrics. */
object FoldMix {
  val queries = Seq(
    "s15_stream_index", // oneShotFoldWithEpoch: localCheckpoint state, InvertedIndex
    "s08_stream_incremental_agg") // oneShotFoldExactlyOnce: EpochState commits

  def traceLayer(ctx: Ctx): Unit = {
    val (spark, opts, res, trace) = (ctx.spark, ctx.opts, ctx.result, ctx.trace)
    val build = graft.SparkEntry.queries
    val results = ctx.dir("fold/results")

    def run(q: String): Unit = build(q)(spark, opts.data).write.format("noop").mode("overwrite").save()

    for (q <- queries)
      build(q)(spark, opts.data).write.mode("overwrite").parquet(results.resolve(q).toString)
    // trained-state oracles are composed after their query ran
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(results.resolve("oracle_sql.json"),
      Json.value(queries.flatMap(q => oracle.get(q).map(q -> _)).toMap) + "\n")
    res.attempted += queries.length
    queries.foreach(run) // the JIT is still compiling the job path through the first pass
    trace.enable()
    trace.settle()
    trace.blockBytes = 0L
    trace.exchanges = 0L
    val from = trace.now
    val spans = for (q <- queries) yield {
      val s = trace.now
      trace.span("fold", q)(run(q))
      (q, s, trace.now)
    }
    val to = trace.now
    trace.settle()
    Main.log("fold layer pass done")

    var microBatches = 0
    var walCommitMs = 0.0
    for ((q, s, e) <- spans) {
      for (b <- trace.progress.asScala if b.rows > 0 && b.start >= s && b.start < e) {
        trace.addSpan("fold", s"$q-batch-${b.batchId}", b.start, b.end)
        val addEnd = b.end - b.dur("commitOffsets")
        trace.addSpan("operators", s"$q-step-${b.batchId}", addEnd - b.dur("addBatch"), addEnd)
        microBatches += 1
        walCommitMs += b.dur("walCommit")
      }
      res.set(s"fold.$q.s", (e - s) / 1000)
      res.set(s"fold.$q.jobs", trace.jobTotals(s, e)._1.toDouble)
    }
    val (nJobs, stageIds) = trace.jobTotals(from, to)
    val stages = stageIds.distinct
    res.set("fold.micro_batches", microBatches.toDouble)
    res.set("fold.wal_commit_ms", walCommitMs)
    res.set("fold.jobs", nJobs.toDouble)
    res.set("fold.stages", stages.length.toDouble)
    res.set("fold.tasks", trace.stageSum(stages)(_.tasks.toDouble))
    res.set("fold.jobs_per_batch", nJobs.toDouble / math.max(microBatches, 1))
    res.set("fold.driver_only_ms", trace.idleMs(from, to))
    res.set("fold.executor_cpu_ms", trace.stageSum(stages)(_.cpuMs))
    res.set("fold.shuffle_read_bytes", trace.stageSum(stages)(_.shuffleRead.toDouble))
    res.set("fold.shuffle_write_bytes", trace.stageSum(stages)(_.shuffleWrite.toDouble))
    res.set("fold.spill_bytes", trace.stageSum(stages)(_.spill.toDouble))
    res.set("fold.state_bytes", trace.blockBytes.toDouble)
    res.set("fold.exchanges", trace.exchanges.toDouble)
  }
}
