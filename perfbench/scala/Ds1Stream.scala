package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.model.{GngModel, GngParams, Point}
import graft.operators.GngOps
import graft.streaming.GStream

/** `ds1_stream`: the paper's DS1-200 shape, open loop.
  *
  * One generator thread writes a 200-point CSV file every `periodMs`
  * (atomic rename, due time stamped); `GStream.trainStreaming` consumes
  * them wired as `GStreamRun.start` does it (100 ms trigger, reference
  * snapshot cadence, a model checkpoint every batch). A file's latency
  * runs from its due time to the end of the micro-batch that consumed
  * it, so a stall also delays the files queued behind it. */
object Ds1Stream {
  val pointsPerFile = 200
  /** 800 ms, not the 400 ms the 4-core sizing called sustainable: at
    * 400 ms each snapshot batch (0.6-1.1 s) leaves a queue that takes 3-6
    * files to drain, so the latency median swung with a few percent of
    * batch speed (p50 spread 0.16, tail 0.31 over ten seeds). */
  val periodMs = 800L
  val warmupFiles = 8

  /** Deterministic 2-D two-cluster points (DS1-style, coordinates in
    * about [0, 1000]^2). File `f` holds ids `f*200+2 ...`; ids 0 and 1
    * are the bootstrap pair. */
  def points(seed: Long, file: Int): Array[Point] = {
    val rnd = new java.util.Random(seed * 1000003L + file)
    Array.tabulate(pointsPerFile) { i =>
      val c = rnd.nextInt(2)
      val (cx, cy) = if (c == 0) (280.0, 300.0) else (720.0, 650.0)
      Point(Array(cx + 70 * rnd.nextGaussian(), cy + 70 * rnd.nextGaussian()), c,
        file.toLong * pointsPerFile + i + 2)
    }
  }

  def bootstrapPair(seed: Long): Array[Point] = {
    val rnd = new java.util.Random(seed)
    Array(Point(Array(280 + rnd.nextGaussian(), 300 + rnd.nextGaussian()), 0, 0L),
      Point(Array(720 + rnd.nextGaussian(), 650 + rnd.nextGaussian()), 1, 1L))
  }

  def csv(pts: Array[Point]): String =
    pts.map(p => (p.features.map(_.toString) :+ p.label.toString :+ p.id.toString).mkString(","))
      .mkString("", "\n", "\n")

  /** Write via a temp file and an atomic rename into `dir`. */
  def publish(tmp: Path, dir: Path, name: String, body: String): Unit = {
    val t = tmp.resolve(name)
    Files.writeString(t, body)
    Files.move(t, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def run(ctx: Ctx): Unit = {
    val (spark, opts, res, trace) = (ctx.spark, ctx.opts, ctx.result, ctx.trace)
    val t0 = System.nanoTime()
    val in = ctx.dir("ds1/in")
    val tmp = ctx.dir("ds1/tmp")
    val out = ctx.dir("ds1/out")
    val ckpt = ctx.dir("ds1/ckpt")
    val nTimed = math.max(2, math.ceil(opts.seconds * 1000 / periodMs).toInt)
    val nFiles = warmupFiles + nTimed
    val params = GngParams()
    val pair = bootstrapPair(opts.seed)
    publish(tmp, in, "nodes2.txt", csv(pair))
    val model = GStream.bootstrap(
      GStream.csvToPoints(spark.read.text(in.resolve("nodes2.txt").toString).limit(2)), params)
    val files = (0 until nFiles).map(f => points(opts.seed, f))
    // warm-up files get strictly increasing mtimes after nodes2.txt, so
    // the file source takes them one per batch, in order
    val base = Files.getLastModifiedTime(in.resolve("nodes2.txt")).toMillis
    for (f <- 0 until warmupFiles) {
      publish(tmp, in, f"batch-$f%05d.csv", csv(files(f)))
      Files.setLastModifiedTime(in.resolve(f"batch-$f%05d.csv"),
        java.nio.file.attribute.FileTime.fromMillis(base + 10 * (f + 1)))
    }
    val fixturesS = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    // (batch end time, onBatch ms) per non-empty batch, in batch order
    val updates = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    val q = GStream.trainStreaming(spark, in.toString, model,
      outDir = Some(out.toString),
      snapshotAt = Some(GStream.referenceCadence(91)), // DS1-200-3's nbWind
      modelCheckpoint = Some(out.resolve("_model").toString),
      excludeFiles = Seq("nodes2.txt"),
      checkpointLocation = Some(ckpt.toString),
      triggerMs = 100L,
      onBatch = (_, ms) => updates.add((trace.now, ms.toDouble)))
    def awaitBatches(n: Int, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (updates.size < n && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(5)
      q.exception.foreach(e => throw e)
      require(updates.size >= n, s"stream consumed ${updates.size} of $n files")
    }
    awaitBatches(warmupFiles, 120000)
    val warmupS = (System.nanoTime() - t1) / 1e9
    res.set("setup.fixtures_s", fixturesS)
    res.set("setup.warmup_s", warmupS)
    res.set("heap_after_setup_mb", Main.heapAfterGcMb())
    Main.log("set-up done")

    // the open-loop schedule: one thread, file i due at start + i * period
    val due = new Array[Double](nTimed)
    val written = new Array[Double](nTimed)
    // the trigger fires on multiples of 100 ms of the epoch clock; due
    // times sit midway between ticks, so every run waits alike for them
    val start = math.ceil((trace.now + 200) / 100) * 100 + 50
    val traceFrom = if (opts.trace) nTimed / 2 else Int.MaxValue
    val gen = new Thread(() => {
      for (i <- 0 until nTimed) {
        due(i) = start + i * periodMs
        val wait = due(i) - trace.now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (i == traceFrom) trace.enable()
        val f = warmupFiles + i
        publish(tmp, in, f"batch-$f%05d.csv", csv(files(f)))
        written(i) = trace.now
      }
    }, "perfbench-ds1-generator")
    gen.start()
    gen.join()
    awaitBatches(nFiles, 60000)
    q.processAllAvailable()
    q.stop()
    trace.settle()
    res.set("heap_end_mb", Main.heapAfterGcMb())
    Main.log("timed files done")

    // micro-batches that carried data, in order; the first one holds
    // only the excluded nodes2.txt
    val batches = trace.progress.asScala.toSeq.filter(_.rows > 0).sortBy(_.batchId)
    val dataBatches = batches.drop(1)
    res.check("ds1: every file consumed exactly once",
      Checks.exactlyOnce(files.map(_.length.toLong), dataBatches.map(_.rows)).orElse(
        if (batches.headOption.map(_.rows).contains(2L)) None
        else Some("first micro-batch was not the bootstrap file")).orElse(
        if (updates.size == nFiles) None else Some(s"${updates.size} model updates for $nFiles files")))
    res.attempted += nFiles

    // replay: the same file sequence through the local assign + update
    val replay = new GngModel(params, 2).init2Nodes(pair(0), pair(1))
    var kk = 0
    for (f <- files) {
      val st = GngOps.assignAggregateLocal(f, replay.centroids)
      if (st.nonEmpty) { kk += 1; replay.update(st, kk) }
    }
    val (saved, savedKk) = GngModel.loadState(out.resolve("_model/model-latest.bin"))
    res.check("ds1: streamed model equals the local replay bit for bit",
      Checks.modelsEqual(model, replay).orElse(Checks.modelsEqual(saved, replay)).orElse(
        if (savedKk == kk) None else Some(s"checkpoint kk $savedKk != $kk")))
    res.attempted += 1

    val upd = updates.asScala.toVector
    val timed = dataBatches.drop(warmupFiles).take(nTimed)
    if (timed.length == nTimed) {
      val traced = ArrayBuffer.empty[Double]
      val untraced = ArrayBuffer.empty[Double]
      var backlogMax = 0
      for ((b, i) <- timed.zipWithIndex) {
        val lat = b.end - due(i)
        val updMs = upd(warmupFiles + i)._2
        res.sample("event_latency_ms", lat)
        res.sample("batch_ms", b.dur("triggerExecution"))
        res.sample("fold_batch_ms", b.dur("triggerExecution"))
        res.sample("update_ms", updMs)
        (if (i >= traceFrom) traced else untraced) += lat
        backlogMax = math.max(backlogMax, written.count(_ <= b.start) - i)
        if (i >= traceFrom) {
          for ((k, name) <- Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
              "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
              "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
              "triggerExecution" -> "trigger_ms"))
            res.sample(s"gstream.$name", b.dur(k))
          res.sample("gstream.probe_update_ms", updMs)
          res.sample("gstream.persist_ms", b.dur("addBatch") - updMs)
          trace.addSpan("gstream", s"batch-${b.batchId}", b.start, b.end)
          val updEnd = upd(warmupFiles + i)._1
          trace.addSpan("gngmodel", s"probe-update-${b.batchId}", updEnd - updMs, updEnd)
        }
      }
      val wall = timed.last.end - due(0)
      res.sample("pass_s", wall / 1000)
      res.set("rows", timed.map(_.rows).sum.toDouble)
      res.set("measure_s", wall / 1000)
      if (opts.trace) {
        val tb = timed.drop(traceFrom)
        val (from, to) = (tb.head.start, tb.last.end)
        val (nJobs, _) = trace.jobTotals(from, to)
        res.set("gstream.jobs_per_batch", nJobs.toDouble / tb.length)
        res.set("gstream.batches", tb.length.toDouble)
        res.set("gstream.rows_in", tb.map(_.rows).sum.toDouble)
        res.set("gstream.idle_share", 1 - tb.map(_.dur("triggerExecution")).sum / (to - from))
        res.set("trace.overhead_pct", Stats.overheadPct(untraced.toSeq, traced.toSeq))
      }
      res.set("gstream.backlog_max_files", backlogMax.toDouble)
      res.set("gstream.generator_late_ms", due.indices.map(i => written(i) - due(i)).max)
    } else res.check("ds1: timed batches observed", Some(s"${timed.length} of $nTimed"))

    res.set("gngmodel.state_bytes", Files.size(out.resolve("_model/model-latest.bin")).toDouble)
    res.set("gngmodel.nodes", model.nodeCount.toDouble)
    res.set("gngmodel.edges", model.edgeList.length.toDouble)
  }
}
