package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the benchmark's side of a layer boundary.
  * Times are epoch milliseconds (fractional), the clock Spark's
  * progress and job events use. */
final case class Span(id: Int, layer: String, name: String, start: Double, end: Double,
    var parent: Int = -1)

/** Per-stage task totals, summed from `SparkListenerTaskEnd`. */
final class StageTotals {
  var tasks = 0L
  var cpuMs = 0.0
  var runMs = 0.0
  var gcMs = 0.0
  var resultBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Streaming progress of one micro-batch, reduced to what the
  * benchmark reports. `end` = trigger start + triggerExecution. */
final case class Progress(query: String, batchId: Long, start: Double, rows: Long,
    durations: Map[String, Double]) {
  def dur(k: String): Double = durations.getOrElse(k, 0.0)
  def end: Double = start + dur("triggerExecution")
}

/** Spark's public listeners, registered on a session.
  *
  * The streaming listener is always on: event latency is read from
  * progress events. [[enable]] adds the job/stage/task/block listener
  * and the query-execution listener, and turns spans on. Everything is
  * kept in memory; [[Trace.spansJson]] writes the spans out at the end. */
final class Trace(spark: SparkSession) {
  @volatile var traced = false
  val progress = new ConcurrentLinkedQueue[Progress]()
  /** (jobId, start ms, end ms, stage ids) */
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Double, Seq[Int])]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()
  @volatile var blockBytes = 0L
  @volatile var exchanges = 0L
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()
  private val spans = ArrayBuffer.empty[Span]

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      progress.add(Progress(String.valueOf(p.name), p.batchId, start, p.numInputRows, d))
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time.toDouble, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobs.add((e.jobId, s._1, e.time.toDouble, s._2))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
        t.synchronized {
          t.tasks += 1
          t.cpuMs += m.executorCpuTime / 1e6
          t.runMs += m.executorRunTime.toDouble
          t.gcMs += m.jvmGCTime.toDouble
          t.resultBytes += m.resultSize
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blockBytes += b.memSize + b.diskSize
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      exchanges += Trace.exchangeCount(qe.executedPlan.toString)
    def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  spark.streams.addListener(streamListener)

  def enable(): Unit = if (!traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    traced = true
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Events already posted reach the listeners asynchronously; give the
    * bus time to drain before reading the totals. */
  def settle(): Unit = Thread.sleep(300)

  def now: Double = System.nanoTime() / 1e6 - Trace.nanoOffset

  /** Run `body` inside a span of `layer`; a no-op wrapper when untraced. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = now
    try body finally if (traced) addSpan(layer, name, t0, now)
  }

  def addSpan(layer: String, name: String, start: Double, end: Double): Unit =
    if (traced) spans.synchronized(spans += Span(spans.length, layer, name, start, end))

  /** Spans plus one child span per Spark job; each span's parent is the
    * shortest span that contains its start. */
  def allSpans: Seq[Span] = {
    val own = spans.synchronized(spans.toVector)
    val jobSpans = jobs.asScala.toVector.sortBy(_._2).zipWithIndex.map { case ((id, s, e, _), i) =>
      Span(own.length + i, "spark", s"job-$id", s, e)
    }
    val all = own ++ jobSpans
    for (c <- all) {
      def dur(x: Span) = x.end - x.start
      val enclosing = own.filter(p => p.start <= c.start && c.start < p.end &&
        (dur(p) > dur(c) || (dur(p) == dur(c) && p.id < c.id)))
      if (enclosing.nonEmpty) c.parent = enclosing.minBy(p => p.end - p.start).id
    }
    all
  }

  def jobTotals(from: Double, to: Double): (Int, Seq[Int]) = {
    val js = jobs.asScala.filter(j => j._2 >= from && j._2 < to).toSeq
    (js.length, js.flatMap(_._4))
  }

  def stageSum(ids: Iterable[Int])(f: StageTotals => Double): Double =
    ids.iterator.map(i => Option(stages.get(i)).map(f).getOrElse(0.0)).sum

  /** Wall time in [from, to) covered by no Spark job. */
  def idleMs(from: Double, to: Double): Double = {
    val iv = jobs.asScala.map(j => (math.max(j._2, from), math.min(j._3, to)))
      .filter(x => x._2 > x._1).toSeq.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    (to - from) - covered
  }
}

object Trace {
  /** Offset that puts `System.nanoTime` on the epoch-millisecond clock. */
  val nanoOffset: Double = System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble

  private val ExchangeRe = "(?m)\\bExchange\\b".r

  def exchangeCount(plan: String): Long = ExchangeRe.findAllMatchIn(plan).length.toLong

  def spansJson(spans: Seq[Span]): String =
    spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)
    }.mkString("[\n", ",\n", "\n]\n")
}
