package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options, passed by `perfbench/run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: java.nio.file.Path, out: java.nio.file.Path, cores: Int, data: String)

/** Raw results of one run: samples and scalars by name, plus the
  * correctness checks. `perfbench/run.py` turns them into the metrics. */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val scalars = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def set(name: String, v: Double): Unit = scalars(name) = v
  def check(name: String, failure: Option[String]): Unit =
    checks += ((name, failure.isEmpty, failure.getOrElse("")))

  def json: String = Json.obj(
    "attempted" -> attempted,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
    "scalars" -> scalars.toMap,
    "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq)
}

/** What every workload shares: the session, the listeners, the result. */
final class Ctx(val opts: Opts, val spark: SparkSession, val trace: Trace, val result: Result) {
  def dir(name: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(opts.work.resolve(name))
}

object Main {

  /** Progress line in the run's log, with seconds since JVM start. */
  def log(what: String): Unit =
    println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $what")

  def session(opts: Opts): SparkSession = {
    val local = opts.work.resolve("spark-local")
    java.nio.file.Files.createDirectories(local)
    val s = graft.util.GraftSession.tuned(SparkSession.builder())
      .master(s"local[${opts.cores}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start-up, done `reps` times; every start but the last is
    * stopped again. Returns the live session and the median start time. */
  def startSession(opts: Opts, reps: Int = 3): (SparkSession, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var s: SparkSession = null
    for (i <- 0 until reps) {
      val t0 = System.nanoTime()
      s = session(opts)
      s.range(0, 1000, 1, opts.cores).selectExpr("sum(id)").collect()
      times += (System.nanoTime() - t0) / 1e9
      if (i < reps - 1) { s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    }
    (s, times.sorted.apply(times.length / 2))
  }

  /** Driver heap in MB after a full collection. */
  def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      java.nio.file.Paths.get(get("work")).toAbsolutePath, java.nio.file.Paths.get(get("out")),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.getOrElse("data", ""))
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) {
      val failures = Checks.selfTest()
      failures.foreach(f => System.err.println(s"selftest FAIL: $f"))
      println(if (failures.isEmpty) "selftest ok" else s"selftest: ${failures.length} failures")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val opts = parse(args)
    val (spark, sessionS) = startSession(opts)
    log("session up")
    val result = new Result
    result.set("setup.session_s", sessionS)
    val trace = new Trace(spark)
    val ctx = new Ctx(opts, spark, trace, result)
    try {
      opts.workload match {
        case "ds1_stream" =>
          Ds1Stream.run(ctx)
          if (opts.trace) FoldMix.traceLayer(ctx)
        case "wide_batches" => WideBatches.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      log("workload done")
      trace.settle()
      if (trace.traced)
        java.nio.file.Files.writeString(opts.work.resolve("spans.json"), Trace.spansJson(trace.allSpans))
      java.nio.file.Files.writeString(opts.out, result.json + "\n")
    } finally {
      spark.streams.active.foreach(_.stop())
      trace.close()
      spark.stop()
    }
  }
}
