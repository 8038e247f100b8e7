package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestSupport
import graft.model.{GngModel, GngParams, Point}
import graft.operators.EpochState
import graft.streaming.GStreamKeyed.{KeyedGngUpdate, KeyedPoint}

/** Tenant-scale keyed-GNG state (round-11 verdict #9): per-tenant
  * models live in an EpochState-backed TABLE — the driver never
  * collects a model map (10^5 tenants × 300-node models is
  * driver-bound under fitKeyed's terminal collect). Correctness bar:
  * each tenant's stored model is bit-identical to the single-model
  * local path on that tenant's points; untouched tenants' rows carry
  * over byte-identical; a replayed micro-batch is a no-op (epoch
  * stamp); the write-committed/pointer-unpublished crash half replays
  * cleanly. */
class GStreamKeyedStateSpec extends AnyFunSuite with SparkTestSupport {

  private def kp(key: Long, i: Int): KeyedPoint =
    KeyedPoint(key,
      Array(30.0 * key + 8 * math.sin(i * 0.37), 30.0 * key + 8 * math.cos(i * 0.53)),
      key.toInt, key * 100000L + i)

  private def fingerprint(m: GngModel): (Seq[String], Seq[String], Seq[String], Int) =
    (m.prototypeLines, m.edgeLines, m.weightLines, m.nodeCount)

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("kgng-state").toString

  test("1000 tenants: distributed fit + state table, per-key serve == single-model fit") {
    import spark.implicits._
    val params = GngParams()
    val nKeys = 1000
    val pts = (for (key <- 0L until nKeys.toLong; i <- 0 until 6) yield kp(key, i)).toSeq
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir,
      spark.createDataset(pts).repartition(16), params, nChunks = 2)
    val state = EpochState.state(spark, dir)
    assert(state.count() === nKeys.toLong)
    // spot-check tenants across the key range: stored model ==
    // the single-model local path over that tenant's points alone
    for (key <- Seq(0L, 1L, 499L, 998L, 999L)) {
      val own = pts.filter(_.key == key)
        .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
      val solo = GStream.fitChunkedLocal(own, params, nChunks = 2)
      val served = GStreamKeyed.keyedModel(spark, dir, key)
      assert(served.isDefined, s"key=$key missing from the state table")
      assert(fingerprint(served.get._1) === fingerprint(solo), s"key=$key")
    }
  }

  test("batch commit: touched tenants update, untouched rows carry byte-identical, replay is a no-op") {
    import spark.implicits._
    val params = GngParams()
    val init = (for (key <- 0L until 20L; i <- 0 until 40) yield kp(key, i)).toSeq
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir, spark.createDataset(init), params, nChunks = 4)
    val before = EpochState.state(spark, dir)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => r._1 -> ((r._2, r._3.toSeq))).toMap

    // batch touches keys 0..4 only
    val batch = (for (key <- 0L until 5L; i <- 40 until 80) yield kp(key, i)).toSeq
    GStreamKeyed.commitKeyedBatch(spark, dir, spark.createDataset(batch), params, epoch = 0L)
    val after = EpochState.state(spark, dir)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    assert(after.keySet === before.keySet)
    for (key <- 5L until 20L)
      assert(after(key) === before(key), s"untouched key=$key must carry byte-identical")
    for (key <- 0L until 5L) {
      assert(after(key)._1 === before(key)._1 + 1, s"touched key=$key must advance kk")
      assert(after(key)._2 !== before(key)._2, s"touched key=$key must change")
    }

    // REPLAY of the same epoch (foreachBatch re-delivery): no-op
    GStreamKeyed.commitKeyedBatch(spark, dir, spark.createDataset(batch), params, epoch = 0L)
    val replayed = EpochState.state(spark, dir)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    assert(replayed === after, "replayed epoch must not double-train any tenant")

    // and the update itself matches the hand-run single-model path
    for (key <- Seq(0L, 4L)) {
      val own = init.filter(_.key == key)
        .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
      val solo = GStream.fitChunkedLocal(own, params, nChunks = 4)
      val arrived = batch.filter(_.key == key)
        .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
      val stats = graft.operators.GngOps.assignAggregateLocal(arrived, solo.centroids)
      solo.update(stats, 5)
      assert(fingerprint(GStreamKeyed.keyedModel(spark, dir, key).get._1) ===
        fingerprint(solo), s"key=$key update drifted from the single-model path")
    }
  }

  test("new tenant mid-stream: buffers below 2 points, bootstraps when the second arrives") {
    import spark.implicits._
    val params = GngParams()
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir,
      spark.createDataset((0 until 40).map(i => kp(0L, i))), params, nChunks = 4)
    // tenant 7 trickles in: one point in epoch 0 (buffers), the rest in epoch 1
    GStreamKeyed.commitKeyedBatch(spark, dir,
      spark.createDataset(Seq(kp(7L, 0))), params, epoch = 0L)
    assert(GStreamKeyed.keyedModel(spark, dir, 7L) === None, "one point must only buffer")
    val st = EpochState.state(spark, dir).filter($"key" === 7L).head()
    assert(st.getAs[Array[Byte]]("model") == null)
    assert(st.getAs[Array[Byte]]("pending") != null)
    GStreamKeyed.commitKeyedBatch(spark, dir,
      spark.createDataset((1 until 50).map(i => kp(7L, i))), params, epoch = 1L)
    val served = GStreamKeyed.keyedModel(spark, dir, 7L)
    assert(served.isDefined && served.get._2 === 1)
    // equals the streaming bootstrap semantics: two lowest ids seed,
    // the remainder is the first update batch
    val all = (0 until 50).map(i => kp(7L, i))
      .map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)
    val solo = new GngModel(params, 2).init2Nodes(all(0), all(1))
    val stats = graft.operators.GngOps.assignAggregateLocal(all.drop(2), solo.centroids)
    solo.update(stats, 1)
    assert(fingerprint(served.get._1) === fingerprint(solo))
  }

  test("restart proof: kill between state write and pointer publish, replay lands identical") {
    import spark.implicits._
    val params = GngParams()
    val init = (for (key <- 0L until 5L; i <- 0 until 40) yield kp(key, i)).toSeq
    val b1 = (for (key <- 0L until 5L; i <- 40 until 60) yield kp(key, i)).toSeq
    val b2 = (for (key <- 0L until 5L; i <- 60 until 90) yield kp(key, i)).toSeq

    // continuous run
    val cont = freshDir()
    GStreamKeyed.initKeyedState(spark, cont, spark.createDataset(init), params, 4)
    GStreamKeyed.commitKeyedBatch(spark, cont, spark.createDataset(b1), params, 0L)
    GStreamKeyed.commitKeyedBatch(spark, cont, spark.createDataset(b2), params, 1L)

    // crashed run: epoch 1's version directory gets WRITTEN but the
    // pointer is never published (the kill window) — then the restart
    // replays epoch 1 and continues
    val crash = freshDir()
    GStreamKeyed.initKeyedState(spark, crash, spark.createDataset(init), params, 4)
    GStreamKeyed.commitKeyedBatch(spark, crash, spark.createDataset(b1), params, 0L)
    val p = EpochState.readPointer(crash).get
    EpochState.writeVersion(spark, crash, p, 1L,
      state => GStreamKeyed.applyKeyedBatch(state, spark.createDataset(b2), params))
    // no publish — the orphan v-dir is invisible; replay epoch 1:
    GStreamKeyed.commitKeyedBatch(spark, crash, spark.createDataset(b2), params, 1L)

    val a = EpochState.state(spark, cont)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => (r._1, r._2, r._3.toSeq)).sortBy(_._1).toSeq
    val b = EpochState.state(spark, crash)
      .select($"key", $"kk", $"model").as[(Long, Int, Array[Byte])]
      .collect().map(r => (r._1, r._2, r._3.toSeq)).sortBy(_._1).toSeq
    assert(a === b, "crash-replayed state must equal the continuous run, model bytes included")
  }

  /** Tenant 3's points with no id ≡ 3 (mod 5): chunk 3 of a 5-chunk fit
    * is empty, so the fit applies 4 batches, not 5. */
  private val skipping = (0 until 50).filter(_ % 5 != 3).map(i => kp(3L, i))

  private def points(kps: Seq[KeyedPoint]): Array[Point] =
    kps.map(p => Point(p.features, p.label, p.id)).toArray.sortBy(_.id)

  private def row(dir: String, key: Long): Seq[Any] = {
    val r = EpochState.state(spark, dir).filter(org.apache.spark.sql.functions.col("key") === key).head()
    Seq(r.getAs[Long]("key"), r.getAs[Int]("kk"), r.getAs[Int]("node_count"),
      Option(r.getAs[Array[Byte]]("model")).map(_.toSeq),
      Option(r.getAs[Array[Byte]]("pending")).map(_.toSeq))
  }

  test("fitKeyedTable stores kk = the number of non-empty chunks it applied") {
    import spark.implicits._
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir, spark.createDataset(skipping), GngParams(), nChunks = 5)
    assert(row(dir, 3L)(1) === 4, "chunk 3 is empty: 4 batches applied, not nChunks = 5")
  }

  test("commit after a chunk-skipping fit == the continuous single-model loop") {
    import spark.implicits._
    val params = GngParams()
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir, spark.createDataset(skipping), params, nChunks = 5)
    val batch = (50 until 90).map(i => kp(3L, i))
    GStreamKeyed.commitKeyedBatch(spark, dir, spark.createDataset(batch), params, epoch = 0L)
    // the continuous loop: 4 non-empty chunks, then the batch as kk = 5
    val solo = GStream.fitChunkedLocal(points(skipping), params, nChunks = 5)
    solo.update(graft.operators.GngOps.assignAggregateLocal(points(batch), solo.centroids), 5)
    val (served, kk) = GStreamKeyed.keyedModel(spark, dir, 3L).get
    assert(fingerprint(served) === fingerprint(solo), "kk = 5 is a growth batch (growEvery = 5)")
    assert(kk === 5)
  }

  test("a batch of only non-finite points leaves an established key unchanged") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val params = GngParams()
    val poison = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .zipWithIndex.map { case (x, i) => KeyedPoint(0L, Array(x, x), 0, 90L + i) }
    val b1 = (0 until 40).map(i => kp(0L, i))
    val b3 = (40 until 80).map(i => kp(0L, i))

    // streaming: the poison batch emits nothing and keeps kk, so the
    // next real batch is kk = 2
    val mem = MemoryStream[KeyedPoint]
    val q = GStreamKeyed.trainKeyedStreaming(mem.toDS(), params)
      .writeStream.format("memory").queryName("kgng_poison").outputMode("append").start()
    val emitted = try {
      val counts = for (b <- Seq(b1, poison, b3)) yield {
        mem.addData(b)
        q.processAllAvailable()
        spark.table("kgng_poison").count()
      }
      assert(counts === Seq(1L, 1L, 2L), "the poison batch must emit nothing")
      spark.table("kgng_poison").as[KeyedGngUpdate].collect().toSeq
    } finally q.stop()
    assert(emitted.map(_.kk).sorted === Seq(1, 2))

    // commit: the stored row carries over byte-identical
    val dir = freshDir()
    GStreamKeyed.initKeyedState(spark, dir, spark.createDataset(b1), params, nChunks = 4)
    val before = row(dir, 0L)
    GStreamKeyed.commitKeyedBatch(spark, dir, spark.createDataset(poison), params, epoch = 0L)
    assert(row(dir, 0L) === before)
  }
}
