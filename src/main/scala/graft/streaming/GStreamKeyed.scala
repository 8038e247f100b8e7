package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.model.{GngModel, GngParams, Point}
import graft.operators.GngOps

/** KEYED multi-model G-Stream: one independent GNG model per tenant/
  * source key — the sharding SURVEY §2.9 T2 names as the single-global-
  * state limitation of the reference's design (its DStream loop holds
  * exactly one model on the driver).
  *
  * The scale story INVERTS the single-model layout: a single GNG
  * trains with a distributed assign pass feeding one driver-side graph
  * update, while the keyed variant partitions BY KEY and runs the
  * ENTIRE existing single-model update path per key inside an
  * executor task ([[GStream.fitChunkedLocal]] for batch fits, the one
  * per-key [[transition]] for both streaming forms — the same step the
  * single-model local path runs, proven equal to the distributed path
  * by GngOpsSpec). N tenants train N models in PARALLEL with
  * zero driver state and one shuffle (the groupByKey); each model is
  * a few hundred KB of prototypes, so the collected result is
  * dimension-sized. The fit for a single key must fit one task — a
  * tenant too large for that is exactly the case the single-model
  * distributed path exists for.
  *
  * DETERMINISM: shuffle delivery order inside a group is arbitrary, so
  * every per-key batch is canonicalized to ascending id before it
  * touches the model — FP accumulation order (and therefore the grown
  * graph) is then a pure function of (key's points, params, slicing),
  * independent of partitioning (spec-asserted by re-running under
  * different parallelism).
  */
object GStreamKeyed {

  /** A point tagged with its model key. */
  final case class KeyedPoint(key: Long, features: Array[Double], label: Int, id: Long)

  /** Per-trigger emission of the streaming path: the key's updated
    * model (serialized), its 1-based non-empty-batch counter, and the
    * node count — the last row per key (max kk) IS the final model. */
  final case class KeyedGngUpdate(key: Long, kk: Int, nodeCount: Int, model: Array[Byte])

  /** Streaming state per key: points buffered before the 2-point
    * bootstrap, then the serialized model + batch counter. */
  final case class KeyedGngState(pending: Array[Byte], model: Array[Byte], kk: Int)

  private[graft] def serialize(obj: AnyRef): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    try out.writeObject(obj) finally out.close()
    bos.toByteArray
  }

  private[graft] def deserialize[T](bytes: Array[Byte]): T = {
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    try in.readObject().asInstanceOf[T] finally in.close()
  }

  /** Tag a dense-row DataFrame into [[KeyedPoint]]s ([[GStream.toPoints]]
    * with a key column). */
  def toKeyedPoints(df: DataFrame, keyCol: String, featuresCol: String,
      labelCol: String, idCol: String): Dataset[KeyedPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col(keyCol).cast("long").as("key"),
        col(featuresCol).cast("array<double>").as("features"),
        col(labelCol).cast("int").as("label"),
        col(idCol).cast("long").as("id"))
      .as[KeyedPoint]
  }

  /** The most keys [[fitKeyed]] will collect to the driver: a fixture/
    * debug-scale bound (≈ a few MB of models), NOT a tenant-scale one.
    * Past it, the call fails loud and points at [[fitKeyedTable]],
    * whose models live in an executor-written table. */
  val MaxCollectKeys: Int = 1024

  /** Deterministic keyed BATCH training: [[fitKeyedTable]]'s per-key
    * fit, collected to the driver. Each key's result is BIT-IDENTICAL to
    * [[GStream.fitChunkedLocal]] over that key's id-sorted points with
    * the same params/chunking (spec-asserted) — sharding must never
    * change what any tenant's model learns.
    *
    * SCALE GUARD: this is the fixture/debug form — its terminal
    * collect is keyed by tenant, so 10⁵ tenants would pull 10⁵ models
    * onto the driver. The key count is checked (one cheap distinct
    * pass) against `maxKeys` and fails loud over it; production keyed
    * training is [[fitKeyedTable]] (models stay in an EpochState
    * table, serve by single-key pushdown read). */
  def fitKeyed(points: Dataset[KeyedPoint], params: GngParams,
      nChunks: Int, maxKeys: Int = MaxCollectKeys): Map[Long, GngModel] = {
    val spark = points.sparkSession
    import spark.implicits._
    val nKeys = points.select(col("key")).distinct().count()
    require(nKeys <= maxKeys,
      s"fitKeyed: $nKeys keys exceed the driver-collect bound $maxKeys — " +
        "use fitKeyedTable (models stay in a table; serve by key pushdown)")
    fitKeyedTable(points, params, nChunks)
      .select(col("key"), col("model")).as[(Long, Array[Byte])]
      .collect()
      .map { case (k, bytes) => k -> deserialize[GngModel](bytes) }
      .toMap
  }

  /** What one micro-batch did to a key that changed: its batch counter,
    * node count and serialized model (null while still buffering), and
    * its pre-bootstrap point buffer (null once a model exists). */
  private[streaming] final case class KeyStep(kk: Int, nodeCount: Int,
      model: Array[Byte], pending: Array[Byte])

  /** The one per-key transition both keyed streaming paths run: fold
    * the `arrived` points into a key's state — (`pending` buffer,
    * `model`, `kk`), serialized, null where absent — or None when the
    * key is unchanged. Arrivals are canonicalized to ascending id first.
    *
    *  - no model, fewer than two points seen: buffer them;
    *  - no model, two or more: bootstrap from the two LOWEST ids
    *    ([[GStream.seed]], GStream.bootstrap's rule) and apply the rest
    *    as batch 1 ([[GStream.step]]);
    *  - a model: one [[GStream.step]]; a batch whose stats are empty
    *    (no arrivals, or only points with no finite distance) leaves
    *    the key unchanged.
    *
    * The updated model is serialized once. */
  private[streaming] def transition(params: GngParams, pending: Array[Byte],
      model: Array[Byte], kk: Int, arrived: Iterator[KeyedPoint]): Option[KeyStep] = {
    val pts = arrived.map(kp => Point(kp.features, kp.label, kp.id)).toArray.sortBy(_.id)
    def local(m: GngModel, kk0: Int, batch: Array[Point]): Int =
      GStream.step(m, kk0, GngOps.assignAggregateLocal(batch, m.centroids))
    if (pts.isEmpty) None
    else if (model != null) {
      val m = deserialize[GngModel](model)
      val next = local(m, kk, pts)
      if (next == kk) None else Some(KeyStep(next, m.nodeCount, serialize(m), null))
    } else {
      val all = (Option(pending).map(deserialize[Array[Point]]).getOrElse(Array.empty[Point])
        ++ pts).sortBy(_.id)
      if (all.length < 2) Some(KeyStep(0, 0, null, serialize(all)))
      else {
        val m = GStream.seed(all, params)
        val next = local(m, 0, all.drop(2))
        Some(KeyStep(next, m.nodeCount, serialize(m), null))
      }
    }
  }

  /** Keyed STREAMING training via flatMapGroupsWithState — one model
    * per key held in the state store, advanced by [[transition]] per
    * micro-batch (buffer below two points, bootstrap with the rest as
    * batch 1, then one single-model step per non-empty batch). Each
    * model-bearing transition updates the state and emits (key, kk,
    * nodeCount, serialized model) from the same bytes; the max-kk row
    * per key is the final model ([[finalModels]]).
    *
    * State is per-key and bounded (one model ≈ prototypes + N² byte
    * matrices); the state store shards it across executors, so the
    * driver never holds ANY model — the opposite of the single-model
    * design, and the property that lets tenant count scale with the
    * cluster. Run with a checkpointLocation for restartability: the
    * state store versions per batch, so a restart resumes each key's
    * model exactly (the mechanism GStreamRestartSpec proves for the
    * single-model path via explicit saveState). */
  def trainKeyedStreaming(streamed: Dataset[KeyedPoint],
      params: GngParams): Dataset[KeyedGngUpdate] = {
    val spark = streamed.sparkSession
    import spark.implicits._
    streamed.groupByKey(_.key)
      .flatMapGroupsWithState[KeyedGngState, KeyedGngUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, it, state) =>
        val prev = state.getOption
        transition(params, prev.map(_.pending).orNull, prev.map(_.model).orNull,
            prev.fold(0)(_.kk), it) match {
          case None => Iterator.empty
          case Some(st) if st.model == null =>
            state.update(KeyedGngState(st.pending, null, 0))
            Iterator.empty
          case Some(st) =>
            state.update(KeyedGngState(Array.emptyByteArray, st.model, st.kk))
            Iterator.single(KeyedGngUpdate(key, st.kk, st.nodeCount, st.model))
        }
      }
  }

  /** The final model per key from a collected [[trainKeyedStreaming]]
    * output: the max-kk row per key, deserialized. */
  def finalModels(updates: Seq[KeyedGngUpdate]): Map[Long, (GngModel, Int)] =
    updates.groupBy(_.key).map { case (k, rows) =>
      val last = rows.maxBy(_.kk)
      k -> ((deserialize[GngModel](last.model), last.kk))
    }

  // ---- tenant-scale persistent state (round-12: no driver collect) -------

  /** [[fitKeyed]] WITHOUT the terminal driver collect: the per-tenant
    * models stay a DISTRIBUTED table (key, kk, node_count, model,
    * pending) — at 10^5 tenants × 300-node models the collected map is
    * driver-bound (round-11 verdict #9); a table is not. `pending` is
    * the pre-bootstrap point buffer (null for every fitted row here;
    * [[applyKeyedBatch]] uses it for tenants that trickle in); `kk` is
    * the number of non-empty chunks the fit applied. */
  def fitKeyedTable(points: Dataset[KeyedPoint], params: GngParams,
      nChunks: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    points.groupByKey(_.key)
      .mapGroups { (key, it) =>
        val pts = it.map(kp => Point(kp.features, kp.label, kp.id)).toArray
        require(pts.length >= 2, s"key $key: need at least 2 points to bootstrap")
        // canonical order — group iterators deliver in shuffle order
        val (m, kk) = GStream.fitChunkedLocalHooked(pts.sortBy(_.id), params, nChunks, (_, _) => ())
        (key, kk, m.nodeCount, serialize(m), null: Array[Byte])
      }
      .toDF("key", "kk", "node_count", "model", "pending")
  }

  /** Initialize the per-tenant model store ([[graft.operators.EpochState]]:
    * versioned snapshots + atomic pointer — the state table IS the
    * exactly-once state, sharded parquet, never a driver map). */
  def initKeyedState(spark: SparkSession, stateDir: String,
      points: Dataset[KeyedPoint], params: GngParams, nChunks: Int): Unit =
    graft.operators.EpochState.init(spark, stateDir,
      fitKeyedTable(points, params, nChunks))

  /** Fold one micro-batch of arriving points into the stored
    * per-tenant models, exactly-once under replay (the EpochState
    * epoch stamp makes a re-delivered batch a no-op — the crash
    * window between "models updated" and "state committed" cannot
    * double-train). Per-key work runs in EXECUTOR tasks via a cogroup
    * of (stored models, batch points) on the key: touched tenants run
    * the same [[transition]] as [[trainKeyedStreaming]]; untouched
    * tenants' rows (and tenants the transition leaves unchanged) carry
    * over byte-identical; brand-new tenants buffer in `pending` until
    * they can bootstrap. The driver never deserializes a model. */
  def commitKeyedBatch(spark: SparkSession, stateDir: String,
      batch: Dataset[KeyedPoint], params: GngParams, epoch: Long): Unit =
    graft.operators.EpochState.commit(spark, stateDir, epoch)(
      state => applyKeyedBatch(state, batch, params))

  /** The pure step behind [[commitKeyedBatch]] (separated so specs can
    * drive crash halves through EpochState directly). */
  private[graft] def applyKeyedBatch(state: DataFrame, batch: Dataset[KeyedPoint],
      params: GngParams): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val st = state
      .select(col("key").cast("long"), col("kk").cast("int"),
        col("node_count").cast("int"), col("model"), col("pending"))
      .as[(Long, Int, Int, Array[Byte], Array[Byte])]
    st.groupByKey(_._1)
      .cogroup(batch.groupByKey(_.key)) { (key, stIt, ptsIt) =>
        val row = stIt.toSeq.headOption
        transition(params, row.map(_._5).orNull, row.map(_._4).orNull,
            row.fold(0)(_._2), ptsIt) match {
          case None => row.iterator
          case Some(s) => Iterator.single((key, s.kk, s.nodeCount, s.model, s.pending))
        }
      }
      .toDF("key", "kk", "node_count", "model", "pending")
  }

  /** Serve ONE tenant's model from the committed state — a pushdown-
    * filtered read of the current version's parquet (row-group skip on
    * the key; bucket the state table by key if 10^5-tenant serve-path
    * latency ever matters), never a full-table deserialize. */
  def keyedModel(spark: SparkSession, stateDir: String,
      key: Long): Option[(GngModel, Int)] =
    graft.operators.EpochState.state(spark, stateDir)
      .filter(col("key") === key && col("model").isNotNull)
      .select(col("model"), col("kk"))
      .collect().headOption
      .map(r => (deserialize[GngModel](r.getAs[Array[Byte]](0)), r.getInt(1)))
}
