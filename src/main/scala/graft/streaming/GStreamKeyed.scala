package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.model.{GngModel, GngParams, Point}

/** KEYED multi-model G-Stream: one independent GNG model per tenant/
  * source key — the sharding SURVEY §2.9 T2 names as the single-global-
  * state limitation of the reference's design (its DStream loop holds
  * exactly one model on the driver).
  *
  * The scale story INVERTS the single-model layout: a single GNG
  * trains with a distributed assign pass feeding one driver-side graph
  * update, while the keyed variant partitions BY KEY and runs the
  * ENTIRE existing single-model update path per key inside an
  * executor task ([[GStream.fitChunkedLocal]] — the same code the
  * single-model local path runs, proven equal to the distributed
  * path by GngOpsSpec). N tenants train N models in PARALLEL with
  * zero driver state and one shuffle (the groupByKey); each model is
  * a few KB of prototypes and edges ([[GngModel.toBytes]]), so the collected result is
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
    * model ([[GngModel.toBytes]]), its 1-based non-empty-batch counter,
    * and the node count — the last row per key (max kk) IS the final
    * model. */
  final case class KeyedGngUpdate(key: Long, kk: Int, nodeCount: Int, model: Array[Byte])

  /** Streaming state per key: points buffered before the 2-point
    * bootstrap (Java-serialized), then the model ([[GngModel.toBytes]])
    * + batch counter. */
  final case class KeyedGngState(pending: Array[Byte], model: Array[Byte], kk: Int)

  /** Java serialization — only for the pre-bootstrap `Array[Point]`
    * buffer; models use [[GngModel.toBytes]]. */
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

  /** Deterministic keyed BATCH training: group by key, run the full
    * single-model chunked loop per key in its executor task, collect
    * the (small) models. Each key's result is BIT-IDENTICAL to
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
    points.groupByKey(_.key)
      .mapGroups { (key, it) =>
        val pts = it.map(kp => Point(kp.features, kp.label, kp.id)).toArray
        require(pts.length >= 2, s"key $key: need at least 2 points to bootstrap")
        // canonical order — group iterators deliver in shuffle order
        (key, GngModel.toBytes(GStream.fitChunkedLocal(pts.sortBy(_.id), params, nChunks), nChunks))
      }
      .collect()
      .map { case (k, bytes) => k -> GngModel.fromBytes(bytes)._1 }
      .toMap
  }

  /** Keyed STREAMING training via flatMapGroupsWithState — one model
    * per key held in the state store, updated through the EXISTING
    * single-model path (assignAggregateLocal + GngModel.update) per
    * micro-batch:
    *
    *  - points buffer per key until two are available; the bootstrap
    *    takes the two LOWEST ids seen (GStream.bootstrap's rule), and
    *    any remaining buffered points form that key's first update
    *    batch (kk = 1);
    *  - each later non-empty per-key batch is one `model.update`
    *    (kk += 1), exactly the single-model foreachBatch loop —
    *    batches canonicalized to ascending id like [[fitKeyed]];
    *  - emission is (key, kk, nodeCount, serialized model) per
    *    updated key per trigger; the max-kk row per key is the final
    *    model ([[finalModels]]).
    *
    * State is per-key and bounded (one model ≈ prototypes + edge list,
    * [[GngModel.toBytes]]); the state store shards it across executors, so the
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
        val arrived = it.map(kp => Point(kp.features, kp.label, kp.id))
          .toArray.sortBy(_.id)
        if (arrived.isEmpty) Iterator.empty
        else {
          val prev = state.getOption
          val (pending, modelBytes, kk0) = prev match {
            case Some(s) => (Option(s.pending), Option(s.model), s.kk)
            case None => (None, None, 0)
          }
          modelBytes match {
            case Some(mb) =>
              // established model: this batch is one update
              val model = GngModel.fromBytes(mb)._1
              val stats = graft.operators.GngOps.assignAggregateLocal(arrived, model.centroids, model.seedWatch)
              if (stats.isEmpty) Iterator.empty
              else {
                val kk = kk0 + 1
                model.update(stats, kk)
                val bytes = GngModel.toBytes(model, kk)
                state.update(KeyedGngState(Array.emptyByteArray, bytes, kk))
                Iterator.single(KeyedGngUpdate(key, kk, model.nodeCount, bytes))
              }
            case None =>
              val all = (pending.map(deserialize[Array[Point]]).getOrElse(Array.empty[Point])
                ++ arrived).sortBy(_.id)
              if (all.length < 2) {
                // still too few to bootstrap: keep buffering
                state.update(KeyedGngState(serialize(all), null, 0))
                Iterator.empty
              } else {
                // bootstrap from the two lowest ids; the REST of the
                // accumulated points form the first update batch
                val model = new GngModel(params, all(0).features.length)
                  .init2Nodes(all(0), all(1))
                val rest = all.drop(2)
                val stats = graft.operators.GngOps.assignAggregateLocal(rest, model.centroids, model.seedWatch)
                val kk = if (stats.nonEmpty) { model.update(stats, 1); 1 } else 0
                val bytes = GngModel.toBytes(model, kk)
                state.update(KeyedGngState(Array.emptyByteArray, bytes, kk))
                Iterator.single(KeyedGngUpdate(key, kk, model.nodeCount, bytes))
              }
          }
        }
      }
  }

  /** The final model per key from a collected [[trainKeyedStreaming]]
    * output: the max-kk row per key, deserialized. */
  def finalModels(updates: Seq[KeyedGngUpdate]): Map[Long, (GngModel, Int)] =
    updates.groupBy(_.key).map { case (k, rows) =>
      val last = rows.maxBy(_.kk)
      k -> ((GngModel.fromBytes(last.model)._1, last.kk))
    }

  // ---- tenant-scale persistent state (round-12: no driver collect) -------

  /** [[fitKeyed]] WITHOUT the terminal driver collect: the per-tenant
    * models stay a DISTRIBUTED table (key, kk, node_count, model,
    * pending) — at 10^5 tenants × 300-node models the collected map is
    * driver-bound (round-11 verdict #9); a table is not. `pending` is
    * the pre-bootstrap point buffer (null for every fitted row here;
    * [[applyKeyedBatch]] uses it for tenants that trickle in). */
  def fitKeyedTable(points: Dataset[KeyedPoint], params: GngParams,
      nChunks: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    points.groupByKey(_.key)
      .mapGroups { (key, it) =>
        val pts = it.map(kp => Point(kp.features, kp.label, kp.id)).toArray
        require(pts.length >= 2, s"key $key: need at least 2 points to bootstrap")
        val m = GStream.fitChunkedLocal(pts.sortBy(_.id), params, nChunks)
        (key, nChunks, m.nodeCount, GngModel.toBytes(m, nChunks), null: Array[Byte])
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
    * the same single-model update path as [[trainKeyedStreaming]]
    * (assignAggregateLocal + GngModel.update, ascending-id canonical
    * order); untouched tenants' rows carry over byte-identical; brand-
    * new tenants bootstrap at two points (buffering in `pending`
    * until then, GStream.bootstrap's two-lowest-ids rule). The driver
    * never deserializes a model. */
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
        val pts = ptsIt.map(kp => Point(kp.features, kp.label, kp.id))
          .toArray.sortBy(_.id)
        val existing = stIt.toSeq.headOption
        existing match {
          case Some(row @ (_, kk0, _, mb, pend)) if mb != null =>
            if (pts.isEmpty) Iterator.single(row)
            else {
              val model = GngModel.fromBytes(mb)._1
              val stats = graft.operators.GngOps.assignAggregateLocal(pts, model.centroids, model.seedWatch)
              if (stats.isEmpty) Iterator.single(row)
              else {
                val kk = kk0 + 1
                model.update(stats, kk)
                Iterator.single((key, kk, model.nodeCount, GngModel.toBytes(model, kk), pend))
              }
            }
          case other =>
            // no model yet: merge any buffered points with the arrivals
            val buffered = other.flatMap(r => Option(r._5))
              .map(deserialize[Array[Point]]).getOrElse(Array.empty[Point])
            val all = (buffered ++ pts).sortBy(_.id)
            if (all.isEmpty) Iterator.empty
            else if (all.length < 2)
              Iterator.single((key, 0, 0, null: Array[Byte], serialize(all)))
            else {
              val model = new GngModel(params, all(0).features.length)
                .init2Nodes(all(0), all(1))
              val rest = all.drop(2)
              val stats = graft.operators.GngOps.assignAggregateLocal(rest, model.centroids, model.seedWatch)
              val kk = if (stats.nonEmpty) { model.update(stats, 1); 1 } else 0
              Iterator.single((key, kk, model.nodeCount, GngModel.toBytes(model, kk),
                null: Array[Byte]))
            }
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
      .map(r => (GngModel.fromBytes(r.getAs[Array[Byte]](0))._1, r.getInt(1)))
}
