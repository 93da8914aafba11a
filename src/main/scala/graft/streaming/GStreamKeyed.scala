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
    * bootstrap, then the model ([[GngModel.toBytes]]) + batch counter. */
  final case class KeyedGngState(pending: Array[Point], model: Array[Byte], kk: Int)

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
    * fit (the full single-model chunked loop per key in its executor
    * task), with the (small) models collected. Each key's result is
    * BIT-IDENTICAL to [[GStream.fitChunkedLocal]] over that key's id-sorted points with
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
      .map { case (k, bytes) => k -> GngModel.fromBytes(bytes)._1 }
      .toMap
  }

  /** What one key's advance over a batch leaves behind. */
  private sealed trait KeyAdvance
  /** A stored model the batch assigned no point to: the stored row stands. */
  private case object Unchanged extends KeyAdvance
  /** No model yet and fewer than two points: keep buffering `points`. */
  private final case class Buffered(points: Array[Point]) extends KeyAdvance
  /** The key's model after this batch, with its counter. */
  private final case class Trained(model: GngModel, kk: Int) extends KeyAdvance

  /** The ONE per-key G-Stream step both keyed streaming paths run.
    * `model` is the key's stored model ([[GngModel.toBytes]], its kk
    * inside) or null; `pending` its pre-bootstrap buffer or null;
    * `arrived` the batch, ascending id. A stored model takes one
    * [[GngModel.step]]. Without one, the buffer plus the
    * arrivals stay buffered below two points; otherwise the two lowest
    * ids bootstrap ([[GngModel.bootstrap]]) and the rest form batch 1. */
  private def advanceKey(model: Array[Byte], pending: Array[Point],
      arrived: Array[Point], params: GngParams): KeyAdvance =
    if (model != null) {
      val (m, kk) = GngModel.fromBytes(model)
      val next = m.step(GngOps.assignAggregateLocal(arrived, m.centroids, m.seedWatch), kk)
      if (next == kk) Unchanged else Trained(m, next)
    } else {
      val all = (Option(pending).getOrElse(Array.empty[Point]) ++ arrived).sortBy(_.id)
      if (all.length < 2) Buffered(all)
      else {
        val m = GngModel.bootstrap(all, params)
        Trained(m, m.step(GngOps.assignAggregateLocal(all.drop(2), m.centroids, m.seedWatch), 0))
      }
    }

  /** Keyed STREAMING training via flatMapGroupsWithState — one model
    * per key held in the state store, advanced per micro-batch by
    * [[advanceKey]] (assignAggregateLocal + [[GngModel.step]], the
    * single-model step):
    *
    *  - points buffer per key until two are available; the bootstrap
    *    takes the two LOWEST ids seen ([[GngModel.bootstrap]]), and
    *    any remaining buffered points form that key's first update
    *    batch (kk = 1);
    *  - each later non-empty per-key batch is one step (kk += 1),
    *    exactly the single-model foreachBatch loop — batches
    *    canonicalized to ascending id like [[fitKeyed]];
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
    * model exactly (GStreamRestartSpec proves the same for the
    * single-model path, which resumes from its state dir's recovery
    * point). */
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
          advanceKey(prev.map(_.model).orNull, prev.map(_.pending).orNull, arrived, params) match {
            case Unchanged => Iterator.empty
            case Buffered(all) =>
              state.update(KeyedGngState(all, null, 0))
              Iterator.empty
            case Trained(model, kk) =>
              val bytes = GngModel.toBytes(model, kk)
              state.update(KeyedGngState(null, bytes, kk))
              Iterator.single(KeyedGngUpdate(key, kk, model.nodeCount, bytes))
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
        // kk = the non-empty chunks the loop applied, not nChunks: the
        // next commitKeyedBatch's fade/grow cadence keys off it.
        // Canonical order — group iterators deliver in shuffle order.
        var kk = 0
        val m = GStream.fitChunkedLocal(pts.sortBy(_.id), params, nChunks, (k, _) => kk = k)
        (key, kk, m.nodeCount, GngModel.toBytes(m, kk), null: Array[Point])
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
    * the same per-key step as [[trainKeyedStreaming]] ([[advanceKey]],
    * ascending-id canonical order); untouched tenants' rows, and
    * tenants the batch assigned nothing to, carry over byte-identical;
    * brand-new tenants bootstrap at two points (buffering in `pending`
    * until then). The driver never deserializes a model. */
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
      .as[(Long, Int, Int, Array[Byte], Array[Point])]
    st.groupByKey(_._1)
      .cogroup(batch.groupByKey(_.key)) { (key, stIt, ptsIt) =>
        val pts = ptsIt.map(kp => Point(kp.features, kp.label, kp.id))
          .toArray.sortBy(_.id)
        val existing = stIt.toSeq.headOption
        if (pts.isEmpty) existing.iterator
        else advanceKey(existing.map(_._4).orNull, existing.map(_._5).orNull, pts, params) match {
          case Unchanged => existing.iterator
          case Buffered(all) => Iterator.single((key, 0, 0, null: Array[Byte], all))
          case Trained(model, kk) =>
            Iterator.single((key, kk, model.nodeCount, GngModel.toBytes(model, kk), null: Array[Point]))
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
