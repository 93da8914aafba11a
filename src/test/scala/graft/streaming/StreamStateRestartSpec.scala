package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestSupport
import graft.operators.{Dedup, EpochState, QuantileState}

/** Kill-at-batch-k restart proofs for every stateful relational stream
  * FAMILY (the GStreamRestartSpec discipline, applied beyond the
  * incremental-agg family EpochStateSpec already covers): each
  * family's fold step runs through the PERSISTED exactly-once state
  * loop ([[StreamingRelational.oneShotFoldMany]] with a state dir), the job is
  * killed mid-stream — including inside the worst crash window, a new
  * state version fully written but not yet published — restarted on
  * the SAME state dir, and the final state must equal a single clean
  * continuous run over the identical slicing.
  *
  * Families and the s-queries whose step each test mirrors:
  *   - mergeable-sketch fold (s18 quantiles): GK summaries per key;
  *   - row-map UNION fold (s19 training mix, s22 span grams, s23
  *     classifier serving): state grows by a per-row verdict map —
  *     restart safety is about not double-appending a replayed batch;
  *   - component MERGE fold (s20): Dedup.mergeComponents;
  *   - component DELETE fold (s21): Dedup.removeFromComponents against
  *     an immutable pair log, including a batch that splits a
  *     component.
  */
class StreamStateRestartSpec extends AnyFunSuite with SparkTestSupport {
  import spark.implicits._

  private def tmpDir(tag: String): String = graft.queries.PerDir.scratch(tag).toString

  /** Drive `step` over `slices` twice: (a) one continuous run with
    * every slice visible; (b) a killed run — slice 1, restart, slice 2,
    * then a CRASH-WINDOW park (slice 3's version written, pointer not
    * published), restart with slice 3 visible. Returns (continuous,
    * resumed) final states. Each slice is one file → one micro-batch
    * (maxFilesPerTrigger=1) → deterministic batch ids on replay. */
  private def runBothWays(tag: String, schema: String, slices: Seq[DataFrame],
      init: DataFrame, step: (DataFrame, DataFrame) => DataFrame): (DataFrame, DataFrame) = {
    require(slices.size == 3, "harness drives exactly 3 slices")
    def mkSrc(): String = tmpDir(s"$tag-src")
    def stream(src: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet").parquet(s"$src/*")
    def put(src: String, i: Int, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$src/f$i")
    def fold(src: String, state: String): Unit =
      StreamingRelational.oneShotFoldMany(spark, stream(src), Seq(init),
        (st, batch, _) => Seq(step(st.head, batch)), stateDir = Some(state))

    // (a) continuous: all slices visible, one run
    val srcA = mkSrc()
    slices.zipWithIndex.foreach { case (df, i) => put(srcA, i, df) }
    val stateA = tmpDir(s"$tag-stateA")
    fold(srcA, stateA)

    // (b) killed + resumed on the SAME state dir
    val srcB = mkSrc()
    val stateB = tmpDir(s"$tag-stateB")
    put(srcB, 0, slices(0))
    fold(srcB, stateB)
    put(srcB, 1, slices(1))
    fold(srcB, stateB)
    // the worst crash half: slice 3's stepped state is fully WRITTEN
    // as a new version, the pointer is not published — the restart
    // must re-deliver the batch and apply it exactly once
    val p = EpochState.readPointer(stateB).get
    EpochState.writeVersion(spark, stateB, p, p.epoch + 1, st => step(st, slices(2)))
    put(srcB, 2, slices(2))
    fold(srcB, stateB)

    (EpochState.state(spark, stateA), EpochState.state(spark, stateB))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("mergeable-sketch fold (s18 family): GK quantile state survives kill+resume") {
    val slices = Seq(
      (1 to 400).map(i => ("a", i.toDouble)) ++ (1 to 100).map(i => ("b", i * 2.0)),
      (401 to 700).map(i => ("a", i.toDouble)),
      (101 to 300).map(i => ("b", i * 2.0)) ++ (701 to 800).map(i => ("a", i.toDouble)))
      .map(_.toDF("event_type", "value"))
    val init = Seq.empty[(String, Array[Byte])].toDF("event_type", "sk")
    val step: (DataFrame, DataFrame) => DataFrame = (st, batch) => {
      val prior = QuantileState.deserialize(st.collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap)
      val merged = QuantileState.mergeStates(prior,
        QuantileState.sketch(batch, "event_type", "value"))
      QuantileState.serialize(merged).toSeq.toDF("event_type", "sk")
    }
    val (a, b) = runBothWays("rq", "event_type STRING, value DOUBLE", slices, init, step)
    val qa = QuantileState.deserialize(a.collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap)
    val qb = QuantileState.deserialize(b.collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap)
    assert(qa.keySet === qb.keySet)
    for (k <- qa.keySet; q <- Seq(0.1, 0.5, 0.9, 0.99))
      assert(QuantileState.query(qa, k, q) === QuantileState.query(qb, k, q),
        s"restart drifted the $k sketch at q=$q")
  }

  test("row-map union fold (s19/s22/s23 family): no verdict lost or double-appended") {
    val slices = Seq(
      (1 to 40), (41 to 70), (71 to 100)).map(r =>
      r.map(i => (i.toLong, s"doc text number $i with words")).toDF("doc_id", "text"))
    val init = Seq.empty[(Long, Long)].toDF("doc_id", "n_chars")
    // the representative row map: a per-row verdict column, appended
    // per batch (exactly s19/s23's fold shape; replay = duplicate rows)
    val step: (DataFrame, DataFrame) => DataFrame = (st, batch) =>
      st.unionByName(batch.select(col("doc_id"), length(col("text")).cast("long").as("n_chars")))
    val (a, b) = runBothWays("ru", "doc_id BIGINT, text STRING", slices, init, step)
    assert(sortedRows(a) === sortedRows(b))
    assert(a.count() === 100L, "every doc exactly once")
    assert(b.select(col("doc_id")).distinct().count() === b.count(),
      "a replayed batch must not double-append")
  }

  test("component MERGE fold (s20 family): mergeComponents state survives kill+resume") {
    // batches connect progressively: batch 3 bridges two earlier
    // components (1-2-3 and 10-11) through the edge 3-10
    val slices = Seq(
      Seq((1L, 2L), (10L, 11L)),
      Seq((2L, 3L), (20L, 21L)),
      Seq((3L, 10L))).map(_.toDF("id_a", "id_b"))
    val init = Seq((100L, 100L), (101L, 100L)).toDF("id", "rep") // a stored component
    val step: (DataFrame, DataFrame) => DataFrame = (st, batch) =>
      Dedup.mergeComponents(st, batch)
    val (a, b) = runBothWays("rm", "id_a BIGINT, id_b BIGINT", slices, init, step)
    assert(sortedRows(a) === sortedRows(b))
    val reps = b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 10L, 11L).map(reps) === Seq.fill(5)(1L),
      "the bridge batch must have united both components under min id 1")
  }

  test("component DELETE fold (s21 family): removeFromComponents survives kill+resume, incl. a split") {
    // pair log: a chain 1-2-3-4-5 (component rep 1) and a pair 20-21;
    // deleting 3 SPLITS the chain; deleting 21 shrinks the pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (20L, 21L))
      .toDF("id_a", "id_b").localCheckpoint(true)
    val stored = Dedup.connectedComponents(pairs).localCheckpoint(true)
    val slices = Seq(Seq(3L), Seq(21L), Seq(5L)).map(_.toDF("id"))
    val step: (DataFrame, DataFrame) => DataFrame = (st, batch) =>
      Dedup.removeFromComponents(st, batch, pairs)
    val (a, b) = runBothWays("rd", "id BIGINT", slices, init = stored, step)
    assert(sortedRows(a) === sortedRows(b))
    val reps = b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after deleting 3 then 5: 1-2 survive as a component, 4 is
    // isolated (no surviving pair) and drops; 20 drops with 21
    assert(reps === Map(1L -> 1L, 2L -> 1L))
  }

  test("SemDeDup member fold (s31 family): assign+pairs+merge survives kill+resume") {
    import graft.operators.{KMeans, SemDedup}
    // 4-d corpus in two sign families; near-duplicates planted so the
    // last slice completes pairs whose first member arrived in slice 1
    def vec(i: Int): Array[Double] = {
      val c = i % 2
      Array.tabulate(4) { j =>
        (if ((j + c) % 2 == 0) 1.0 else -1.0) * (1.0 + 0.02 * ((i / 2) % 7))
      }
    }
    val rows = (0 until 60).map(i => (i.toLong, vec(i).toSeq))
    val corpus = rows.toDF("vec_id", "embedding")
    val seeds = KMeans.seeds(corpus, col("embedding"), col("vec_id"), k = 2)
    def assign(b: DataFrame) = b.select(
      col("vec_id"), col("embedding").as("v"),
      graft.expressions.VectorOps.nearestCentroid(col("embedding"), seeds)
        .as("cluster"))
    val slices = Seq(0L, 1L, 2L).map(m =>
      corpus.filter(col("vec_id") % 3 === m))
    val init = Seq.empty[(Long, Seq[Double], Int, Long, Long)]
      .toDF("vec_id", "v", "cluster", "block", "rep")
    val step: (DataFrame, DataFrame) => DataFrame = (st, batch) =>
      SemDedup.foldStep(st, assign(batch), bits = 0, dim = 4, eps = 0.35)
    val (a, b) = runBothWays("sd", "vec_id BIGINT, embedding ARRAY<DOUBLE>",
      slices, init, step)
    def repsOf(df: DataFrame) = df.select(col("vec_id"), col("rep"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repsOf(a) === repsOf(b))
    assert(a.count() === 60L, "every member exactly once after resume")
    // and the folded components equal the one-shot batch clustering
    val oneShot = graft.operators.Dedup.connectedComponents(
      SemDedup.withinBlockPairs(assign(corpus), col("vec_id"), col("v"),
        col("cluster"), bits = 0, dim = 4, eps = 0.35))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val folded = repsOf(b)
    for ((id, rep) <- oneShot)
      assert(folded(id) === rep, s"fold drifted from one-shot at id $id")
    assert(folded.values.toSet.size > 1, "fixture must form multiple components")
  }
}
