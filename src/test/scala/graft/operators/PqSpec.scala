package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSupport

class PqSpec extends AnyFunSuite with SparkTestSupport {
  import spark.implicits._

  /** Clustered 8-d vectors: each 4-wide subspace drawn from 3 well-
    * separated anchor points (0, 10, 20 per lane, anchor-dependent
    * offsets) — a codebook with k >= 3 quantizes these EXACTLY, so
    * ADC distance equals true squared L2 and PQ kNN must equal brute
    * force. Deterministic LCG-style arithmetic, no RNG. */
  private def anchored(n: Int) = (0 until n).map { i =>
    val a0 = i % 3
    val a1 = (i / 3) % 3
    val vec = Seq.tabulate(4)(t => a0 * 10.0 + t) ++ Seq.tabulate(4)(t => a1 * 10.0 + t * 2)
    (i.toLong, vec)
  }.toDF("vec_id", "embedding")

  test("train is deterministic and shaped (m x k x sub)") {
    val df = anchored(60)
    val cb1 = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 4, iters = 3)
    val cb2 = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 4, iters = 3)
    assert(cb1.length === 2)
    assert(cb1.forall(_.length === 4))
    assert(cb1.forall(_.forall(_.length === 4)))
    assert(cb1.map(_.map(_.toSeq).toSeq).toSeq === cb2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("encode matches a naive per-row reimplementation") {
    val df = anchored(60)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 4, iters = 3)
    val got = Pq.encode(df, col("embedding"), col("vec_id"), cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for ((id, v) <- rows) {
      val want = cb.zipWithIndex.map { case (words, j) =>
        val s = v.slice(j * 4, (j + 1) * 4)
        words.zipWithIndex.minBy { case (w, c) =>
          (w.zip(s).map { case (a, b) => (a - b) * (a - b) }.sum, c)
        }._2
      }.toSeq
      assert(got(id) === want, s"vec $id")
    }
  }

  test("on exactly-quantizable data, PQ kNN == brute-force squared-L2 kNN") {
    val df = anchored(90)
    // k = 9 codewords >= the 3x3 anchor combinations per subspace
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    val q = df.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val pq = Pq.pqKnn(df, col("embedding"), col("vec_id"), cb, q, k = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = df.select(col("vec_id").as("id"),
        round(graft.expressions.VectorOps.squaredDistance(
          col("embedding"), array(q.map(lit): _*)) + lit(1e-9), 4).as("d"))
      .orderBy(col("d"), col("id")).limit(12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pq === brute)
  }

  test("k beyond the distinct sample points: stable codebook, no crash") {
    val tiny = anchored(3) // 3 distinct vectors, ask for 16 codewords
    val cb = Pq.train(tiny, col("embedding"), col("vec_id"), m = 2, k = 16, iters = 4)
    assert(cb.forall(_.length === 16))
    // encoding still assigns every row a valid code in [0, 16)
    val codes = Pq.encode(tiny, col("embedding"), col("vec_id"), cb)
      .collect().flatMap(_.getSeq[Int](1))
    assert(codes.forall(c => c >= 0 && c < 16))
  }

  test("ivfPqKnn with every list probed equals plain PQ kNN") {
    val df = anchored(90)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    // two coarse lists: anchors near 0 vs anchors near 20
    val cents = Array(Array.fill(8)(2.0), Array.fill(8)(18.0))
    val q = df.filter(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val all = Pq.ivfPqKnn(df, col("embedding"), col("vec_id"), cents, cb, q,
        k = 12, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val plain = Pq.pqKnn(df, col("embedding"), col("vec_id"), cb, q, k = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all === plain)
    // nProbe = 1 restricts candidates to the query's own list but keeps
    // the same ADC ranking on the survivors
    val one = Pq.ivfPqKnn(df, col("embedding"), col("vec_id"), cents, cb, q,
        k = 12, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(one.toSet.subsetOf(plain.toSet))
    assert(one === plain.filter(one.toSet))
  }

  test("ivfPqKnnOnIndex over a parquet round-trip equals online ivfPqKnn") {
    val df = anchored(90)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    val cents = Array(Array.fill(8)(2.0), Array.fill(8)(12.0), Array.fill(8)(22.0))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-spec").toString
    try {
      Pq.ivfPqIndex(df, col("embedding"), col("vec_id"), cents, cb)
        .write.mode("overwrite").partitionBy("list").parquet(dir)
      val index = spark.read.parquet(dir)
      for (qid <- Seq(0L, 7L, 41L); nProbe <- Seq(1, 2)) {
        val q = df.filter(col("vec_id") === qid)
          .select(col("embedding")).head().getSeq[Double](0).toArray
        val served = Pq.ivfPqKnnOnIndex(index, cents, cb, q, k = 8, nProbe = nProbe)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val online = Pq.ivfPqKnn(df, col("embedding"), col("vec_id"), cents, cb, q,
            k = 8, nProbe = nProbe)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(served === online, s"qid=$qid nProbe=$nProbe")
      }
    } finally graft.streaming.StreamingRelational.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("ivfPqIncrement: appended index serves identically to a full rebuild; drift fails fast") {
    val df = anchored(90)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    val cents = Array(Array.fill(8)(2.0), Array.fill(8)(12.0), Array.fill(8)(22.0))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-inc-spec").toString
    try {
      // phase 1: even ids; phase 2: odd ids appended under the SAME models
      Pq.ivfPqIndex(df.filter(col("vec_id") % 2 === 0), col("embedding"), col("vec_id"),
          cents, cb)
        .write.mode("overwrite").partitionBy("list").parquet(dir)
      Pq.ivfPqIncrement(spark.read.parquet(dir),
          df.filter(col("vec_id") % 2 === 1), col("embedding"), col("vec_id"), cents, cb)
        .write.mode("append").partitionBy("list").parquet(dir)
      val appended = spark.read.parquet(dir)
      // fingerprint survives the partitioned parquet round-trip
      assert(appended.schema.find(_.name == "codes").get.metadata
        .getString("graft.ivfpq.model_fp") === Pq.modelFingerprint(cents, cb))
      for (qid <- Seq(0L, 7L, 41L); nProbe <- Seq(1, 2)) {
        val q = df.filter(col("vec_id") === qid)
          .select(col("embedding")).head().getSeq[Double](0).toArray
        val inc = Pq.ivfPqKnnOnIndex(appended, cents, cb, q, k = 8, nProbe = nProbe)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val rebuilt = Pq.ivfPqKnn(df, col("embedding"), col("vec_id"), cents, cb, q,
            k = 8, nProbe = nProbe)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(inc === rebuilt, s"qid=$qid nProbe=$nProbe")
      }
      // a drifted codebook is a different code space: refuse the append
      val drifted = cb.map(_.map(_.map(_ + 0.25)))
      val e = intercept[IllegalArgumentException] {
        Pq.ivfPqIncrement(appended, df.filter(col("vec_id") % 2 === 1),
          col("embedding"), col("vec_id"), cents, drifted)
      }
      assert(e.getMessage.contains("fingerprint mismatch"))
      // an unstamped (externally-built) index is refused too — appending
      // stamped files into it would make future validation depend on
      // which footer Spark samples
      val e2 = intercept[IllegalArgumentException] {
        Pq.ivfPqIncrement(appended.select(col("id"),
            col("codes").as("codes",
              org.apache.spark.sql.types.Metadata.empty), col("list")),
          df.limit(1), col("embedding"), col("vec_id"), cents, cb)
      }
      assert(e2.getMessage.contains("no model fingerprint"))
    } finally graft.streaming.StreamingRelational.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("deletes: tombstoned serving == rebuild-without-deleted; interleaving is a set-minus") {
    val df = anchored(90)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    val cents = Array(Array.fill(8)(2.0), Array.fill(8)(12.0), Array.fill(8)(22.0))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-del-spec").toString
    try {
      Pq.ivfPqIndex(df, col("embedding"), col("vec_id"), cents, cb)
        .write.mode("overwrite").partitionBy("list").parquet(dir)
      // deleting an absent id is a no-op, not an error
      assert(Pq.ivfPqTombstones(spark.read.parquet(dir),
        Seq(999L).toDF("vec_id"), col("vec_id")).count() === 0)
      val deleted = (0 until 90).map(_.toLong).filter(_ % 10 == 3)
      Pq.ivfPqTombstones(spark.read.parquet(dir),
          deleted.toDF("vec_id"), col("vec_id"))
        .write.mode("append").partitionBy("list").parquet(dir)
      val survivors = df.filter(!col("vec_id").isin(deleted: _*))
      for (qid <- Seq(0L, 7L, 41L); nProbe <- Seq(1, 2, 3)) {
        val q = df.filter(col("vec_id") === qid)
          .select(col("embedding")).head().getSeq[Double](0).toArray
        val served = Pq.ivfPqKnnOnIndexLive(spark.read.parquet(dir), cents, cb, q,
            k = 8, nProbe = nProbe)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val rebuilt = Pq.ivfPqKnn(survivors, col("embedding"), col("vec_id"), cents, cb,
            q, k = 8, nProbe = nProbe)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(served === rebuilt, s"qid=$qid nProbe=$nProbe")
      }
      // INTERLEAVING: a fingerprint-validated append AFTER the deletes —
      // new rows serve, deleted rows stay dead
      val extra = anchored(110).filter(col("vec_id") >= 90)
      Pq.ivfPqIncrement(spark.read.parquet(dir), extra, col("embedding"),
          col("vec_id"), cents, cb)
        .write.mode("append").partitionBy("list").parquet(dir)
      // and a re-append of a DELETED id before compaction: the tombstone
      // is a set-minus, not an ordered log — the id stays dead
      Pq.ivfPqIncrement(spark.read.parquet(dir),
          df.filter(col("vec_id") === 3), col("embedding"), col("vec_id"), cents, cb)
        .write.mode("append").partitionBy("list").parquet(dir)
      val q0 = df.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      val allServed = Pq.ivfPqKnnOnIndexLive(spark.read.parquet(dir), cents, cb, q0,
          k = 200, nProbe = 3)
        .collect().map(_.getLong(0)).toSet
      assert(deleted.forall(!allServed.contains(_)), "deleted ids must stay dead")
      assert((90L until 110L).forall(allServed.contains), "appended ids must serve")
    } finally graft.streaming.StreamingRelational.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("compaction: only affected lists rewrite, markers clear, fingerprint survives, re-add works") {
    val df = anchored(90)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    val cents = Array(Array.fill(8)(2.0), Array.fill(8)(12.0), Array.fill(8)(22.0))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-compact-spec").toString
    try {
      Pq.ivfPqIndex(df, col("embedding"), col("vec_id"), cents, cb)
        .write.mode("overwrite").partitionBy("list").parquet(dir)
      // delete three ids from ONE list only, so the other lists'
      // partitions must come through compaction untouched
      val inList0 = spark.read.parquet(dir).filter(col("list") === 0)
        .select(col("id")).collect().map(_.getLong(0)).sorted.take(3).toSeq
      assert(inList0.size === 3, "fixture must populate list 0")
      Pq.ivfPqTombstones(spark.read.parquet(dir), inList0.toDF("vec_id"), col("vec_id"))
        .write.mode("append").partitionBy("list").parquet(dir)
      def listFiles(list: Int): Map[String, Long] = {
        val p = java.nio.file.Paths.get(dir, s"list=$list")
        val s = java.nio.file.Files.list(p)
        try {
          val it = s.iterator()
          val b = Map.newBuilder[String, Long]
          while (it.hasNext) {
            val f = it.next()
            if (f.toString.endsWith(".parquet"))
              b += f.getFileName.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis
          }
          b.result()
        } finally s.close()
      }
      val before1 = listFiles(1)
      val before2 = listFiles(2)
      Pq.ivfPqCompact(spark.read.parquet(dir))
        .localCheckpoint(true)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("list").parquet(dir)
      assert(listFiles(1) === before1 && listFiles(2) === before2,
        "unaffected list partitions must not rewrite")
      val compacted = spark.read.parquet(dir)
      assert(compacted.filter(col("codes").isNull).count() === 0, "markers must clear")
      // compacted rows == rebuild-without-deleted rows, codes included
      val want = Pq.ivfPqIndex(df.filter(!col("vec_id").isin(inList0: _*)),
          col("embedding"), col("vec_id"), cents, cb)
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSet
      val got = compacted
        .select(col("id"), col("codes"), col("list"))
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSet
      assert(got === want)
      // the model fingerprint survives compaction: a validated append
      // still works, and RE-ADDING a previously-deleted id now serves
      Pq.ivfPqIncrement(compacted, df.filter(col("vec_id") === inList0.head),
          col("embedding"), col("vec_id"), cents, cb)
        .write.mode("append").partitionBy("list").parquet(dir)
      val q0 = df.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      val ids = Pq.ivfPqKnnOnIndexLive(spark.read.parquet(dir), cents, cb, q0,
          k = 200, nProbe = 3)
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(inList0.head), "re-added id must serve after compaction")
      assert(!ids.contains(inList0(1)) && !ids.contains(inList0(2)),
        "still-deleted ids must stay dead")
    } finally graft.streaming.StreamingRelational.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("ivfPqKnnBatch: every query's rows equal its single-query ivfPqKnnOnIndex answer") {
    val df = anchored(90)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    val cents = Array(Array.fill(8)(2.0), Array.fill(8)(12.0), Array.fill(8)(22.0))
    val index = Pq.ivfPqIndex(df, col("embedding"), col("vec_id"), cents, cb).persist()
    try {
      val qids = Seq(0L, 7L, 31L, 62L)
      val batch = Pq.ivfPqKnnBatch(index, df.filter(col("vec_id").isin(qids: _*)),
          col("embedding"), col("vec_id"), cents, cb, k = 6, nProbe = 2)
        .collect()
        .map(r => (r.getAs[Long]("qid"), (r.getAs[Long]("id"), r.getAs[Double]("adc_dist"), r.getAs[Int]("rk"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap
      assert(batch.keySet === qids.toSet)
      for (qid <- qids) {
        val q = df.filter(col("vec_id") === qid)
          .select(col("embedding")).head().getSeq[Double](0).toArray
        val single = Pq.ivfPqKnnOnIndex(index, cents, cb, q, k = 6, nProbe = 2)
          .collect().zipWithIndex
          .map { case (r, i) => (r.getLong(0), r.getDouble(1), i + 1) }.toSeq
        assert(batch(qid) === single, s"qid=$qid")
      }
    } finally index.unpersist()
  }

  test("ivfPqKnnRerank: full shortlist + all lists == exact brute-force L2 ranking") {
    val df = anchored(90)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 9, iters = 5)
    val cents = Array(Array.fill(8)(2.0), Array.fill(8)(12.0), Array.fill(8)(22.0))
    val index = Pq.ivfPqIndex(df, col("embedding"), col("vec_id"), cents, cb).persist()
    try {
      val qids = Seq(0L, 31L)
      val queries = df.filter(col("vec_id").isin(qids: _*))
      // shortlist = whole corpus, every list probed → the ADC stage
      // cannot drop anyone, so the re-rank must equal exact brute force
      val got = Pq.ivfPqKnnRerank(index, df, col("embedding"), col("vec_id"),
          queries, col("embedding"), col("vec_id"), cents, cb,
          k = 7, shortlist = 90, nProbe = 3)
        .collect()
        .map(r => (r.getAs[Long]("qid"), (r.getAs[Long]("id"), r.getAs[Double]("dist"), r.getAs[Int]("rk"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap
      for (qid <- qids) {
        val q = df.filter(col("vec_id") === qid)
          .select(col("embedding")).head().getSeq[Double](0).toArray
        val brute = df.select(col("vec_id"),
            round(graft.expressions.VectorOps.squaredDistance(
              col("embedding"), lit(q.toIndexedSeq.toArray)) + lit(1e-9), 4).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(7)
          .collect().zipWithIndex
          .map { case (r, i) => (r.getLong(0), r.getDouble(1), i + 1) }.toSeq
        assert(got(qid) === brute, s"qid=$qid")
      }
      // a too-small shortlist is a contract violation, not silence
      intercept[IllegalArgumentException] {
        Pq.ivfPqKnnRerank(index, df, col("embedding"), col("vec_id"), queries,
          col("embedding"), col("vec_id"), cents, cb, k = 7, shortlist = 3)
      }
    } finally index.unpersist()
  }

  test("pqAdcDirect == adcLut + lookup, bit-identical, over 200 randomized trials") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rng = new scala.util.Random(99)
    for (trial <- 0 until 200) {
      val m = 1 + rng.nextInt(4)
      val sub = 1 + rng.nextInt(5)
      val k = 1 + rng.nextInt(8)
      val cb = Array.fill(m, k, sub)(rng.nextGaussian() * 10)
      val q = Array.fill(m * sub)(rng.nextGaussian() * 10)
      val codes = Array.fill(m)(rng.nextInt(k))
      val lut = Pq.adcLut(cb, q)
      var viaLut = 0.0
      for (j <- 0 until m) viaLut += lut(j)(codes(j))
      val direct = graft.expressions.PqOpsImpl.pqAdcDirect(
        new GenericArrayData(codes), new GenericArrayData(q), cb)
      assert(java.lang.Double.doubleToRawLongBits(direct)
        === java.lang.Double.doubleToRawLongBits(viaLut), s"trial $trial")
    }
  }

  test("nearestLists == probeLists over randomized centroids incl. ties and NaN queries") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 200) {
      val dim = 1 + rng.nextInt(6)
      val n = 1 + rng.nextInt(10)
      val cents = Array.fill(n)(Array.fill(dim)(rng.nextInt(3).toDouble)) // small ints → ties
      val q = Array.fill(dim)(rng.nextInt(3).toDouble)
      if (trial % 5 == 0) q(rng.nextInt(dim)) = Double.NaN // NaN coordinate
      val nProbe = 1 + rng.nextInt(n + 1)
      val got = graft.expressions.VectorOpsImpl
        .nearestLists(new GenericArrayData(q), cents, nProbe).toIntArray.toSeq
      assert(got === graft.expressions.NearestOracle.ranked(q, 0, cents).take(nProbe).map(_._2),
        s"trial $trial")
    }
  }

  /** anchored(n) plus row 1000, whose first coordinate is NaN */
  private def withNaNRow(n: Int) =
    anchored(n).union(Seq((1000L, Seq(Double.NaN) ++ Seq.fill(7)(1.0))).toDF("vec_id", "embedding"))

  test("train finishes on a sample with a NaN coordinate") {
    val cb = Pq.train(withNaNRow(30), col("embedding"), col("vec_id"), m = 2, k = 4, iters = 3)
    assert(cb.length === 2 && cb.forall(_.length === 4))
  }

  test("pq_encode then pq_adc finish on a row with a NaN coordinate") {
    val cb = Pq.train(anchored(30), col("embedding"), col("vec_id"), m = 2, k = 4, iters = 3)
    val lut = Pq.adcLut(cb, Array.tabulate(8)(_.toDouble))
    val got = Pq.encode(withNaNRow(30), col("embedding"), col("vec_id"), cb)
      .filter(col("id") === 1000L)
      .select(col("codes"), graft.expressions.PqOps.pqAdc(col("codes"), lut))
      .collect()
    assert(got.length === 1)
    // the NaN subspace goes to codeword 0, never -1
    assert(got(0).getSeq[Int](0).head === 0)
  }

  test("adc lut + kernel equal driver-side table lookups") {
    val df = anchored(30)
    val cb = Pq.train(df, col("embedding"), col("vec_id"), m = 2, k = 4, iters = 2)
    val q = Array.tabulate(8)(_.toDouble)
    val lut = Pq.adcLut(cb, q)
    val viaKernel = Pq.encode(df, col("embedding"), col("vec_id"), cb)
      .select(col("id"), graft.expressions.PqOps.pqAdc(col("codes"), lut).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val codes = Pq.encode(df, col("embedding"), col("vec_id"), cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    for ((id, cs) <- codes)
      assert(viaKernel(id) === cs.zipWithIndex.map { case (c, j) => lut(j)(c) }.sum)
  }
}
