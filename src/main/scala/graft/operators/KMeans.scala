package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.VectorOps
import graft.functions.VectorFunctions.asDouble

/** Distributed k-means (Lloyd's) over an embedding column — the
  * full-data training path for coarse quantizers and codebooks.
  * [[Pq.train]]'s driver-side bounded sample is the honest shape when a
  * representative sample suffices; THIS is the shape when the codebook
  * must see the whole corpus: nothing data-sized ever reaches the
  * driver.
  *
  * Scale shape, per iteration:
  *  - ASSIGN: one codegen'd narrow pass — the [[VectorOps.nearestCentroid]]
  *    kernel with the centroid matrix as a plan constant (addReferenceObj);
  *    no join, no shuffle, whole-stage codegen.
  *  - UPDATE: per-(cluster, dim) partial+final average over the
  *    posexploded vectors — the shuffle carries ~k·d pre-combined rows
  *    per map partition, and exactly k·d means + k counts reach the
  *    driver per round (k=1000, d=64 → 512 KB).
  *  - Intermediate centroids round half-up to 4 decimals — the
  *    bit-portable `floor(x·1e4+0.5)` contract (gng_prototypes
  *    precedent) — so a re-run, or another engine re-deriving the
  *    round as the v19 oracle does, lands on identical constants
  *    instead of drifting by summation-order ulps.
  *
  * Seeds are the k lowest-id vectors (k rows to the driver — the same
  * deterministic init family as [[Pq.train]]'s first-k-distinct).
  * Empty clusters keep their previous centroid. Assignment ties break
  * to the lowest cluster index ([[graft.expressions.Nearest]]'s order).
  */
object KMeans {

  /** Trained state: `centroids(c)` after the final round; `counts(c)` =
    * cluster size in the final assignment pass (0 for empty clusters). */
  final case class Model(centroids: Array[Array[Double]], counts: Array[Long])

  /** CORPUS-DERIVED k: clusters sized for a bounded quadratic.
    * `ceil(n / targetClusterSize)` clamped to [kMin, kMax] — the
    * [[RangeLayout]] trainBounds discipline (derive the constant from a
    * cheap `count()`, never hardcode it), applied to blocking k-means.
    * The expected cluster size stays ≤ `targetClusterSize` until
    * kMax·targetClusterSize rows (~4M at the defaults); past that the
    * seeds would outgrow the driver/plan-constant budget (kMax=4096 ×
    * 64 dims ≈ 2 MB), so callers whose downstream cost is quadratic in
    * the cluster size MUST split further — [[SemDedup.prefixBits]] is
    * that continuation. */
  def deriveK(n: Long, targetClusterSize: Long = 1024L,
      kMin: Int = 8, kMax: Int = 4096): Int = {
    require(targetClusterSize > 0 && kMin > 0 && kMax >= kMin,
      s"deriveK: bad bounds ($targetClusterSize, $kMin, $kMax)")
    val want = (n + targetClusterSize - 1) / targetClusterSize
    math.min(math.max(want, kMin.toLong), kMax.toLong).toInt
  }

  /** Deterministic init: the k lowest-id vectors, as doubles. */
  def seeds(df: DataFrame, vecCol: Column, idCol: Column, k: Int): Array[Array[Double]] = {
    require(k > 0, s"k must be positive: $k")
    val s = df.orderBy(idCol).limit(k).select(asDouble(vecCol).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(s.length == k, s"k-means seeds: asked for $k, corpus has ${s.length}")
    s
  }

  /** ONE Lloyd round as a DataFrame: assign every vector to its nearest
    * centroid (codegen kernel, centroids as plan constants), then the
    * per-(cluster, pos) mean and cluster size via partial+final
    * aggregation. The vectors aggregate WHOLE through the custom
    * [[graft.expressions.VectorSum]] buffer — the shuffle carries one
    * (cluster, d-vector) row per map partition, and the pos explode
    * happens on the k aggregated rows, never the corpus (a
    * posexplode-first pipeline pushes d× the corpus rows through the
    * partial aggregate). Output: (cluster INT, pos INT, m DOUBLE,
    * n BIGINT) — rows exist only for non-empty clusters. */
  def assignStats(df: DataFrame, vecCol: Column,
      cents: Array[Array[Double]]): DataFrame =
    df.select(VectorOps.nearestCentroid(asDouble(vecCol), cents).as("cluster"),
        asDouble(vecCol).as("v"))
      .groupBy(col("cluster"))
      .agg(graft.expressions.VectorAgg.vecSum(col("v")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cluster"), col("n"), posexplode(col("s")).as(Seq("pos", "x")))
      .select(col("cluster"), col("pos"), (col("x") / col("n")).as("m"), col("n"))

  /** Full distributed training loop: `iters` assign+update rounds from
    * the lowest-id seeds. Per round only the k·d (cluster, pos, mean)
    * rows are collected. */
  def fit(df: DataFrame, vecCol: Column, idCol: Column, k: Int,
      iters: Int): Model = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    var cents = seeds(df, vecCol, idCol, k)
    var counts = new Array[Long](k)
    for (_ <- 1 to iters) {
      val stats = assignStats(df, vecCol, cents).collect()
      val next = cents.map(_.clone())
      counts = new Array[Long](k)
      stats.foreach { r =>
        val c = r.getAs[Int]("cluster")
        next(c)(r.getAs[Int]("pos")) = round4(r.getAs[Double]("m"))
        counts(c) = r.getAs[Long]("n")
      }
      cents = next
    }
    Model(cents, counts)
  }

  /** Half-up 4-decimal rounding, bit-portable across engines:
    * `floor(x·1e4+0.5)/1e4` ⇔ the same SQL expression. */
  def round4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
}
