package graft.model

import scala.collection.immutable.SortedMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Per-winner-node aggregated statistics for one micro-batch: the output
  * of the distributed assign+aggregate step and the input of the driver
  * update rule. Mirrors the reference's aggregateByKey value tuple
  * `(one-hot bmu2 votes, Σdist², Σx, n, ids)` (batchStreamModel.scala:66-78),
  * with the id set replaced by the count it is read through.
  *
  * @param votes     second-BMU node index → vote count, for the nodes
  *                  that drew a vote (node indices at assignment time)
  * @param errSum    Σ squared distance of the points this node won
  * @param vecSum    elementwise Σ of the winning points' feature vectors
  * @param count     number of points won
  * @param nAssigned what this batch adds to the winner's
  *                  [[Prototype.nAssigned]]: `count` less the winner's
  *                  re-wins of its own bootstrap point ([[SeedWatch]])
  */
final case class NodeStats(
    votes: SortedMap[Int, Long],
    errSum: Double,
    vecSum: Array[Double],
    count: Long,
    nAssigned: Long)

/** The bootstrap points the assign step must not count twice: node
  * index → seed point id for the (≤ 2) live bootstrap nodes. Each seed
  * point is counted at [[GngModel.init2Nodes]]; when the stream later
  * delivers it again and its own node wins it, the reference's id-set
  * union absorbed the duplicate, and this watch lets a plain count do
  * the same. A seed point won by any other node counts there as usual.
  */
final case class SeedWatch(nodeIdx: Array[Int], pointIds: Array[Long]) {
  /** True when point `id` is node `bmu`'s own, already counted, seed. */
  def hit(bmu: Int, id: Long): Boolean = {
    var k = 0
    while (k < nodeIdx.length) {
      if (nodeIdx(k) == bmu && pointIds(k) == id) return true
      k += 1
    }
    false
  }
}

object SeedWatch {
  val empty: SeedWatch = SeedWatch(Array.empty, Array.empty)
}

/** The evolving G-Stream graph: nodes (prototypes), aged edges, per-node
  * error and exponentially decayed weight — driver-held state, the
  * reference's `batchStreamModel` fields (batchStreamModel.scala:13-21)
  * with its parallel 0/1 adjacency and age matrices held as one edge
  * store.
  *
  * The graph is O(N + E) in memory and the driver update is
  * O((N + E) log N + stats) per batch; it never touches the distributed
  * data (SURVEY §7.4.8: points never reach the driver, only per-node
  * partials — see [[graft.operators.GngOps]] for their size).
  * Every per-node field is a fixed-size value, so the persisted form
  * ([[GngModel.toBytes]]) is bounded by model size, never by stream
  * length.
  *
  * Semantics ported from SURVEY.md §2.9 T2-T10 / §3.3 with the §7.4
  * decisions: canonical stats order (sorted by node index), monotonic
  * node ids, and no A5 (`upGlobalErrors`: its guard can never hold).
  */
final class GngModel(val params: GngParams, val dim: Int) extends Serializable {

  val nodes: ArrayBuffer[Prototype] = ArrayBuffer.empty
  val outdatedNodes: ArrayBuffer[Prototype] = ArrayBuffer.empty
  val isolatedNodes: ArrayBuffer[Prototype] = ArrayBuffer.empty
  /** The edge store: row i maps each neighbour of node i to that edge's
    * age, in ascending neighbour index (every first-max tie-break walks
    * it in that order). Symmetric, no self-loops; only [[link]] and
    * [[unlink]] add or drop an edge. */
  private val adj: ArrayBuffer[mutable.TreeMap[Int, Double]] = ArrayBuffer.empty
  val errors: ArrayBuffer[Double] = ArrayBuffer.empty
  val clusterWeights: ArrayBuffer[Double] = ArrayBuffer.empty

  private var nextId: Int = 0
  private def freshId(): Int = { nextId += 1; nextId }

  /** Bootstrap node id → its seed point id (≤ 2 entries, fixed at
    * [[init2Nodes]]); see [[SeedWatch]]. */
  private var seeds: Array[(Int, Long)] = Array.empty

  def nodeCount: Int = nodes.length

  /** Bootstrap: a 2-node graph from the first two points
    * (batchStream.scala:72-78 → batchStreamModel.scala:35-43). */
  def init2Nodes(p1: Point, p2: Point): this.type = {
    require(nodes.isEmpty, "model already initialized")
    nodes += Prototype(freshId(), p1.features.clone(), 1L)
    nodes += Prototype(freshId(), p2.features.clone(), 1L)
    seeds = Array(nodes(0).id -> p1.id, nodes(1).id -> p2.id)
    adj += mutable.TreeMap.empty += mutable.TreeMap.empty
    link(0, 1, 0.0)
    errors += 0.0 += 0.0
    clusterWeights += 1.0 += 1.0
    this
  }

  def centroids: Array[Array[Double]] = nodes.map(_.centroid).toArray

  /** The seed points of the bootstrap nodes still live, by current node
    * index — pass it with [[centroids]] to the assign step. */
  def seedWatch: SeedWatch = {
    val live = seeds.flatMap { case (nodeId, pointId) =>
      val i = nodes.indexWhere(_.id == nodeId)
      if (i >= 0) Some(i -> pointId) else None
    }
    SeedWatch(live.map(_._1), live.map(_._2))
  }

  /** Node i's neighbours → edge age, in ascending neighbour index. */
  def neighbours(i: Int): collection.SortedMap[Int, Double] = adj(i)

  /** Add edge i–j, or reset its age. */
  private[model] def link(i: Int, j: Int, age: Double): Unit = {
    adj(i)(j) = age; adj(j)(i) = age
  }

  private def unlink(i: Int, j: Int): Unit = { adj(i) -= j; adj(j) -= i }

  /** Neighborhood kernel — constant exp(-1/T) (reference `kNeighbor`,
    * batchStreamModel.scala:336-338; see SURVEY §7.4.5). */
  private def kNeighbor: Double = math.exp(-1.0 / params.temperature)

  /** One full micro-batch model update from collected stats.
    *
    * @param stats (winner node index, stats) pairs — any order; applied
    *              in ascending node-index order (canonical, §7.4.1)
    * @param kk    1-based non-empty-batch counter (reference `kk`)
    */
  def update(stats: Array[(Int, NodeStats)], kk: Int): Unit = {
    val nbNodesPre = nodes.length // pre-update capture (batchStreamModel.scala:73)
    updateRule(stats)
    removeOldEdges()
    removeIsolatedNodes()
    // A5 (upGlobalErrors) is omitted: its guard can never hold (SURVEY §7.4.3)
    if (kk % params.fadeEvery == 0 && nbNodesPre > params.fadeMinNodes) fading()
    removeIsolatedNodes()
    if (kk % params.growEvery == 0 && nbNodesPre <= params.maxNodes)
      (0 until params.nbNodesToAdd).foreach(_ => addNewNode())
    var i = 0
    while (i < errors.length) { errors(i) *= params.errorDecay; i += 1 } // T10
  }

  /** One G-Stream training step over a batch's assigned stats, the
    * driver half of the reference's `foreachRDD` body
    * (batchStream.scala:86-93): a batch that assigned no point leaves
    * the model and `kk` alone (the P4 empty-batch guard, :87); any
    * other batch advances `kk` and runs [[update]] at the new value.
    *
    * @param kk the 1-based non-empty-batch counter before this batch
    * @return the counter after it
    */
  def step(stats: Array[(Int, NodeStats)], kk: Int): Int =
    if (stats.isEmpty) kk else { update(stats, kk + 1); kk + 1 }

  /** T3-T5 + A3/A4: decay, edge aging, centroid move, vote-based edge
    * creation (batchStreamModel.scala:142-208). */
  private def updateRule(stats: Array[(Int, NodeStats)]): Unit = {
    // T3 weight decay over ALL nodes, before applying stats (:144-146)
    var i = 0
    while (i < clusterWeights.length) { clusterWeights(i) *= params.decayFactor; i += 1 }

    val statsMap: Map[Int, NodeStats] = stats.toMap
    for ((s1, st) <- stats.sortBy(_._1) if s1 < nodes.length) {
      // T4: age the winner's incident edges (symmetric, :151-160)
      for ((j, age) <- adj(s1).toList) link(s1, j, age * params.lambdaAge + 1.0)
      // A3: weighted centroid update (:165-192); neighbor term only when
      // voisinage > 0 (off by default — kNeighbor is then unused)
      val w = clusterWeights(s1)
      val old = nodes(s1).centroid
      val num = new Array[Double](dim)
      var d = 0
      while (d < dim) { num(d) = w * old(d) + st.vecSum(d); d += 1 }
      var den = w + st.count.toDouble
      if (params.voisinage > 0) {
        for (f <- adj(s1).keys; fst <- statsMap.get(f)) {
          d = 0
          while (d < dim) { num(d) += kNeighbor * fst.vecSum(d); d += 1 }
          den += kNeighbor * fst.count.toDouble
        }
      }
      val denSafe = math.max(den, 1e-16)
      val cent = new Array[Double](dim)
      d = 0
      while (d < dim) { cent(d) = num(d) / denSafe; d += 1 }
      nodes(s1) = nodes(s1).copy(
        centroid = cent,
        nAssigned = nodes(s1).nAssigned + st.nAssigned) // U1 (:163)
      clusterWeights(s1) += st.count.toDouble
      errors(s1) += st.errSum // A4 (:205)

      // T5: link s1 to the vote-winning second BMU, age 0 (:195-202);
      // first-max-wins tie-break over the reference's dense vote vector
      // (Scala maxBy semantics): the lowest index wins a tie, and node 0
      // wins when no in-range node drew a vote
      if (st.count > 0) {
        var bmu2 = 0
        var best = 0L
        for ((j, c) <- st.votes.rangeUntil(nodes.length)) if (c > best) { best = c; bmu2 = j }
        if (bmu2 != s1) link(s1, bmu2, 0.0)
      }
    }
  }

  /** T6: expire edges older than maxAge (batchStreamModel.scala:211-225). */
  private def removeOldEdges(): Unit =
    for ((i, j, age) <- edgeList if age > params.maxAge) unlink(i, j)

  /** T7: drop nodes with no incident edges; archive to isolatedNodes;
    * shrink all parallel structures (batchStreamModel.scala:228-251). */
  private def removeIsolatedNodes(): Unit = {
    var i = nodes.length - 1
    while (i >= 0) {
      if (adj(i).isEmpty) {
        isolatedNodes += nodes(i)
        removeNodeAt(i)
      }
      i -= 1
    }
  }

  /** T8: evict THE single min-weight node if its weight undercuts
    * minWeight; archive to outdatedNodes (batchStreamModel.scala:309-327). */
  private def fading(): Unit = {
    if (nodes.isEmpty) return
    var minI = 0
    var i = 1
    while (i < clusterWeights.length) {
      if (clusterWeights(i) < clusterWeights(minI)) minI = i
      i += 1
    }
    if (clusterWeights(minI) < params.minWeight) {
      outdatedNodes += nodes(minI)
      removeNodeAt(minI)
    }
  }

  /** T9: insert one node at the midpoint of the max-error node q and its
    * max-error neighbor f; rewire q–r, r–f, drop q–f; scale both errors
    * by alphaErr; new error = e_q + e_f post-scale
    * (batchStreamModel.scala:263-306). */
  private def addNewNode(): Unit = {
    if (nodes.length < 2) return
    // q = argmax error (first max, as indexOf(max))
    var q = 0
    var i = 1
    while (i < errors.length) { if (errors(i) > errors(q)) q = i; i += 1 }
    if (adj(q).isEmpty) return
    // f = argmax error among q's neighbors (first max)
    var f = adj(q).firstKey
    for (j <- adj(q).keys) if (errors(j) > errors(f)) f = j
    val mid = new Array[Double](dim)
    var d = 0
    while (d < dim) { mid(d) = (nodes(q).centroid(d) + nodes(f).centroid(d)) / 2.0; d += 1 }
    val r = nodes.length
    appendNode(Prototype(freshId(), mid, 0L), weight = 0.0)
    // rewire: q–r, r–f created (age 0); q–f dropped
    link(q, r, 0.0)
    link(f, r, 0.0)
    unlink(q, f)
    errors(q) *= params.alphaErr
    errors(f) *= params.alphaErr
    errors(r) = errors(q) + errors(f)
  }

  /** Grow all structures by one node (reference `addElementLast`,
    * batchStreamModel.scala:347-365). */
  private def appendNode(p: Prototype, weight: Double): Unit = {
    nodes += p
    adj += mutable.TreeMap.empty
    errors += 0.0
    clusterWeights += weight
  }

  /** Delete node i from all structures, shifting the nodes above it
    * down one index (reference `removeLineCol`,
    * batchStreamModel.scala:369-381). */
  private def removeNodeAt(i: Int): Unit = {
    for (j <- adj(i).keys.toList) unlink(i, j)
    nodes.remove(i)
    adj.remove(i)
    for (k <- adj.indices if adj(k).nonEmpty && adj(k).lastKey > i)
      adj(k) = adj(k).map { case (j, age) => (if (j > i) j - 1 else j) -> age }
    errors.remove(i)
    clusterWeights.remove(i)
  }

  // ---- snapshot renderers (reference on-disk format, batchStream.scala:97-101)
  def prototypeLines: Seq[String] = nodes.map(_.centroidString).toSeq
  def outdatedLines: Seq[String] = outdatedNodes.map(_.centroidString).toSeq
  // reference-exact: batchStream.scala:99 writes each adjacency row via
  // ArrayBuffer.toString, so the golden dirs (conf/test/results/DS1-200-3/
  // Edges-92/part-00000) read `ArrayBuffer(0, 1, ...)` — byte-matching
  // them keeps new snapshot dirs drop-in diffable against old ones
  def edgeLines: Seq[String] = adj.map { row =>
    nodes.indices.map(j => if (row.contains(j)) 1 else 0).mkString("ArrayBuffer(", ", ", ")")
  }.toSeq
  def weightLines: Seq[String] = clusterWeights.map(_.toString).toSeq

  /** Idiomatic snapshot: each edge once as (srcIdx, dstIdx, age) with
    * srcIdx < dstIdx, in ascending (srcIdx, dstIdx) order — avoids the
    * O(N²) text rows at scale (SURVEY §1.4). */
  def edgeList: Seq[(Int, Int, Double)] =
    for (i <- adj.indices; (j, age) <- adj(i).rangeFrom(i + 1)) yield (i, j, age)
}

object GngModel {

  /** The bootstrap rule every training path shares: a 2-node model
    * from the two lowest-id points (the reference's `initModelObj`,
    * batchStream.scala:72-78). Equal ids keep their input order. */
  def bootstrap(points: Iterable[Point], params: GngParams): GngModel = {
    val first2 = points.toSeq.sortBy(_.id).take(2)
    require(first2.length == 2, "need at least 2 points to bootstrap")
    new GngModel(params, first2(0).features.length).init2Nodes(first2(0), first2(1))
  }

  /** "GNGS" — the first word of every model recovery point. */
  private val Magic = 0x474e4753
  /** Layout version; bump it with every change to [[write]]/[[read]].
    * Files without a [[Stamp]] keep the version-1 layout. */
  private val Version = 2

  /** The streaming batch a recovery point holds: the query id (kept in
    * its checkpoint) and the foreachBatch batch id within that query. */
  final case class Stamp(query: java.util.UUID, batchId: Long)

  /** Training-loop recovery point: the model PLUS the 1-based non-empty
    * batch counter `kk`, in ONE file so the pair can never tear. kk is
    * loop state, not model state — but fading (kk % 3), the snapshot
    * cadence, and node insertion all key off it, so a restart that
    * reset kk to 0 would silently diverge from the never-killed run
    * (the restart spec asserts the two runs end bit-identical). The
    * payload is [[toBytes]]'s layout. */
  def saveState(path: java.nio.file.Path, model: GngModel, kk: Int): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path)))
    try write(model, kk, None, out) finally out.close()
  }

  /** Inverse of [[saveState]] → (model, kk). A file in any other layout
    * (a foreign or older format, a truncated or padded payload) fails
    * with an IllegalArgumentException naming the path. */
  def loadState(path: java.nio.file.Path): (GngModel, Int) =
    loadStamped(path) match { case (m, kk, _) => (m, kk) }

  /** [[loadState]] plus the file's [[Stamp]]; None for an unstamped
    * (version 1) file. */
  def loadStamped(path: java.nio.file.Path): (GngModel, Int, Option[Stamp]) = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(path)))
    try read(in, path.toString, java.nio.file.Files.size(path)) finally in.close()
  }

  /** The versioned primitive layout of (model, kk), all big-endian:
    * {{{
    * magic:i32 version:i32 kk:i32
    * stamp:     query:i64*2 batchId:i64            version 2 only
    * params dim:i32 nextId:i32
    * seeds:     n:i32 (nodeId:i32 pointId:i64)*n
    * nodes:     n:i32 (id:i32 centroid:f64*dim nAssigned:i64)*n
    * outdated:  the same shape
    * isolated:  the same shape
    * edges:     e:i32 (i:i32 j:i32 age:f64)*e     i < j, upper triangle
    * errors:    f64 * nodes
    * weights:   f64 * nodes
    * }}}
    * `params` is GngParams' fields in declaration order (f64 or i32).
    * Size: 144 bytes of header (with both bootstrap seeds), 24 more with
    * a stamp, 8·(dim+3)+4 per live node, 16 per edge and 8·(dim+1)+4 per
    * archived node — the model's size, not the stream's. The round trip
    * is bit-identical. */
  def toBytes(model: GngModel, kk: Int, stamp: Option[Stamp] = None): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    write(model, kk, stamp, out)
    out.flush()
    bos.toByteArray
  }

  /** Inverse of [[toBytes]] → (model, kk); rejects foreign bytes like
    * [[loadState]]. */
  def fromBytes(bytes: Array[Byte]): (GngModel, Int) =
    read(new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes)),
      "model bytes", bytes.length.toLong) match { case (m, kk, _) => (m, kk) }

  private def write(m: GngModel, kk: Int, stamp: Option[Stamp],
      out: java.io.DataOutputStream): Unit = {
    out.writeInt(Magic); out.writeInt(if (stamp.isEmpty) 1 else Version); out.writeInt(kk)
    for (st <- stamp) {
      out.writeLong(st.query.getMostSignificantBits)
      out.writeLong(st.query.getLeastSignificantBits)
      out.writeLong(st.batchId)
    }
    val p = m.params
    out.writeDouble(p.decayFactor); out.writeDouble(p.lambdaAge)
    out.writeDouble(p.maxAge); out.writeInt(p.nbNodesToAdd)
    out.writeDouble(p.minWeight); out.writeDouble(p.alphaErr)
    out.writeDouble(p.errorDecay); out.writeInt(p.voisinage)
    out.writeDouble(p.temperature); out.writeInt(p.fadeEvery)
    out.writeInt(p.fadeMinNodes); out.writeInt(p.growEvery)
    out.writeInt(p.maxNodes)
    out.writeInt(m.dim); out.writeInt(m.nextId)
    out.writeInt(m.seeds.length)
    for ((nodeId, pointId) <- m.seeds) { out.writeInt(nodeId); out.writeLong(pointId) }
    for (group <- Seq(m.nodes, m.outdatedNodes, m.isolatedNodes)) {
      out.writeInt(group.length)
      for (n <- group) {
        out.writeInt(n.id)
        n.centroid.foreach(out.writeDouble)
        out.writeLong(n.nAssigned)
      }
    }
    val edges = m.edgeList
    out.writeInt(edges.length)
    for ((i, j, age) <- edges) { out.writeInt(i); out.writeInt(j); out.writeDouble(age) }
    m.errors.foreach(out.writeDouble)
    m.clusterWeights.foreach(out.writeDouble)
  }

  private def read(in: java.io.DataInputStream, source: String, size: Long) = {
    var found = "no version"
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"$source: $what; found $found, this build reads G-Stream recovery point versions 1 to $Version")
    // a count is plausible only if its items fit in the payload — a
    // corrupt count fails here instead of allocating gigabytes
    def count(what: String, itemBytes: Long): Int = {
      val n = in.readInt()
      if (n < 0 || n * itemBytes > size) fail(s"implausible $what count $n")
      n
    }
    try {
      val magic = in.readInt()
      if (magic != Magic) fail(f"not a G-Stream recovery point (magic 0x$magic%08x)")
      val version = in.readInt()
      found = s"version $version"
      if (version < 1 || version > Version) fail("unknown layout version")
      val kk = in.readInt()
      val stamp =
        if (version == 1) None
        else Some(Stamp(new java.util.UUID(in.readLong(), in.readLong()), in.readLong()))
      val params = GngParams(
        decayFactor = in.readDouble(), lambdaAge = in.readDouble(),
        maxAge = in.readDouble(), nbNodesToAdd = in.readInt(),
        minWeight = in.readDouble(), alphaErr = in.readDouble(),
        errorDecay = in.readDouble(), voisinage = in.readInt(),
        temperature = in.readDouble(), fadeEvery = in.readInt(),
        fadeMinNodes = in.readInt(), growEvery = in.readInt(),
        maxNodes = in.readInt())
      val dim = count("dimension", 8)
      val m = new GngModel(params, dim)
      m.nextId = in.readInt()
      m.seeds = Array.fill(count("seed", 12))(in.readInt() -> in.readLong())
      for (group <- Seq(m.nodes, m.outdatedNodes, m.isolatedNodes)) {
        val n = count("node", 12L + 8L * dim)
        for (_ <- 0 until n)
          group += Prototype(in.readInt(), Array.fill(dim)(in.readDouble()), in.readLong())
      }
      val n = m.nodes.length
      for (_ <- 0 until n) m.adj += mutable.TreeMap.empty
      for (_ <- 0 until count("edge", 16)) {
        val i = in.readInt()
        val j = in.readInt()
        val age = in.readDouble()
        if (i < 0 || i >= j || j >= n) fail(s"edge ($i, $j) outside the upper triangle of $n nodes")
        m.link(i, j, age)
      }
      for (_ <- 0 until n) m.errors += in.readDouble()
      for (_ <- 0 until n) m.clusterWeights += in.readDouble()
      if (in.read() != -1) fail("trailing bytes after the model")
      (m, kk, stamp)
    } catch {
      case _: java.io.EOFException => fail("truncated payload")
    }
  }
}
