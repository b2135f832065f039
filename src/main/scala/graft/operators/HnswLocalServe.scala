package graft.operators

import scala.collection.mutable.LongMap

import org.apache.spark.sql.DataFrame

/** Driver-side per-request HNSW serving runtime.
  *
  * The distributed walk (HnswIndex.visitedStates) runs one Spark job
  * per hop, about 7 sequential job launches per request. Online ANN
  * serving wants a separate runtime instead (the reference serves
  * from chroma's in-process HNSW). This class is that runtime: the persisted index artifacts (the
  * M-degree-bounded edge table, the LSH seed buckets and the node
  * vectors) are collected once, and each request is driver compute
  * with zero job launches.
  *
  * Structures, all primitive on the request path:
  *  - vectors: a `vec_id → slot` LongMap over flat `vecs` (the
  *    vectors) and `norms` (their L2 norms);
  *  - adjacency: per layer, a LongMap from src to its out-neighbors;
  *  - seed buckets: a LongMap keyed by `(table << 48) | bucket`, the
  *    layout the hybrid directory uses.
  *
  * Each request keeps its own [[HnswLocalServer.IdTable]]: the memo of
  * unrounded cosines, so every vector is dotted once per request however
  * many hops reach it, plus the per-pass dedup and the visited set.
  * Candidates go straight from it into a [[LocalServe.TopK]].
  *
  * Scale: the edge table and bucket directory stay metadata-sized at
  * any corpus, but holding every node vector in-heap does not (at
  * 100 TB the vectors would be paged by vec_id from a KV or object
  * store; the walk touches only O(hops·beam·M) vectors per request,
  * so the access pattern is point-lookup-friendly). The distributed
  * path remains the batch contract; hg2/hg3's registry rows run it.
  *
  * Parity is bit-exact with the distributed walk, pinned by
  * HnswLocalServeSpec: the same sequential double fold as Vec.dot,
  * the same HALF_UP round(_, 6) Spark's Round applies, the same
  * (score desc, vec_id asc) tie-breaks, the same seed/descent/beam
  * schedule, so recall is identical by construction.
  */
final class HnswLocalServer(
    layerAdj: Array[LongMap[Array[Long]]],   // index = layer
    slots: LongMap[Int],                     // vec_id -> slot
    vecs: Array[Array[Float]], norms: Array[Double],
    buckets: LongMap[Array[Long]],           // (table << 48) | bucket
    private[operators] val w: Array[Array[Array[Double]]],
    // (level, vec_id); None = empty shard
    private[operators] val entryPoint: Option[(Int, Long)],
    private[operators] val maxLevel: Int, probes: Int,
    private[operators] val beam: Int, private[operators] val hopsUpper: Int,
    private[operators] val hopsZero: Int, private[operators] val k: Int)
    extends Serializable {

  // masks with <= probes bits set: the multi-probe expansion
  // (VectorSearch.knnLshRpMultiProbeFrom's query-side xor set) —
  // shared combination enumeration, never a 2^bits scan (16M
  // iterations at the 24-bit adaptive-width cap)
  private[operators] val probeMasks: Array[Long] =
    VectorSearch.probeMasks(w(0).length, probes).toArray

  // ---- shard-facing surface (HnswLocalServer.walk): owner-scoped
  // point lookups. Each answers only for keys THIS shard owns (its
  // vectors, its nodes' adjacency rows, its vectors' bucket entries),
  // so a fleet-wide union is exactly the single-node structure, and
  // every score is computed by the one shard owning that vector, with
  // the identical dot fold, so merges are order-independent.

  /** The slot of `id`'s vector, or -1 when this shard does not own it. */
  private[operators] def slot(id: Long): Int = slots.getOrElse(id, -1)

  /** UNROUNDED cosine of `qv` (norm `qn`) against the vector in `slot`. */
  private[operators] def cosineAt(slot: Int, qv: Array[Float], qn: Double): Double =
    LocalServe.dot(qv, vecs(slot)) / (qn * norms(slot))

  /** Layer-`layer` out-neighbors of `id`, or null when this shard does
    * not own `id`'s adjacency row (its owner answers). */
  private[operators] def neighborsOwned(id: Long, layer: Int): Array[Long] =
    layerAdj(layer).getOrNull(id)

  /** Members of the LSH bucket `key` = `(table << 48) | bucket` among
    * this shard's vectors, or null when it has none. */
  private[operators] def bucketMembersOwned(key: Long): Array[Long] =
    buckets.getOrNull(key)

  /** Serve one request: top-k (vec_id, score, rnk) for `qv` — the
    * exact result hg2's distributed walk produces for this query. */
  def search(qv: Array[Float]): Array[(Long, Double, Int)] = {
    require(entryPoint.nonEmpty,
      "HnswLocalServer: cannot serve from an empty corpus")
    HnswLocalServer.walk(Array(this), entryPoint.get._2, qv)
  }
}

object HnswLocalServer {
  import LocalServe.{dot, round, TopK}

  /** One request's vec_id table: open addressing with linear probing
    * on primitive arrays, for any Long id, doubling at half load. For
    * each id it holds the memo of its unrounded cosine, the number of
    * the last pass that offered it (a pass's dedup) and whether the
    * walk visited it. `apply` finds or inserts an id and returns its
    * index, which stays valid until the next insert. */
  final class IdTable(initialCapacity: Int = 256) {
    require(Integer.bitCount(initialCapacity) == 1 && initialCapacity >= 2,
      s"IdTable capacity must be a power of two >= 2, got $initialCapacity")
    private var keys = new Array[Long](initialCapacity)
    private var flags = new Array[Byte](initialCapacity) // Used | Scored | Visited
    private var cosines = new Array[Double](initialCapacity)
    private var passes = new Array[Int](initialCapacity)
    private var shift = 64 - Integer.numberOfTrailingZeros(initialCapacity)
    private var n = 0

    def size: Int = n

    private def home(id: Long): Int = ((id * 0x9E3779B97F4A7C15L) >>> shift).toInt

    def apply(id: Long): Int = {
      var i = home(id)
      while ((flags(i) & IdTable.Used) != 0 && keys(i) != id) i = (i + 1) & (keys.length - 1)
      if ((flags(i) & IdTable.Used) != 0) i
      else if (2 * (n + 1) > keys.length) { grow(); apply(id) }
      else { keys(i) = id; flags(i) = IdTable.Used; n += 1; i }
    }

    private def grow(): Unit = {
      val (k0, f0, c0, p0) = (keys, flags, cosines, passes)
      keys = new Array[Long](2 * k0.length)
      flags = new Array[Byte](2 * k0.length)
      cosines = new Array[Double](2 * k0.length)
      passes = new Array[Int](2 * k0.length)
      shift -= 1
      var j = 0
      while (j < k0.length) {
        if ((f0(j) & IdTable.Used) != 0) {
          var i = home(k0(j))
          while ((flags(i) & IdTable.Used) != 0) i = (i + 1) & (keys.length - 1)
          keys(i) = k0(j); flags(i) = f0(j); cosines(i) = c0(j); passes(i) = p0(j)
        }
        j += 1
      }
    }

    def key(i: Int): Long = keys(i)
    def scored(i: Int): Boolean = (flags(i) & IdTable.Scored) != 0
    def cosine(i: Int): Double = cosines(i)
    def setCosine(i: Int, c: Double): Unit = {
      cosines(i) = c; flags(i) = (flags(i) | IdTable.Scored).toByte
    }
    def pass(i: Int): Int = passes(i)
    def setPass(i: Int, p: Int): Unit = passes(i) = p
    def visit(i: Int): Unit = flags(i) = (flags(i) | IdTable.Visited).toByte

    /** The visited ids, in table order. */
    def visitedIds(): Array[Long] = {
      val b = Array.newBuilder[Long]
      var i = 0
      while (i < keys.length) {
        if ((flags(i) & IdTable.Visited) != 0) b += keys(i)
        i += 1
      }
      b.result()
    }
  }

  private object IdTable {
    val Used: Byte = 1
    val Scored: Byte = 2
    val Visited: Byte = 4
  }

  /** One request's walk state over a fleet: the query, its norm, its
    * [[IdTable]] and the current pass number. */
  private final class Walk(shards: Array[HnswLocalServer], qv: Array[Float]) {
    private val qn = math.sqrt(dot(qv, qv))
    private val seen = new IdTable
    private var pass = 0

    // the unrounded cosine of `id`, from the one shard owning its vector
    private def score(id: Long): Double = {
      var j = 0
      while (j < shards.length) {
        val sl = shards(j).slot(id)
        if (sl >= 0) return shards(j).cosineAt(sl, qv, qn)
        j += 1
      }
      throw new IllegalStateException(s"HNSW artifact: vec_id $id " +
        "is reachable through an edge or bucket but no shard holds its vector")
    }

    /** Offer `id` to `top` once per pass, at its memoized cosine
      * (round6 when `rounded`). */
    private def offer(id: Long, top: TopK, rounded: Boolean): Unit = {
      val i = seen(id)
      if (seen.pass(i) != pass) {
        seen.setPass(i, pass)
        if (!seen.scored(i)) seen.setCosine(i, score(id))
        val c = seen.cosine(i)
        top.offer(id, if (rounded) round(c, 6) else c)
      }
    }

    /** HnswIndex.step: the top-`width` of {cursors} ∪ {their layer-
      * `layer` neighbors} by round6(cosine), (score desc, vec_id asc). */
    def step(cur: Array[Long], layer: Int, width: Int): TopK = {
      pass += 1
      val top = new TopK(width)
      var i = 0
      while (i < cur.length) {
        offer(cur(i), top, rounded = true)
        var j = 0
        while (j < shards.length) {
          val nb = shards(j).neighborsOwned(cur(i), layer)
          if (nb != null) {
            var m = 0
            while (m < nb.length) { offer(nb(m), top, rounded = true); m += 1 }
          }
          j += 1
        }
        i += 1
      }
      top
    }

    /** LSH seeds: the query's top-`beam` over the multi-probed buckets
      * on the UNROUNDED score, knnLshRpMultiProbeFrom's semantics. */
    def seeds(): Array[Long] = {
      pass += 1
      val s = shards(0)
      val top = new TopK(s.beam)
      var t = 0
      while (t < s.w.length) {
        val b0 = LocalServe.signBucket(s.w(t), qv)
        var m = 0
        while (m < s.probeMasks.length) {
          val key = (t.toLong << 48) | (b0 ^ s.probeMasks(m))
          var j = 0
          while (j < shards.length) {
            val members = shards(j).bucketMembersOwned(key)
            if (members != null) {
              var i = 0
              while (i < members.length) { offer(members(i), top, rounded = false); i += 1 }
            }
            j += 1
          }
          m += 1
        }
        t += 1
      }
      top.keptIds()
    }

    def visit(ids: Array[Long]): Unit = {
      var i = 0
      while (i < ids.length) { seen.visit(seen(ids(i))); i += 1 }
    }

    def visited(): Array[Long] = seen.visitedIds()
  }

  /** The HNSW request path over a fleet (one shard for a single node):
    * the HnswIndex schedule — greedy width-1 descent of the upper
    * layers, LSH seeds unioned into the layer-0 beam, `hopsZero` beam
    * steps, then the top-k of visited ∪ their layer-0 neighbors.
    * Adjacency comes from each cursor's owner shard and every cosine
    * from its vector's owner, so the result is placement-independent;
    * a candidate no shard can score (an edge or bucket naming an
    * absent vec_id) fails the request. The schedule and planes are
    * replicated, so the first shard's copy is every shard's. */
  private[operators] def walk(shards: Array[HnswLocalServer], entry: Long,
                              qv: Array[Float]): Array[(Long, Double, Int)] = {
    val s = shards(0)
    val r = new Walk(shards, qv)
    var cur = Array(entry)
    var l = s.maxLevel
    while (l >= 1) {
      var h = 0
      while (h < s.hopsUpper) { cur = r.step(cur, l, 1).keptIds(); h += 1 }
      l -= 1
    }
    val seeds = r.seeds()
    cur = cur ++ seeds
    r.visit(cur)
    var h = 0
    while (h < s.hopsZero) {
      cur = r.step(cur, 0, s.beam).keptIds()
      r.visit(cur)
      h += 1
    }
    LocalServe.ranked(r.step(r.visited(), 0, s.k).result())
  }

  /** The fleet's entry point: the best (level, vec_id) under the
    * global (level desc, vec_id asc) order — HnswIndex.withLevels'. */
  private[operators] def entryOf(cands: Iterable[(Int, Long)]): Option[(Int, Long)] =
    cands.minByOption { case (lvl, id) => (-lvl, id) }

  /** Edge-ceiling multiplier over the corpus-row ceiling: a
    * degree-bounded HNSW holds ≤ M(12) edges per (node, layer) and
    * the geometric level assignment puts ~1/4 of nodes on each
    * successive layer, so ~M·(1/(1−1/4)) = 16 edge rows per vector
    * bounds any well-formed index; more than that means the artifact
    * is not the degree-bounded graph this runtime was sized for. */
  val EdgeRowsPerVector = 16L

  /** Build the runtime from the persisted artifacts: one edge-table
    * collect (metadata-sized: |corpus|·M·~1.33 rows), one corpus
    * collect for the vector map (the piece a 100 TB deployment backs
    * with a KV store), and a driver-side bucket directory computed
    * from the same hyperplanes the Spark path uses (identical dot
    * fold → identical sign bits → identical buckets). */
  def fromArtifacts(edges: DataFrame, corpus: DataFrame,
                    w: Array[Array[Array[Double]]],
                    maxLevel: Int, probes: Int, beam: Int,
                    hopsUpper: Int, hopsZero: Int, k: Int,
                    maxRows: Long = LocalServe.MaxRowsPerJvm): HnswLocalServer = {
    // single-JVM admission guard: one serving node holds ONE shard; a
    // bigger corpus splits the same keyed artifacts across nodes
    // (LocalServe scaladoc's sharding seam). The EDGE table is the
    // larger driver-heap structure (~corpus × M(12) × ~1.33
    // level-overlap), so it gets its own ceiling scaled by the degree
    // bound — a corpus that passes the vector guard must not OOM on
    // the edge collect (HnswLocalServeSpec pins the refusal).
    LocalServe.guard(corpus.count(), "HNSW corpus vector map", maxRows)
    LocalServe.guard(edges.count(), "HNSW edge table",
      maxRows * HnswLocalServer.EdgeRowsPerVector)
    val rows = corpus.select("vec_id", "v").collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val slots = LongMap.empty[Int]
    ids.indices.foreach(i => slots.update(ids(i), i))
    val adj = Array.fill(maxLevel + 1)(
      LongMap.empty[scala.collection.mutable.ArrayBuilder.ofLong])
    edges.select("layer", "src", "dst").collect().foreach { r =>
      adj(r.getInt(0)).getOrElseUpdate(r.getLong(1),
        new scala.collection.mutable.ArrayBuilder.ofLong) += r.getLong(2)
    }
    // bucket directory + level assignment, driver-side
    val buckets = LongMap.empty[scala.collection.mutable.ArrayBuilder.ofLong]
    ids.indices.foreach { i =>
      w.indices.foreach { t =>
        buckets.getOrElseUpdate((t.toLong << 48) | LocalServe.signBucket(w(t), vecs(i)),
          new scala.collection.mutable.ArrayBuilder.ofLong) += ids(i)
      }
    }
    // entry point: smallest vec_id among max-level nodes
    // (HnswIndex.withLevels order: lvl desc, vec_id asc, limit 1)
    def level(id: Long): Int = {
      var h = 0L
      id.toString.foreach(c => h = (h * 31L + c.toInt) % Embed.HashMod)
      h = (h * 2654435761L) % Embed.HashMod
      if (h % 4L != 0L) 0
      else {
        var l = 1
        while (l < maxLevel && h % (1L << (2 * (l + 1))) == 0L) l += 1
        l
      }
    }
    val entry = entryOf(ids.map(id => (level(id), id)))
    new HnswLocalServer(adj.map(_.mapValuesNow(_.result())), slots, vecs,
      vecs.map(v => math.sqrt(dot(v, v))), buckets.mapValuesNow(_.result()),
      w, entry, maxLevel, probes, beam, hopsUpper, hopsZero, k)
  }
}
