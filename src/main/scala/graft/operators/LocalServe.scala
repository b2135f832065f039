package graft.operators

/** Shared single-JVM admission guard for the Local*Server serving
  * tiers (r16 verdict task 6). The Ivf/Hnsw/Hybrid local servers are
  * BY DESIGN one-shard runtimes: they collect their index artifacts
  * into one heap and answer requests with zero Spark jobs — the
  * declared "separate serving runtime" seam, mirroring the reference's
  * hosted-collection query loop (/root/reference/src/chroma.py:96-106,
  * where Chroma holds the index server-side). Nothing about that
  * design says "collect 100 TB", so the load path now refuses a
  * corpus beyond the single-JVM ceiling instead of OOMing later.
  *
  * The 100× story is the PER-CELL SHARDING SEAM the artifacts already
  * have: every serving structure is keyed — IVF rows by cell_id, LSH
  * bucket directories by (tbl, bucket), HNSW adjacency by layer/src
  * with its own bucket directory, BM25 postings by term. A fleet of N
  * serving nodes splits the SAME parquet artifacts by key range (node
  * i loads cells with hash(cell_id) % N == i), so each node holds
  * ~1/N of the corpus and a stateless router fans a request to the
  * node(s) owning its probed cells / matched terms, merging the
  * per-node top-k — the standard distributed-ANN serving layout
  * (REPOSE: per-partition local top-k, then one merge). No artifact or
  * scoring change is needed to shard: only WHICH keys a node loads.
  *
  * A single node is a one-shard fleet: each family's request path is
  * written once, against an array of shards, in its server's
  * companion (`IvfLocalServer.serve`, `HnswLocalServer.walk`,
  * `HybridLocalServer.serve`); `Local*Server.search` passes
  * `Array(this)` and the `Sharded*Server` routers pass their shards,
  * so both reach the path with the same types and share its compiled
  * code.
  *
  * Beside the guard, this object is the serving kernel every tier
  * scores and ranks with: the sequential dot folds in DotProduct's
  * order, Spark's HALF_UP round, the LSH sign bucket, and a
  * bounded-heap top-k in the serving rank order. It is stateless (a
  * [[LocalServe.TopK]] belongs to the one request that made it), so
  * any number of request threads may share it and the immutable
  * servers built on it. Its per-candidate loops take arrays and
  * primitives, not closures or iterators: the kernel is shared by
  * every tier, and a call site that sees a different closure or
  * iterator class per tier compiles differently depending on which
  * tier warmed it first.
  */
object LocalServe {

  /** Per-JVM corpus ceiling for the driver-held serving tier — the
    * same ≤2M-vector ceiling the pair family documents for vector
    * broadcasts (VectorSearch.RpBitsPairMax): ~1 GB of float vectors
    * plus directory overhead, comfortably inside one serving node. */
  val MaxRowsPerJvm = 2000000L

  /** Refuse an artifact load beyond the single-JVM ceiling, naming
    * the sharding seam (LocalServeSpec pins the refusal). */
  def guard(n: Long, what: String, max: Long = MaxRowsPerJvm): Unit =
    require(n <= max,
      s"$what holds $n rows — over the $max-row single-JVM serving " +
        "ceiling. One LocalServer node serves ONE shard: split the " +
        "same keyed artifacts across N nodes (hash(cell_id | bucket | " +
        "term | vec_id) % N — the per-cell sharding seam, implemented " +
        "for every family: ShardedIvfServer, ShardedHybridServer, " +
        "ShardedHnswServer) and route each request to the nodes " +
        "owning its probed keys.")

  /** Sequential double fold, the exact order Vec.dot/DotProduct uses
    * (every element widened to double before the multiply). */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  def dot(a: Array[Float], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  // 10^s for s = 0..22: every one is exact in a double
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10.0)
  private val FastMax = 4503599627370496.0 // 2^52

  /** Spark Round(HALF_UP) semantics on double: the HALF_UP rounding of
    * `BigDecimal.valueOf(x)` (x's shortest decimal D, NOT new
    * BigDecimal(double)) back to double; NaN and ±Inf come back
    * unchanged, as Spark's Round returns them.
    *
    * The fast path is exact. Let a = fl(|x|·10^s), with 10^s exact.
    * D lies within half an ulp of x, so |D|·10^s lies within
    * 10^s·ulp(x)/2 ≈ 2^-53·a, about one ulp(a), of |x|·10^s, which
    * the multiply rounds by at most ulp(a)/2: a is within 2 ulp(a)
    * of |D|·10^s (a subnormal x gives a far below .5 and n = 0).
    * When a < 2^52 (so floor and fraction are exact) and a's
    * fraction is more than 4 ulp(a) from .5, no half-integer lies
    * between a and |D|·10^s, so both round to the same integer n.
    * The BigDecimal path then yields ±n·10^-s as a double, which is
    * the correctly rounded quotient n / 10^s (BigDecimal.doubleValue
    * divides the same exact integer and power of ten, or parses the
    * decimal): exactly what the division below returns. A zero n is
    * +0.0 on both paths. Every other input takes the BigDecimal
    * path. */
  def round(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else {
      val a = if (scale >= 0 && scale < Pow10.length) math.abs(x) * Pow10(scale) else FastMax
      val f = math.floor(a)
      val frac = a - f
      if (a < FastMax && math.abs(frac - 0.5) > 4 * Math.ulp(a)) {
        val n = if (frac > 0.5) f + 1.0 else f
        if (n == 0.0) 0.0 else if (x < 0) -(n / Pow10(scale)) else n / Pow10(scale)
      } else
        java.math.BigDecimal.valueOf(x)
          .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    }

  /** Sign-LSH bucket of one vector under one table of hyperplanes:
    * bit i is set iff the vector's dot fold against `planes(i)` is
    * `>= 0`. */
  def signBucket(planes: Array[Array[Double]], v: Array[Float]): Long = {
    var b = 0L; var i = 0
    while (i < planes.length) {
      if (dot(v, planes(i)) >= 0.0) b |= (1L << i); i += 1
    }
    b
  }
  def signBucket(planes: Array[Array[Double]], v: Array[Double]): Long = {
    var b = 0L; var i = 0
    while (i < planes.length) {
      if (dot(v, planes(i)) >= 0.0) b |= (1L << i); i += 1
    }
    b
  }

  /** The serving rank order: score desc, then id asc — the ordering
    * `sortBy { case (id, sc) => (-sc, id) }` uses (the total order on
    * doubles: NaN scores rank last, 0.0 before -0.0). True iff
    * (aId, aSc) ranks strictly before (bId, bSc). */
  private def before(aId: Long, aSc: Double, bId: Long, bSc: Double): Boolean = {
    val c = java.lang.Double.compare(-aSc, -bSc)
    c < 0 || (c == 0 && aId < bId)
  }

  /** A `k`-bounded top-k over (id, score) offers, in rank order: a
    * binary heap on two primitive arrays whose root is the worst kept
    * candidate. A request's candidates go straight from its scoring
    * loop into the heap — no tuple, iterator or comparator object per
    * candidate — and [[result]] is the first `k` of everything
    * offered, as `sortBy { case (id, sc) => (-sc, id) }.take(k)`
    * would rank it. One instance serves one request. */
  final class TopK(k: Int) {
    private val cap = math.max(k, 0)
    private val ids = new Array[Long](cap)
    private val scs = new Array[Double](cap)
    private var n = 0

    // heap order: a parent ranks after both children
    private def after(i: Int, j: Int): Boolean = before(ids(j), scs(j), ids(i), scs(i))
    private def swap(i: Int, j: Int): Unit = {
      val id = ids(i); ids(i) = ids(j); ids(j) = id
      val sc = scs(i); scs(i) = scs(j); scs(j) = sc
    }
    private def down(size: Int): Unit = {
      var i = 0
      var more = true
      while (more) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < size && after(l, w)) w = l
        if (r < size && after(r, w)) w = r
        if (w == i) more = false else { swap(i, w); i = w }
      }
    }

    def offer(id: Long, sc: Double): Unit =
      if (n < cap) {
        ids(n) = id; scs(n) = sc
        var i = n
        n += 1
        while (i > 0 && after(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (cap > 0 && before(id, sc, ids(0), scs(0))) {
        ids(0) = id; scs(0) = sc
        down(n)
      }

    /** The kept ids, in heap order (leaves the heap as it is). */
    def keptIds(): Array[Long] = java.util.Arrays.copyOf(ids, n)

    /** The kept candidates, best first (empties the heap). */
    def result(): Array[(Long, Double)] = {
      val out = new Array[(Long, Double)](n)
      while (n > 0) {
        n -= 1
        out(n) = (ids(0), scs(0))
        ids(0) = ids(n); scs(0) = scs(n)
        down(n)
      }
      out
    }
  }

  /** The first `k` of `cands` in rank order through a [[TopK]]. */
  def topK(cands: Array[(Long, Double)], k: Int): Array[(Long, Double)] = {
    val top = new TopK(k)
    var i = 0
    while (i < cands.length) { top.offer(cands(i)._1, cands(i)._2); i += 1 }
    top.result()
  }

  /** A ranked top-k as response rows (id, score, rnk), rnk from 1. */
  def ranked(top: Array[(Long, Double)]): Array[(Long, Double, Int)] =
    top.zipWithIndex.map { case ((id, sc), i) => (id, sc, i + 1) }
}
