package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.{CorpusQueries, VectorQueries}

/** One serving tier as the benchmark drives it: a request is an index
  * into the tier family's seed-drawn pool. */
final case class Tier(name: String, family: String,
                      call: Int => Array[(Long, Double, Int)])

/** The fit-or-load artifacts the serving tiers load from. Resolving
  * them is part of every setup; building them is the prepare step's. */
final class ServeArtifacts(val spark: SparkSession, val dir: String, artifacts: String) {
  val K = VectorQueries.K
  val IvfCells = 64

  val corpus = VectorQueries.corpusVecs(spark, dir).select("vec_id", "v")
  val centroids = IvfIndex.fitOrLoadCentroids(corpus, IvfCells,
    s"$artifacts/perfbench_serve_centroids")
  val edges = VectorQueries.hg1HnswBuildCached(spark, dir)
  val weights = VectorQueries.pairWeightsFor(spark, dir)
  private val docs = TextAnalysis.zipfDocsCached(
    graft.Tables.documents(spark, dir).select("doc_id", "text"), "text", dir)
  val tf = Bm25.tfTableCached(docs, "text", dir)
  val ptf = Bm25.prunedTfCached(tf, dir)
  private val bits = VectorQueries.pairBits(VectorQueries.docCount(spark, dir))
  val hybridW = VectorQueries.pairWeights(bits).take(CorpusQueries.HybridTables)
  /** The dense arm's bucket directory: the artifact v19_hybrid_ann
    * builds, under the same fit-or-load key. */
  val cb = {
    val dEmb = Embed.embedDocsCached(docs, "text", CorpusQueries.HybridDim, dir)
      .select(col("doc_id").as("vec_id"), col("embedding").as("v"))
    FitOrLoad.parquet(spark, "vixcb", dir,
      s"dim=${CorpusQueries.HybridDim};tables=${CorpusQueries.HybridTables};bits=$bits",
      docs.count())(VectorSearch.rpBuckets(dEmb, hybridW))
  }
  val queries = TextAnalysis.zipfQueriesCached(tf, dir)
}

/** The in-process serving tiers, built from [[ServeArtifacts]]. */
final class Servers(a: ServeArtifacts, seed: Long, pool: Int, trace: Trace) {
  import a._
  import VectorQueries.{HnswBeam, HnswHopsUpper, HnswHopsZero, HnswMaxLevel, HnswProbes}
  val Nprobe = 32
  val buildMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def build[T](name: String)(body: => T): T = trace(s"serve.build.$name") {
    val t0 = System.nanoTime()
    val r = body
    buildMs(name) = (System.nanoTime() - t0) / 1e6
    r
  }

  // ---- seed-drawn request pools ----
  private def draw[T: scala.reflect.ClassTag](all: Array[T]): Array[T] =
    new scala.util.Random(seed).shuffle(all.toSeq).take(pool).toArray

  /** (query_id, vector) requests for the vector tiers. */
  val vecPool: Array[(Long, Array[Float])] = draw(
    corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1))
  /** (query_id, text) requests for the hybrid tiers. */
  val textPool: Array[(Long, String)] = draw(
    queries.select("doc_id", "query").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1))

  // ---- servers: the cell assignment is computed once and shared ----
  private val assigned = VectorSearch.assignCells(corpus, centroids).localCheckpoint()
  private val ivf = build("ivf_local")(
    IvfLocalServer.fromArtifacts(assigned, centroids, K, Nprobe))
  private val ivf4 = build("ivf_sharded4")(
    ShardedIvfServer.fromArtifacts(assigned, centroids, K, Nprobe, nShards = 4))
  private val hnsw = build("hnsw_local")(HnswLocalServer.fromArtifacts(
    edges, corpus, weights, HnswMaxLevel, HnswProbes, HnswBeam, HnswHopsUpper,
    HnswHopsZero, K))
  private val hnsw4 = build("hnsw_sharded4")(ShardedHnswServer.fromArtifacts(
    edges, corpus, weights, HnswMaxLevel, HnswProbes, HnswBeam, HnswHopsUpper,
    HnswHopsZero, K, nShards = 4))
  private val hybrid = build("hybrid_local")(HybridLocalServer.fromArtifacts(
    tf, ptf, cb, hybridW, CorpusQueries.HybridArmK, CorpusQueries.HybridK))
  private val hybrid4 = build("hybrid_sharded4")(ShardedHybridServer.fromArtifacts(
    tf, ptf, cb, hybridW, CorpusQueries.HybridArmK, CorpusQueries.HybridK,
    nShards = 4))

  /** Work profile (posting mass, dense candidates) per hybrid request. */
  def hybridStats(i: Int): (Long, Long) = {
    val (_, mass, cands) = hybrid.searchWithStats(textPool(i)._2)
    (mass, cands)
  }

  val local: Seq[Tier] = Seq(
    Tier("ivf_local", "ivf", i => ivf.search(vecPool(i)._2)),
    Tier("hnsw_local", "hnsw", i => hnsw.search(vecPool(i)._2)),
    Tier("hybrid_local", "hybrid", i => hybrid.search(textPool(i)._2)))
  val sharded: Seq[Tier] = Seq(
    Tier("ivf_sharded4", "ivf", i => ivf4.search(vecPool(i)._2)),
    Tier("hnsw_sharded4", "hnsw", i => hnsw4.search(vecPool(i)._2)),
    Tier("hybrid_sharded4", "hybrid", i => hybrid4.search(textPool(i)._2)))

  /** Exact top-K ids per vector request, from the batch brute-force kNN. */
  def exactTopK(): Map[Long, Set[Long]] = {
    import spark.implicits._
    val q = vecPool.toSeq.toDF("query_id", "qv")
    VectorSearch.knnCosine(q, corpus, K).select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
  }

  /** The batch v19_hybrid_ann rows for the pooled text requests, read
    * from `reference` (the batch row's output, written by prepare). */
  def batchHybrid(reference: String): Set[(Long, Long, Double, Int)] = {
    val ids = textPool.map(_._1).toSeq
    spark.read.parquet(reference).filter(col("query_id").isin(ids: _*))
      .select("query_id", "doc_id", "rrf_score", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
  }
}

/** Closed-loop serving measurement over [[Servers]]. */
final class ServeRun(s: Servers, trace: Trace) {
  type Resp = Array[(Long, Double, Int)]

  private val threadMx =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Phase 1 reference responses, per family and request index. */
  val reference = Map(
    "ivf" -> new Array[Resp](s.vecPool.length),
    "hnsw" -> new Array[Resp](s.vecPool.length),
    "hybrid" -> new Array[Resp](s.textPool.length))
  val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong
  val failed = new AtomicLong

  private def same(a: Resp, b: Resp): Boolean =
    a.length == b.length && a.indices.forall(i => a(i) == b(i))

  private def checkAgainst(t: Tier, i: Int, r: Resp): Boolean = {
    val ref = reference(t.family)(i)
    if (ref == null) true
    else if (same(ref, r)) true
    else {
      problems.add(s"${t.name}: request $i differs from the phase-1 response")
      false
    }
  }

  private def poolSize(t: Tier) = reference(t.family).length

  /** Phase 1: one client sends `requests` requests to `t`, cycling
    * through the pool. Returns per-request latency (ms) and allocated
    * bytes, in request order; failed requests have neither. */
  def single(t: Tier, requests: Int,
             record: Boolean): (Array[Double], Array[Long]) = trace(s"serve.${t.name}") {
    val lat = ArrayBuffer.empty[Double]
    val alloc = ArrayBuffer.empty[Long]
    val tid = Thread.currentThread().getId
    val n = poolSize(t)
    t.call(0) // JIT warm for this tier
    var i = 0
    while (i < requests) {
      val q = i % n
      attempted.incrementAndGet()
      val a0 = threadMx.getThreadAllocatedBytes(tid)
      val r0 = System.nanoTime()
      try {
        val r = t.call(q)
        val ms = (System.nanoTime() - r0) / 1e6
        val a1 = threadMx.getThreadAllocatedBytes(tid)
        if (record && reference(t.family)(q) == null) reference(t.family)(q) = r
        if (r.isEmpty) {
          failed.incrementAndGet(); problems.add(s"${t.name}: empty response to $q")
        } else if (checkAgainst(t, q, r)) { lat += ms; alloc += a1 - a0 }
        else failed.incrementAndGet()
      } catch { case e: Throwable =>
        failed.incrementAndGet(); problems.add(s"${t.name}: ${e.getMessage}")
      }
      i += 1
    }
    (lat.toArray, alloc.toArray)
  }

  /** Phase 2: `threads` closed-loop clients, each sending its requests
    * round-robin over `tiers`. Every response must equal the phase-1
    * reference for its request. Returns completed requests per second
    * over the `seconds` after `warmup`. */
  def concurrent(tiers: Seq[Tier], threads: Int, warmup: Double,
                 seconds: Double): Double =
    trace("serve.concurrent") {
      val stop = new AtomicBoolean(false)
      val done = new AtomicLong
      val workers = (0 until threads).map { w =>
        new Thread(() => {
          var j = w
          while (!stop.get()) {
            val t = tiers(j % tiers.size)
            val q = (j / tiers.size) % poolSize(t)
            attempted.incrementAndGet()
            try {
              if (checkAgainst(t, q, t.call(q))) done.incrementAndGet()
              else failed.incrementAndGet()
            } catch { case e: Throwable =>
              failed.incrementAndGet(); problems.add(s"${t.name}: ${e.getMessage}")
            }
            j += threads
          }
        })
      }
      workers.foreach(_.start())
      // the first `warmup` seconds let every tier's code reach its
      // compiled form under concurrency; only the rest is counted
      Thread.sleep((warmup * 1000).toLong)
      val (n0, t0) = (done.get(), System.nanoTime())
      Thread.sleep((seconds * 1000).toLong)
      val (n1, t1) = (done.get(), System.nanoTime())
      stop.set(true)
      workers.foreach(_.join())
      (n1 - n0) / ((t1 - t0) / 1e9)
    }
}

object Stats {
  /** The value at quantile p of `xs` by the nearest-rank rule. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 0.5)
}
