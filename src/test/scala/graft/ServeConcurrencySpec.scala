package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import graft.operators._
import graft.queries.{CorpusQueries, VectorQueries}
import org.apache.spark.sql.functions._

/** The six serving tiers are shared by concurrent request threads
  * (LatencyReport and perfbench's closed loop both do this): every
  * response under 8 threads must equal the single-threaded response to
  * the same request. */
class ServeConcurrencySpec extends SparkSpec {

  private type Resp = Seq[(Long, Double, Int)]

  test("six serving tiers under 8 threads == single-threaded, every fixture query") {
    val centroids = VectorQueries.centroids(spark, sf)
      .select(col("cell_id").cast("int").as("cell_id"),
        col("cv").cast("array<double>").as("cv"))
    val assigned = VectorSearch.assignCells(VectorQueries.ivfCorpus(spark, sf),
      VectorQueries.centroids(spark, sf)).localCheckpoint()
      .withColumn("cell_id", col("cell_id").cast("int"))
    val corpus = Tables.embeddings(spark, sf).filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("embedding").as("v"))
    val edges = VectorQueries.hg1HnswBuild(spark, sf).localCheckpoint()
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(spark, sf).select("doc_id", "text"), "text", sf)
    val tf = Bm25.tfTableCached(docs, "text", sf)
    val ptf = Bm25.prunedTfCached(tf, sf)
    val bits = VectorQueries.pairBits(VectorQueries.docCount(spark, sf))
    val w = VectorQueries.pairWeights(bits).take(CorpusQueries.HybridTables)
    val cb = FitOrLoad.parquet(spark, "vixcb", sf,
      s"dim=${CorpusQueries.HybridDim};tables=${CorpusQueries.HybridTables};bits=$bits",
      docs.count())(VectorSearch.rpBuckets(Embed.embedDocsCached(docs, "text",
        CorpusQueries.HybridDim, sf)
        .select(col("doc_id").as("vec_id"), col("embedding").as("v")), w))

    val vecQs = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .collect().map(_.getSeq[Float](1).toArray)
    val textQs = TextAnalysis.zipfQueriesCached(tf, sf).collect()
      .map(_.getAs[String]("query"))
    val ivfLocal = IvfLocalServer.fromArtifacts(assigned, centroids, VectorQueries.K, 4)
    val ivf3 = ShardedIvfServer.fromArtifacts(assigned, centroids, VectorQueries.K, 4,
      nShards = 3)
    val hnswLocal = HnswLocalServer.fromArtifacts(edges, corpus,
      VectorQueries.rpWeightsPair, VectorQueries.HnswMaxLevel,
      VectorQueries.HnswProbes, VectorQueries.HnswBeam,
      VectorQueries.HnswHopsUpper, VectorQueries.HnswHopsZero, VectorQueries.K)
    val hnsw3 = ShardedHnswServer.fromArtifacts(edges, corpus,
      VectorQueries.rpWeightsPair, VectorQueries.HnswMaxLevel,
      VectorQueries.HnswProbes, VectorQueries.HnswBeam,
      VectorQueries.HnswHopsUpper, VectorQueries.HnswHopsZero,
      VectorQueries.K, nShards = 3)
    val hybridLocal = HybridLocalServer.fromArtifacts(tf, ptf, cb, w,
      CorpusQueries.HybridArmK, CorpusQueries.HybridK)
    val hybrid3 = ShardedHybridServer.fromArtifacts(tf, ptf, cb, w,
      CorpusQueries.HybridArmK, CorpusQueries.HybridK, nShards = 3)
    val requests: Seq[() => Resp] =
      vecQs.toSeq.flatMap(q => Seq[() => Resp](
        () => ivfLocal.search(q).toSeq, () => ivf3.search(q).toSeq,
        () => hnswLocal.search(q).toSeq, () => hnsw3.search(q).toSeq)) ++
      textQs.toSeq.flatMap(q => Seq[() => Resp](
        () => hybridLocal.search(q).toSeq, () => hybrid3.search(q).toSeq))
    assert(vecQs.nonEmpty && textQs.nonEmpty)

    val expected = requests.map(_())
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try {
      // each thread walks every request, starting at its own offset, 4 times
      val mismatches = (0 until threads).map { t =>
        pool.submit(new Callable[Seq[Int]] {
          def call(): Seq[Int] = (0 until 4 * requests.length).flatMap { j =>
            val i = (j + t * 7) % requests.length
            if (requests(i)() == expected(i)) None else Some(i)
          }
        })
      }.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(mismatches.isEmpty,
        s"concurrent responses differ from single-threaded on requests ${mismatches.distinct}")
    } finally pool.shutdownNow()
  }
}
