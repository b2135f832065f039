package graft

import graft.queries.VectorQueries
import org.apache.spark.sql.functions._

/** Pins the sharded HNSW serving fleet (ShardedHnswServer) — the
  * graph-structured case, where the walk itself crosses shard
  * boundaries: every hop's adjacency comes from the cursor's owner
  * shard and every candidate's cosine from its vector's owner. The
  * router must reproduce the single-node HnswLocalServer bit-exactly
  * (which HnswLocalServeSpec pins bit-exact to the distributed hg2
  * walk — so parity here is transitively parity with the batch
  * contract), the fleet-wide entry point must equal the single node's
  * under the global (level desc, vec_id asc) order, and the per-shard
  * guard must unlock a corpus one JVM refuses.
  */
class ShardedHnswServeSpec extends SparkSpec {

  private lazy val corpus = Tables.embeddings(spark, sf)
    .filter(col("vec_id") >= 8)
    .select(col("vec_id"), col("embedding").as("v"))
  private lazy val queries = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 8)
    .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
  private lazy val edges =
    VectorQueries.hg1HnswBuild(spark, sf).localCheckpoint()

  private def single(maxRows: Long = graft.operators.LocalServe.MaxRowsPerJvm) =
    graft.operators.HnswLocalServer.fromArtifacts(
      edges, corpus, VectorQueries.rpWeightsPair,
      VectorQueries.HnswMaxLevel, VectorQueries.HnswProbes,
      VectorQueries.HnswBeam, VectorQueries.HnswHopsUpper,
      VectorQueries.HnswHopsZero, VectorQueries.K, maxRows = maxRows)

  private def sharded(n: Int,
      maxRowsPerShard: Long = graft.operators.LocalServe.MaxRowsPerJvm) =
    graft.operators.ShardedHnswServer.fromArtifacts(
      edges, corpus, VectorQueries.rpWeightsPair,
      VectorQueries.HnswMaxLevel, VectorQueries.HnswProbes,
      VectorQueries.HnswBeam, VectorQueries.HnswHopsUpper,
      VectorQueries.HnswHopsZero, VectorQueries.K, nShards = n,
      maxRowsPerShard = maxRowsPerShard)

  test("sharded walk == single-node server, every query, 3 and 5 shards") {
    val base = single()
    val qs = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(qs.nonEmpty)
    Seq(3, 5).foreach { n =>
      val fleet = sharded(n)
      qs.foreach { case (qid, qv) =>
        val sh = fleet.search(qv).toSeq
        assert(sh.nonEmpty, s"query $qid: empty sharded result")
        assert(sh == base.search(qv).toSeq,
          s"query $qid, $n shards: sharded != single")
      }
    }
  }

  test("an edge to an absent vec_id fails the request in both servers, " +
      "naming the id") {
    // every layer-0 node also points at a vec_id with no vector, so the
    // final candidate set (visited ∪ layer-0 neighbors) reaches it
    val absent = 999999L
    val broken = edges.select("layer", "src", "dst").union(
      edges.filter(col("layer") === 0)
        .select(col("layer"), col("src"), lit(absent).as("dst")).distinct())
    def load(n: Int) = graft.operators.ShardedHnswServer.fromArtifacts(
      broken, corpus, VectorQueries.rpWeightsPair,
      VectorQueries.HnswMaxLevel, VectorQueries.HnswProbes,
      VectorQueries.HnswBeam, VectorQueries.HnswHopsUpper,
      VectorQueries.HnswHopsZero, VectorQueries.K, nShards = n)
    val one = graft.operators.HnswLocalServer.fromArtifacts(
      broken, corpus, VectorQueries.rpWeightsPair,
      VectorQueries.HnswMaxLevel, VectorQueries.HnswProbes,
      VectorQueries.HnswBeam, VectorQueries.HnswHopsUpper,
      VectorQueries.HnswHopsZero, VectorQueries.K)
    val qv = queries.limit(1).collect().head.getSeq[Float](1).toArray
    Seq[Array[Float] => Array[(Long, Double, Int)]](one.search, load(3).search)
      .foreach { search =>
        val e = intercept[IllegalStateException](search(qv))
        assert(e.getMessage.contains(s"vec_id $absent"), e.getMessage)
      }
  }

  test("an HNSW corpus the single-JVM guard refuses loads sharded") {
    val ceiling = corpus.count() - 1
    val refusal = intercept[IllegalArgumentException] { single(ceiling) }
    assert(refusal.getMessage.contains("single-JVM serving ceiling"))
    val fleet = sharded(3, maxRowsPerShard = ceiling)
    val qv = queries.limit(1).collect().head.getSeq[Float](1).toArray
    assert(fleet.search(qv).nonEmpty)
  }
}
