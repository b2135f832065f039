package graft

import graft.queries.VectorQueries
import org.apache.spark.sql.functions._

/** Pins the implemented per-cell sharding seam (ShardedIvfServer):
  * the N-shard fleet must (1) answer bit-identically to the
  * single-node server and to the batch knnIvfAssigned, (2) load a
  * corpus the single-JVM guard REFUSES once split across shards, and
  * (3) still enforce the per-JVM guard on every individual shard —
  * sharding raises capacity by adding nodes, never by quietly
  * overfilling one.
  */
class ShardedIvfServeSpec extends SparkSpec {

  private def fixture() = {
    val centroids = VectorQueries.centroids(spark, sf)
    val corpus = VectorQueries.ivfCorpus(spark, sf)
    val assigned = graft.operators.VectorSearch
      .assignCells(corpus, centroids).localCheckpoint()
    val centsI = centroids.select(col("cell_id").cast("int").as("cell_id"),
      col("cv").cast("array<double>").as("cv"))
    val assignedI = assigned.withColumn("cell_id", col("cell_id").cast("int"))
    (assignedI, centsI, assigned, centroids)
  }

  test("sharded IVF fleet matches the single server and the batch path row-for-row") {
    val (assignedI, centsI, assigned, centroids) = fixture()
    val single = graft.operators.IvfLocalServer.fromArtifacts(
      assignedI, centsI, VectorQueries.K, 4)
    val sharded = graft.operators.ShardedIvfServer.fromArtifacts(
      assignedI, centsI, VectorQueries.K, 4, nShards = 3)

    val queries = VectorQueries.queryVecs(spark, sf)
    val distributed = graft.operators.VectorSearch
      .knnIvfAssigned(queries, assigned, centroids, VectorQueries.K, 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

    val qs = queries.collect()
    val singleRows = qs.flatMap { r =>
      single.search(r.getSeq[Float](1).toArray)
        .map { case (id, sc, rnk) => (r.getLong(0), id, sc, rnk) }
    }.toSet
    val shardedRows = qs.flatMap { r =>
      sharded.search(r.getSeq[Float](1).toArray)
        .map { case (id, sc, rnk) => (r.getLong(0), id, sc, rnk) }
    }.toSet

    assert(shardedRows.nonEmpty, "sharded serve returned nothing")
    assert(shardedRows == singleRows,
      s"sharded-vs-single drift:\nonly-sharded=${shardedRows -- singleRows}\n" +
        s"only-single=${singleRows -- shardedRows}")
    assert(shardedRows == distributed,
      s"sharded-vs-batch drift:\nonly-sharded=${shardedRows -- distributed}\n" +
        s"only-batch=${distributed -- shardedRows}")
  }

  test("a corpus the single-JVM guard refuses loads sharded and serves") {
    val (assignedI, centsI, _, _) = fixture()
    val n = assignedI.count()
    // a ceiling under the corpus: one JVM refuses it...
    val ceiling = n - 1
    val refusal = intercept[IllegalArgumentException] {
      graft.operators.IvfLocalServer.fromArtifacts(
        assignedI, centsI, VectorQueries.K, 4, maxRows = ceiling)
    }
    assert(refusal.getMessage.contains("single-JVM serving ceiling"))
    // ...but 3 shards each hold ~n/3 < ceiling and the fleet serves
    val sharded = graft.operators.ShardedIvfServer.fromArtifacts(
      assignedI, centsI, VectorQueries.K, 4, nShards = 3,
      maxRowsPerShard = ceiling)
    val queries = VectorQueries.queryVecs(spark, sf)
    val served = queries.collect().flatMap(r => sharded.search(r.getSeq[Float](1).toArray))
    assert(served.length > 0)
  }

  test("the per-JVM guard still binds on every shard") {
    val (assignedI, centsI, _, _) = fixture()
    // a ceiling no shard of a 2-way split can satisfy
    val tiny = 1L
    val refusal = intercept[IllegalArgumentException] {
      graft.operators.ShardedIvfServer.fromArtifacts(
        assignedI, centsI, VectorQueries.K, 4, nShards = 2,
        maxRowsPerShard = tiny)
    }
    assert(refusal.getMessage.contains("single-JVM serving ceiling"))
  }
}
