package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** The sharding seam generalized past the embarrassingly-shardable
  * IVF case (ShardedIvfServer) to the COMPOSED hybrid server: N
  * single-JVM HybridLocalServer shards, each owning
  * `hash(term) % N` of the pruned posting table and
  * `hash(tbl, bucket) % N` of the dense bucket directory (the two
  * keyed artifacts the LocalServe scaladoc names), fronted by a
  * router that runs the fusion — the one request path,
  * HybridLocalServer.serve, which the single node runs as a one-shard
  * fleet.
  *
  * What makes hybrid the interesting case:
  *  - the LEXICAL arm is not a top-k union: a document's BM25 score
  *    sums over query terms that live on DIFFERENT shards. Shards
  *    therefore return per-term scored postings (≤ PostingCap
  *    rows/term — the exact rows the single node scans, ~KBs per
  *    request over a wire) and the router re-sums in ascending global
  *    term order. Each term is owned by exactly one shard, so the
  *    add order — and hence the 4 dp-rounded sum — is bit-identical
  *    to the single-node serve.
  *  - the DENSE arm dedups across tables: the same vector reached via
  *    different tables can surface on different shards. Its cosine is
  *    identical wherever it surfaces, so router-side putIfAbsent
  *    reproduces the single-node candidate set exactly. The sharded
  *    form serves the UNCAPPED batch-parity point; the denseCap
  *    operating point is admission-order-dependent and stays a
  *    single-node knob.
  *  - RRF fusion (rank-only, both arms' top-armK) runs at the router.
  *
  * Every shard is built by the unchanged single-node loader, so the
  * per-JVM admission guard binds per shard; vocab-sized metadata (df,
  * n_docs, avgdl, the plane schedule) is replicated to every node the
  * way ShardedIvfServer replicates centroids. ShardedHybridServeSpec
  * pins bit-exact parity with the single server and the batch
  * v19_hybrid_ann, plus the over-ceiling unlock.
  */
final class ShardedHybridServer(shards: Array[HybridLocalServer])
    extends Serializable {

  def nShards: Int = shards.length

  /** One request: fused top-fuseK (doc_id, rrf_score, rnk) — the
    * exact rows the single-node HybridLocalServer (and the batch
    * v19HybridAnn) produces. */
  def search(query: String): Array[(Long, Double, Int)] =
    searchWithStats(query)._1

  /** search + the request's work profile (posting mass, dense
    * candidates) — the same tail-attribution signature the single
    * node exposes, summed across the fleet. */
  def searchWithStats(query: String)
      : (Array[(Long, Double, Int)], Long, Long) =
    HybridLocalServer.serve(shards, query)
}

object ShardedHybridServer {

  /** Build the N-shard fleet from the same persisted artifacts the
    * single-node loader reads: shard i holds the posting rows with
    * `hash(term) % N == i` and the directory rows with
    * `hash(tbl, bucket) % N == i` (Spark's deterministic Murmur3 —
    * physical placement only, results are placement-independent).
    * Every shard load goes through the UNCHANGED single-node path, so
    * the per-JVM guard binds per shard on BOTH in-heap structures. */
  def fromArtifacts(tf: DataFrame, ptf: DataFrame, cb: DataFrame,
                    w: Array[Array[Array[Double]]],
                    armK: Int, fuseK: Int, nShards: Int,
                    maxRowsPerShard: Long = LocalServe.MaxRowsPerJvm)
      : ShardedHybridServer = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val shards = Array.tabulate(nShards) { i =>
      HybridLocalServer.fromArtifacts(
        tf,
        ptf.filter(pmod(hash(col("term")), lit(nShards)) === lit(i)),
        cb.filter(pmod(hash(col("tbl"), col("bucket")), lit(nShards)) === lit(i)),
        w, armK, fuseK, maxRows = maxRowsPerShard)
    }
    new ShardedHybridServer(shards)
  }
}
