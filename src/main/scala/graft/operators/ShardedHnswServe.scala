package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** The sharding seam closed on the GRAPH-STRUCTURED case — the third
  * and hardest member of the serving trilogy (ShardedIvfServer: per
  * cell, embarrassing; ShardedHybridServer: composed scoring, router
  * re-sum; here: the walk itself crosses shard boundaries every hop).
  *
  * Layout (node-sharded, the standard distributed-HNSW placement): N
  * single-JVM HnswLocalServer shards, shard i owning
  * `hash(vec_id) % N` of the corpus — each node's vector, its
  * outgoing adjacency rows (`hash(src) % N`, the same Murmur3 on the
  * same id, so a node's vector and edge list co-locate), and its
  * bucket-directory entries (each shard buckets its OWN vectors with
  * the replicated hyperplanes, so the fleet-wide union IS the
  * single-node directory). Metadata-sized state (the plane schedule,
  * the hop/beam schedule, the global entry point) replicates.
  *
  * The router drives the one walk (HnswLocalServer.walk, which the
  * single node runs as a one-shard fleet); shards answer the owner-
  * scoped point lookups a walk is made of:
  *  - adjacency: every cursor's out-neighbors come from the one shard
  *    owning that node (others return nothing) — per hop that ships
  *    O(beam · M) ids, KBs on a wire;
  *  - scoring: each candidate's cosine comes from the one shard
  *    owning its vector, computed with the identical sequential dot
  *    fold — so scores are placement-independent and the router's
  *    merge order cannot change them. The router memoizes each
  *    cosine for the rest of the request, so a vector is scored once
  *    however many hops reach it.
  * Upper-layer descent is width-1, so those hops ship single ids.
  * Because the single node runs the same walk, results are
  * bit-identical to the single-node serve — ShardedHnswServeSpec pins
  * parity with HnswLocalServer (itself pinned bit-exact to the
  * distributed hg2 walk) plus the over-ceiling unlock.
  *
  * Entry point: each shard reports its best (level, vec_id) candidate
  * under the global (level desc, vec_id asc) order; the router takes
  * the fleet-wide best — the same total order the single node scans,
  * so the same node wins.
  */
final class ShardedHnswServer(
    shards: Array[HnswLocalServer], entry: Long) extends Serializable {

  def nShards: Int = shards.length

  /** Serve one request: top-k (vec_id, score, rnk) — the exact rows
    * the single-node server (and the distributed hg2 walk) produces. */
  def search(qv: Array[Float]): Array[(Long, Double, Int)] =
    HnswLocalServer.walk(shards, entry, qv)
}

object ShardedHnswServer {

  /** Build the N-shard fleet from the same persisted artifacts the
    * single-node loader reads: shard i holds the corpus rows with
    * `hash(vec_id) % N == i` and the edge rows with
    * `hash(src) % N == i` (Spark's deterministic Murmur3 on the same
    * long, so vector + adjacency co-locate — physical placement only,
    * results are placement-independent). Every shard load goes
    * through the UNCHANGED single-node path, so the per-JVM admission
    * guard binds per shard on BOTH the vector map and the edge
    * table. */
  def fromArtifacts(edges: DataFrame, corpus: DataFrame,
                    w: Array[Array[Array[Double]]],
                    maxLevel: Int, probes: Int, beam: Int,
                    hopsUpper: Int, hopsZero: Int, k: Int, nShards: Int,
                    maxRowsPerShard: Long = LocalServe.MaxRowsPerJvm)
      : ShardedHnswServer = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val shards = Array.tabulate(nShards) { i =>
      HnswLocalServer.fromArtifacts(
        edges.filter(pmod(hash(col("src")), lit(nShards)) === lit(i)),
        corpus.filter(pmod(hash(col("vec_id")), lit(nShards)) === lit(i)),
        w, maxLevel, probes, beam, hopsUpper, hopsZero, k,
        maxRows = maxRowsPerShard)
    }
    val entry = HnswLocalServer.entryOf(shards.flatMap(_.entryPoint))
    require(entry.nonEmpty, "sharded HNSW fleet: empty corpus")
    new ShardedHnswServer(shards, entry.get._2)
  }
}
