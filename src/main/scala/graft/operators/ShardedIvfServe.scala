package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

/** The per-cell sharding seam, implemented (r18): N single-JVM IVF
  * serving nodes splitting the SAME persisted artifacts by
  * `cell_id % nShards`, fronted by a stateless top-k merge router —
  * the standard distributed-ANN serving layout the LocalServe
  * scaladoc documents and the single-node guard's refusal message
  * names. This is the 100 TB shape of the serving tier: the corpus a
  * one-JVM IvfLocalServer REFUSES (over LocalServe.MaxRowsPerJvm)
  * loads here as N shards each under the ceiling.
  *
  * In-process by construction: the "fleet" is N IvfLocalServer
  * instances in one JVM because this container has one JVM — but
  * nothing in the layout knows that. Each shard is built by the
  * UNCHANGED single-node loader from a key-range filter of the shared
  * artifact (no artifact rewrite, no scoring change — only WHICH
  * cells a node loads), holds the full metadata-sized centroid table,
  * computes the same global probe list per request, and scans
  * owned ∩ probed. Putting the same N loaders on N machines behind an
  * RPC fan-out changes deployment, not results.
  *
  * Bit-exact parity with the single-node serve (and therefore with
  * the batch VectorSearch.knnIvfAssigned, whose parity
  * IvfLocalServeSpec pins): both run the one request path,
  * IvfLocalServer.serve — the probed cells partition across shards,
  * each shard returns its k best on the UNROUNDED score, and the
  * global top-k is a subset of the union of per-shard top-k.
  * ShardedIvfServeSpec pins parity, the over-ceiling unlock, and that
  * every shard still passes the per-JVM admission guard.
  */
final class ShardedIvfServer(shards: Array[IvfLocalServer]) extends Serializable {

  def nShards: Int = shards.length

  /** Serve one request: fan out to every shard (each scans only its
    * owned ∩ probed cells), merge the per-shard unrounded top-k. */
  def search(qv: Array[Float]): Array[(Long, Double, Int)] =
    IvfLocalServer.serve(shards, qv)
}

object ShardedIvfServer {

  /** Build the N-shard fleet from the same persisted artifacts the
    * single-node loader reads: shard i holds the cells with
    * `cell_id % nShards == i` (the documented hash(cell_id) % N seam
    * with the identity hash — cell ids are already uniformly-assigned
    * k-means/partition ids). Every shard load goes through the
    * UNCHANGED single-node path, so the per-JVM admission guard still
    * binds per shard: a corpus fits iff every shard fits, total
    * capacity ≈ nShards × MaxRowsPerJvm. */
  def fromArtifacts(assigned: DataFrame, centroids: DataFrame,
                    k: Int, nprobe: Int, nShards: Int,
                    maxRowsPerShard: Long = LocalServe.MaxRowsPerJvm)
      : ShardedIvfServer = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val shards = Array.tabulate(nShards) { i =>
      IvfLocalServer.fromArtifacts(
        assigned.filter(pmod(col("cell_id"), lit(nShards)) === lit(i)),
        centroids, k, nprobe, maxRowsPerShard)
    }
    new ShardedIvfServer(shards)
  }
}
