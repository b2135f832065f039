package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{avg, col, count, lit, max}

/** Driver-side per-request HYBRID serving runtime (r13 verdict task 6)
  * — the composition of the serving runtimes the way v19_hybrid_ann
  * composes the batch operators: BM25 over the persisted tf artifact +
  * the multi-probe sign-LSH dense arm over the persisted bucket
  * directory (the v19 `vixcb` index artifact) + rank-only RRF fusion.
  * One query string in, fused top-k (doc_id, rrf_score, rnk) out, zero
  * Spark jobs — the reference's actual per-query loop
  * (/root/reference/src/chroma.py:96-106: query → collection.query →
  * fused hits with latency_ms stamped).
  *
  * Parity is bit-exact with the distributed v19HybridAnn, pinned by
  * HybridLocalServeSpec over every fixture query:
  *  - tokens: split on ' ', empties dropped (Embed.tokens);
  *  - term hash: the same (h·31 + codepoint) mod 1e9+7 polyhash,
  *    bucket = hash mod dim (Embed.tokenHash);
  *  - query embedding: bucket counts, L2 norm on RAW counts, each
  *    element HALF_UP-rounded to 6 dp (Embed.withNorm order);
  *  - BM25: Lucene +1 idf floor, the exact expression shape of
  *    Bm25.searchFromTf with scores HALF_UP-rounded to 4 dp and terms
  *    accumulated in ascending term order (the ≤3-term query sums are
  *    order-insensitive at 4 dp on this corpus — the same robustness
  *    the cross-engine gate already relies on);
  *  - dense arm: per-table sign buckets from the shared ±1 planes,
  *    probes = own bucket + every hamming-1 flip, candidates deduped,
  *    cosine as the same sequential double fold, rank by (score desc,
  *    vec_id asc) — VectorSearch.knnLshRpMultiProbeFrom semantics;
  *  - RRF: 1/(60+rnk) per arm, sum rounded to 6 dp, top-k by
  *    (rrf_score desc, doc_id asc) — Hybrid.rrfFuse.
  *
  * Scale honesty (same contract as IvfLocalServer): the posting lists
  * and the bucket directory are in-heap here — the sf-rung deployment
  * of partition-pruned reads against the SAME persisted artifacts
  * (tf/vixcb parquet keyed by term / (tbl, bucket)); a request touches
  * only its query's posting lists and probed cells, so the access
  * pattern is pruned by construction at any corpus size.
  */
final class HybridLocalServer(
    // term -> IMPACT-PRUNED postings (doc, tf, dl): the serve-side
    // copy of Bm25.prunedTf, so per-request lexical work is bounded
    // by |query terms| * PostingCap at any corpus size — the pruning
    // that caps the batch arm also caps the P99 postingMass here
    postings: java.util.HashMap[String, Array[(Long, Long, Long)]],
    // term -> FULL document frequency (idf is computed from the
    // unpruned corpus; pruning truncates lists, it does not re-weight)
    dfByTerm: java.util.HashMap[String, Long],
    nDocs: Long, avgdl: Double,
    buckets: java.util.HashMap[Long, Array[(Long, Array[Double], Double)]], // (tbl<<48)|bucket -> (vec, v, vn)
    w: Array[Array[Array[Double]]],
    private[operators] val armK: Int, private[operators] val fuseK: Int,
    // Per-request dense-candidate budget (r15 verdict task 5): the P99
    // tail IS dense-arm candidate volume (LATENCY_sf1 rho(ms,
    // dense_cands)=0.97, ~9.5k candidates at P99), so a bounded
    // deployment stops ADMITTING new candidates once the budget is hit.
    // Probe order is fixed (table 0..T-1; own bucket, then bit-0..bits-1
    // flips), so the budget keeps the highest-yield probes — each
    // table's exact-match cell — and sheds the hamming-1 expansion
    // tail. Deterministic, and Int.MaxValue (the default) is exactly
    // the uncapped server, preserving HybridLocalServeSpec's bit-exact
    // parity with the distributed v19HybridAnn.
    denseCap: Int = Int.MaxValue) extends Serializable {

  private[operators] val dim = w(0)(0).length

  /** One request: fused top-fuseK (doc_id, rrf_score, rnk). */
  def search(query: String): Array[(Long, Double, Int)] =
    searchWithStats(query)._1

  /** search + the request's exact work profile, for tail-latency
    * attribution: `postingMass` = Σ posting-list lengths over the
    * query's distinct matched terms (every BM25 partial the lexical
    * arm scores), `denseCands` = distinct vectors scored by the probed
    * LSH cells. Zipf term frequencies make postingMass heavy-tailed —
    * a query containing a near-stopword term scores a large fraction
    * of the corpus — which is the P99 driver LatencyReport measures. */
  def searchWithStats(query: String): (Array[(Long, Double, Int)], Long, Long) =
    HybridLocalServer.serve(Array(this), query)

  /** Shard-facing lexical partials: for each query term THIS node's
    * posting shard owns, the term's scored postings (doc_id, unrounded
    * BM25 part) in the exact expression shape of Bm25.searchFromTf.
    * Shipping per-term parts — ≤ PostingCap rows/term, the same volume
    * the single node scans — lets the request path re-sum in ascending
    * GLOBAL term order, so a sharded sum is bit-identical to the
    * single-node sum (each term is owned by exactly one shard; no
    * cross-shard add-order ambiguity). */
  private[operators] def lexTermParts(
      toks: Array[String]): Array[(String, Array[(Long, Double)])] =
    toks.distinct.sorted.flatMap { term =>
      val plist = postings.get(term)
      if (plist == null) None
      else {
        val df = dfByTerm.get(term).toDouble
        val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
        Some(term -> plist.map { case (docId, tf, dl) =>
          (docId, idf * (tf * (Bm25.K1 + 1.0)) /
            (tf + Bm25.K1 * ((1.0 - Bm25.B) + Bm25.B * dl / avgdl)))
        })
      }
    }

  /** Shard-facing dense candidates: every distinct vector in THIS
    * node's share of the probed cells (per table, the own sign bucket
    * and then each hamming-1 flip), with its cosine, admitted in probe
    * order until the node's `denseCap` is reached. */
  private[operators] def denseCandidates(qv: Array[Double],
                                         qn: Double): Array[(Long, Double)] = {
    val m = new java.util.HashMap[Long, Double]()
    w.indices.foreach { t =>
      val b0 = LocalServe.signBucket(w(t), qv)
      (-1 until w(t).length).foreach { p =>
        val cell = buckets.get((t.toLong << 48) | (if (p < 0) b0 else b0 ^ (1L << p)))
        if (cell != null) cell.foreach { case (vecId, v, vn) =>
          if (!m.containsKey(vecId) && m.size < denseCap)
            m.put(vecId, LocalServe.dot(qv, v) / (qn * vn))
        }
      }
    }
    HybridLocalServer.entries(m)
  }
}

object HybridLocalServer {

  /** The measured tail-bounded dense-candidate budget (r17 verdict
    * task 6, LATENCY_sf1): the hybrid tail is entirely dense-candidate
    * bound — rho(ms, dense_cands) = 0.97, slowest requests admit
    * ~9-13k candidates from the hamming-1 probe expansion. Capping at
    * 2048 keeps every exact-match cell's candidates while shedding
    * that expansion tail: P99 9.0 → 2.3 ms at fused_agreement 0.886
    * vs the uncapped batch-parity ranking. A deployment that needs a
    * latency SLO passes it as `fromArtifacts(denseCap = …)`; the
    * default stays uncapped (bit-exact batch parity). */
  val TailBoundedDenseCap = 2048

  /** The hybrid request path over a fleet (one shard for a single
    * node):
    *  - lexical: gather every shard's owned-term partials, re-sum them
    *    in ascending global term order (the single-node add order),
    *    round the sum to 4 dp (Bm25.searchFromTf's round(sum, 4)) and
    *    keep the top-armK;
    *  - dense: embed the query once, gather each shard's admitted
    *    candidates and dedup by id — a vector's cosine is the same
    *    whichever table's bucket admitted it, so the fleet-wide set is
    *    the single node's. A zero-token query has no embedding: the
    *    distributed path's explode of an empty token array drops it
    *    from the dense arm, so it contributes no dense candidates here
    *    either (an unguarded embed would divide by a zero norm and
    *    NaN-sort);
    *  - RRF (Hybrid.rrfFuse): 1/(60+rnk) per arm, summed, rounded to
    *    6 dp, top-fuseK by (rrf_score desc, doc_id asc).
    * Returns the fused rows, the posting mass and the dense-candidate
    * count. */
  private[operators] def serve(shards: Array[HybridLocalServer], query: String)
      : (Array[(Long, Double, Int)], Long, Long) = {
    val s = shards(0)
    val toks = query.split(" ", -1).filter(_.nonEmpty)

    var postingMass = 0L
    val lex = new java.util.HashMap[Long, Double]()
    shards.flatMap(_.lexTermParts(toks)).sortBy(_._1).foreach { case (_, parts) =>
      postingMass += parts.length
      parts.foreach { case (id, p) => lex.merge(id, p, (a, b) => a + b) }
    }
    val lexTop = new LocalServe.TopK(s.armK)
    lex.forEach((id, sc) => lexTop.offer(id, LocalServe.round(sc, 4)))

    val dense = new java.util.HashMap[Long, Double]()
    if (toks.nonEmpty) {
      val qv = embed(toks, s.dim)
      val qn = math.sqrt(LocalServe.dot(qv, qv))
      shards.foreach(_.denseCandidates(qv, qn).foreach { case (id, sc) =>
        dense.putIfAbsent(id, sc) })
    }
    val vecTop = new LocalServe.TopK(s.armK)
    dense.forEach((id, sc) => vecTop.offer(id, sc))

    val rrf = new java.util.HashMap[Long, Double]()
    Seq(lexTop, vecTop).foreach(_.result().zipWithIndex.foreach { case ((id, _), i) =>
      rrf.merge(id, 1.0 / (Hybrid.RrfK + (i + 1)), (a, b) => a + b) })
    val fused = new LocalServe.TopK(s.fuseK)
    rrf.forEach((id, sc) => fused.offer(id, LocalServe.round(sc, 6)))
    (LocalServe.ranked(fused.result()), postingMass, dense.size.toLong)
  }

  /** Embed.withNorm driver-side: bucket counts of the Embed.tokenHash
    * polyhash (the one shared implementation, so supplementary code
    * points advance by Character.charCount exactly as the distributed
    * path does) → L2 norm on RAW counts → each element HALF_UP-rounded
    * to 6 dp. */
  private[graft] def embed(toks: Array[String], dim: Int): Array[Double] = {
    val counts = new Array[Double](dim)
    toks.foreach { t =>
      val h = graft.functions.PolyHash.hash(t, graft.functions.PolyHash.Base, Embed.HashMod)
      counts((h % dim).toInt) += 1.0
    }
    val nrm = math.sqrt(LocalServe.dot(counts, counts))
    counts.map(c => LocalServe.round(c / nrm, 6))
  }

  private def entries(m: java.util.HashMap[Long, Double]): Array[(Long, Double)] = {
    val out = new Array[(Long, Double)](m.size)
    var i = 0
    m.forEach { (id, sc) => out(i) = (id, sc); i += 1 }
    out
  }

  /** Build from the SAME persisted artifacts the batch v19 serves
    * from: the Bm25 PRUNED posting table (bm25ptf — bounded lists are
    * the point of serving from a pruned index), the full tf table
    * (read only through vocab-sized/scalar AGGREGATES: per-term df and
    * the corpus n_docs/avgdl — never collected row-wise), and the v19
    * bucket directory (vixcb) plus the shared plane schedule. Collects
    * are one-time index loads (the fit-or-load artifacts are
    * metadata-bounded at the sf rungs; see the class scaladoc for the
    * 100 TB layout). */
  def fromArtifacts(tf: DataFrame, ptf: DataFrame, cb: DataFrame,
                    w: Array[Array[Array[Double]]],
                    armK: Int, fuseK: Int,
                    denseCap: Int = Int.MaxValue,
                    maxRows: Long = LocalServe.MaxRowsPerJvm): HybridLocalServer = {
    // single-JVM admission guard (r16 verdict task 6) on both in-heap
    // structures: the pruned postings and the bucket directory. A
    // bigger corpus splits the same term-/(tbl,bucket)-keyed artifacts
    // across serving nodes (LocalServe scaladoc's sharding seam).
    LocalServe.guard(cb.count(), "hybrid dense bucket directory", maxRows)
    LocalServe.guard(ptf.count(), "hybrid pruned posting table", maxRows)
    val postRows = ptf.select(col("term"), col("doc_id").cast("long"),
      col("tf").cast("long"), col("dl").cast("long")).collect()
    val postings = new java.util.HashMap[String, Array[(Long, Long, Long)]]()
    postRows.groupBy(_.getString(0)).foreach { case (term, rows) =>
      postings.put(term,
        rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1))
    }
    // full-corpus df per term (vocab-sized) and the corpus constants,
    // via the SAME aggregates Bm25.searchPruned plans — the serve tier
    // scores with the exact doubles the distributed arm scores with
    val dfByTerm = new java.util.HashMap[String, Long]()
    tf.groupBy("term").agg(count(lit(1)).as("df")).collect()
      .foreach(r => dfByTerm.put(r.getString(0), r.getLong(1)))
    val st = tf.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")).head()
    val nDocs = st.getLong(0)
    val avgdl = st.getDouble(1)

    val dirRows = cb.select(col("tbl"), col("bucket"), col("vec_id"),
      col("v"), col("vn")).collect()
    val dir = new java.util.HashMap[Long, Array[(Long, Array[Double], Double)]]()
    dirRows.groupBy(r => (r.getInt(0).toLong << 48) | r.getLong(1))
      .foreach { case (key, rows) =>
        dir.put(key, rows.map(r => (r.getLong(2),
          r.getSeq[Double](3).toArray, r.getDouble(4))).sortBy(_._1))
      }
    new HybridLocalServer(postings, dfByTerm, nDocs, avgdl, dir, w, armK, fuseK,
      denseCap)
  }
}
