package graft

import graft.operators.{Bm25, Embed, FitOrLoad, HybridLocalServer, TextAnalysis, VectorSearch}
import graft.queries.{CorpusQueries, VectorQueries}
import org.apache.spark.sql.functions._

/** Bit-exact parity between the driver-side HybridLocalServer and the
  * distributed v19_hybrid_ann over EVERY fixture query — the same
  * contract IvfLocalServeSpec/HnswLocalServeSpec pin for their
  * families: the local runtime is a serving deployment of the same
  * artifacts and conventions, not a re-tuned approximation. */
class HybridLocalServeSpec extends SparkSpec {

  private lazy val docs = TextAnalysis.zipfDocsCached(
    Tables.documents(spark, sf).select("doc_id", "text"), "text", sf)
  private lazy val tf = Bm25.tfTableCached(docs, "text", sf)
  private lazy val ptf = Bm25.prunedTfCached(tf, sf)
  private lazy val queries = TextAnalysis.zipfQueriesCached(tf, sf)
    .select(col("doc_id").as("query_id"), col("query"))

  private lazy val artifacts = {
    val bits = VectorQueries.pairBits(VectorQueries.docCount(spark, sf))
    val w = VectorQueries.pairWeights(bits).take(CorpusQueries.HybridTables)
    val dEmb = Embed.embedDocsCached(docs, "text", CorpusQueries.HybridDim, sf)
      .select(col("doc_id").as("vec_id"), col("embedding").as("v"))
    val cb = FitOrLoad.parquet(spark, "vixcb", sf,
      s"dim=${CorpusQueries.HybridDim};tables=${CorpusQueries.HybridTables};bits=$bits",
      docs.count())(VectorSearch.rpBuckets(dEmb, w))
    (cb, w)
  }

  private lazy val server =
    HybridLocalServer.fromArtifacts(tf, ptf, artifacts._1, artifacts._2,
      CorpusQueries.HybridArmK, CorpusQueries.HybridK)

  test("hybrid_local == distributed v19_hybrid_ann, every query, bit-exact") {
    val batch = CorpusQueries.v19HybridAnn(spark, sf)
      .select("query_id", "doc_id", "rrf_score", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    val qs = queries.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(qs.nonEmpty)
    var checked = 0
    qs.foreach { case (qid, text) =>
      val local = server.search(text).map { case (d, s, r) => (qid, d, s, r) }
      val expect = batch(qid).sortBy(_._4)
      assert(local.toSeq == expect.toSeq,
        s"query $qid '$text': local=${local.toSeq} batch=${expect.toSeq}")
      checked += 1
    }
    assert(checked == batch.size)
  }

  test("zero-token query contributes no dense-arm candidates (r14 advice)") {
    // An unguarded embed() divides by a zero L2 norm; NaN cosines sort
    // first and surface arbitrary dense hits. The distributed path drops
    // the query from the dense arm entirely, so the local server must
    // return lexical-arm-only fusion for "" / whitespace queries.
    Seq("", "   ").foreach { q =>
      val hits = server.search(q)
      assert(hits.forall { case (_, sc, _) => !sc.isNaN },
        s"NaN rrf score for ${q.length}-space query: ${hits.toSeq}")
      assert(hits.isEmpty,
        s"no-token query produced hits without any arm: ${hits.toSeq}")
    }
  }

  test("supplementary-character tokens hash as code points (r14 advice)") {
    // 𝒳 (U+1D4B3) is a surrogate pair; a per-char fold would hash the
    // low surrogate as an extra code point and break parity with
    // PolyHash.hash. The fixture is ASCII so the parity suite can't see
    // this; pin the hash directly against the shared implementation.
    val t = "a𝒳b" // "a𝒳b"
    val want = graft.functions.PolyHash.hash(
      t, graft.functions.PolyHash.Base, Embed.HashMod)
    // reproduce the server's bucket choice via a 1-token query: the
    // embedding has weight 1.0 in exactly bucket (hash % dim)
    val dim = CorpusQueries.HybridDim
    val emb = HybridLocalServer.embed(Array(t), dim)
    assert(emb((want % dim).toInt) == 1.0,
      s"token bucket mismatch: expected bucket ${want % dim}")
    assert(emb.count(_ != 0.0) == 1)
  }

  test("dense-candidate budget: admits at most cap, default is uncapped " +
      "parity (r15 verdict task 5)") {
    assert(HybridLocalServer.TailBoundedDenseCap == 2048,
      "the named point must stay the LATENCY_sf1-measured cap " +
        "(re-measure before moving it)")
    val qs = queries.collect().map(r => (r.getLong(0), r.getString(1)))
    // a cap at least as large as every request's candidate set is the
    // identity — bit-exact with the uncapped server on every query
    val roomy = HybridLocalServer.fromArtifacts(tf, ptf, artifacts._1,
      artifacts._2, CorpusQueries.HybridArmK, CorpusQueries.HybridK,
      denseCap = Int.MaxValue - 1)
    qs.foreach { case (_, text) =>
      assert(roomy.search(text).toSeq == server.search(text).toSeq) }
    // a tight cap bounds the admitted dense candidates on EVERY request
    // (the P99 driver: LATENCY_sf1 rho(ms, dense_cands) = 0.97)
    val cap = 3
    val tight = HybridLocalServer.fromArtifacts(tf, ptf, artifacts._1,
      artifacts._2, CorpusQueries.HybridArmK, CorpusQueries.HybridK,
      denseCap = cap)
    var sawUncappedBigger = false
    qs.foreach { case (_, text) =>
      val (_, _, cands) = tight.searchWithStats(text)
      assert(cands <= cap, s"'$text' admitted $cands > cap $cap")
      if (server.searchWithStats(text)._3 > cap) sawUncappedBigger = true
    }
    // the fixture must actually exercise the budget, or this test is vacuous
    assert(sawUncappedBigger,
      "no fixture query exceeded the tight cap; test saw no capping")
  }

  test("per-request latency is job-free in-process compute") {
    val q = queries.head().getString(1)
    server.search(q) // warm (JIT)
    val t0 = System.nanoTime()
    val n = 50
    (1 to n).foreach(_ => server.search(q))
    val perReqMs = (System.nanoTime() - t0) / 1e6 / n
    // generous bound: the point is no 300 ms Spark-job floor per request
    assert(perReqMs < 100.0, f"per-request $perReqMs%.1f ms")
  }
}
