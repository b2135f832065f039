package graft

import org.apache.spark.sql.functions._

/** End-to-end replica of the reference pipeline
  * (/root/reference/src/chroma.py main): corpus load → embed → upsert
  * into the "index" (a parquet-backed table) → query generation → top-k
  * cosine retrieval → relevancy scoring → latency percentiles + IR
  * metrics → report. Every stage is the distributed operator from this
  * library; run `runMain graft.Demo [sfDir]`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session()

    println("=" * 70)
    println(s"graft demo — reference pipeline on $sfDir")
    println("=" * 70)

    // 1. corpus load + normalization (reference: db.load_movie_plots_csv)
    val docs = queries.IngestQueries.ingDocs(spark, sfDir).cache()
    println(s"corpus: ${docs.count()} documents")

    // 2. embedding (reference: SentenceTransformer → here hashing-TF)
    val embedded = operators.Embed.embedDocs(
      docs.withColumnRenamed("id", "doc_id"), "text", 64).cache()
    println(s"embedded: ${embedded.count()} vectors of dim 64")

    // 3. upsert into the index table, last write wins (reference:
    //    collection.upsert) — re-submitting the first 10 docs
    val v0 = embedded.select(col("doc_id"), col("embedding"), lit(0).as("version"))
    val v1 = embedded.filter(col("doc_id") < 10)
      .select(col("doc_id"), col("embedding"), lit(1).as("version"))
    val index = operators.Upsert.lastWriteWins(v0.unionAll(v1), "doc_id", "version")
    println(s"index: ${index.count()} entries after upsert (10 re-upserted)")

    // 4. deterministic query generation (reference: Ollama querygen)
    val queryTexts = operators.TextAnalysis.queryGen(
      docs.withColumnRenamed("id", "doc_id"), "text")
    println(s"queries: ${queryTexts.count()} generated")

    // 5. embed queries, top-5 cosine retrieval (reference: collection.query)
    val qVecs = operators.Embed.embedDocs(queryTexts
        .select(col("doc_id"), col("query").as("text")), "text", 64)
      .select(col("doc_id").as("query_id"), col("embedding").as("qv"))
    val corpus = index.select(col("doc_id").as("vec_id"),
      col("embedding").as("v"), lit(0).as("label"))
    val t0 = System.nanoTime()
    val hits = operators.VectorSearch.knnCosine(qVecs, corpus, 5).cache()
    val nHits = hits.count()
    val ms = (System.nanoTime() - t0) / 1e6
    println(f"retrieval: $nHits rows (top-5 × ${nHits / 5} queries) in $ms%.0f ms")

    // 5b. persistent-index retrieval (reference: chromadb.PersistentClient
    //     + hnsw index, chroma.py:70-80): k-means centroids on a sample,
    //     build the parquet-backed IVF index, serve the same queries from
    //     the LOADED index, compare against brute force
    val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft_demo_index"
    val vecCorpus = corpus.select(col("vec_id"), col("v"))
    val cents = operators.IvfIndex.kmeansCentroids(vecCorpus, 16)
    operators.IndexStore.build(vecCorpus, cents, idxPath)
    val t1 = System.nanoTime()
    val ivfHits = operators.IndexStore.query(spark, idxPath, qVecs, 5, 4).cache()
    val nIvf = ivfHits.count()
    val ivfMs = (System.nanoTime() - t1) / 1e6
    val overlap = ivfHits.select("query_id", "vec_id")
      .intersect(hits.select("query_id", "vec_id")).count()
    println(f"persistent IVF: $nIvf rows in $ivfMs%.0f ms; " +
      f"top-5 overlap with brute force ${overlap.toDouble / nHits}%.2f")

    // 5c. hybrid retrieval (beyond the reference): BM25 lexical arm +
    //     the vector arm above, fused by reciprocal rank. The fused
    //     list should self-retrieve at least as well as either arm.
    val lex = operators.Bm25.search(
      docs.withColumnRenamed("id", "doc_id"), "text",
      queryTexts.select(col("doc_id").as("query_id"), col("query")),
      "query", 10)
    val fused = operators.Hybrid.rrfFuse(Seq(
      lex.select("query_id", "doc_id", "rnk"),
      hits.select(col("query_id"), col("vec_id").as("doc_id"), col("rnk"))), 5)
    val fusedSelf = fused
      .filter(col("query_id") === col("doc_id") && col("rnk") === 1).count()
    println(s"hybrid RRF: $fusedSelf/${nHits / 5} queries rank their source doc #1")

    // 6. relevancy: a result is relevant iff it retrieves the query's
    //    own source doc or scores ≥ 0.8 cosine (stand-in for LLM ≥ 4/5)
    val judged = hits.withColumn("rel",
      when(col("query_id") === col("vec_id") || col("score") >= 0.8, 1).otherwise(0))

    // 7. IR metrics with reference semantics (queries.py)
    val recall = operators.IrMetrics.recallPerQuery(judged)
    val ndcg = operators.IrMetrics.ndcgPerQuery(judged)
    val summary = operators.IrMetrics.irSummary(recall, ndcg).head
    val selfHit = hits.filter(col("query_id") === col("vec_id") && col("rnk") === 1).count()
    println(s"self-retrieval: $selfHit/${nHits / 5} queries rank their source doc #1")
    println(f"IR: avg recall=${summary.getAs[Double]("avg_recall")}%.3f " +
      f"avg ndcg=${summary.getAs[Double]("avg_ndcg")}%.3f")

    // 8. per-query serving latency → percentiles (reference: queries.py
    //    stamps latency_ms on every served query, metrics.py summarizes):
    //    each query runs INDIVIDUALLY against the persistent index — the
    //    interactive request path, measured as the reference measures it —
    //    and the captured milliseconds feed the exact percentile operator.
    val session = spark
    import session.implicits._
    val qCached = qVecs.cache()
    val qIds = qCached.select("query_id").orderBy("query_id").limit(20)
      .collect().map(_.getLong(0)).toSeq
    val measured = operators.Latency.measure[Long](qIds, qid =>
      operators.IndexStore.query(spark, idxPath,
        qCached.filter(col("query_id") === qid), 5, 4).count())
    val latDf = measured.toDF("query_id", "latency_ms")
      .withColumn("path", lit("ivf_knn"))
    val lp = operators.Pcts.p50p95p99(latDf, Seq("path"), "latency_ms").head()
    println(f"serving latency (${measured.size} individually-served queries): " +
      f"P50=${lp.getDouble(1)}%.1f ms P95=${lp.getDouble(2)}%.1f ms " +
      f"P99=${lp.getDouble(3)}%.1f ms")

    // 9. the dedup tail (beyond the reference): near-dup pairs →
    //    connected components → survivor per duplicate group
    val dd = docs.withColumnRenamed("id", "doc_id")
    val pairs = operators.Dedup.ngramJaccardPairs(dd, 3, 0.05)
    val nPairs = pairs.count()
    if (nPairs > 0) {
      val survivors = operators.GraphOps.survivors(
        pairs.select("id_a", "id_b"),
        dd.select(col("doc_id"), length(col("text")).as("n_chars")), "n_chars")
      val dropped = survivors.agg(sum("n_dropped")).head().getLong(0)
      println(s"dedup: $nPairs near-dup pairs -> ${survivors.count()} groups, " +
        s"$dropped docs dropped after survivor selection")
    } else println("dedup: no near-dup pairs at this threshold")

    // 10. compressed-domain ANN (beyond the reference): the complete
    //     production recipe — PQ-encode the corpus, probe IVF cells,
    //     ADC-score candidates, exact-rescore the survivors
    val cb = operators.Pq.codebook(vecCorpus)
    val codes = operators.Pq.encode(vecCorpus, cb)
    val withCell = operators.VectorSearch.assignCells(vecCorpus, cents)
      .select("vec_id", "cell_id").join(codes, "vec_id")
    val adcHits = operators.Pq.searchDotIvf(qVecs, withCell, cents, cb, 5, 4)
    val adcOverlap = adcHits.select("query_id", "vec_id")
      .intersect(hits.select("query_id", "vec_id")).count()
    println(f"IVF+PQ ADC: top-5 overlap with brute force " +
      f"${adcOverlap.toDouble / nHits}%.2f (floats never read)")

    // 11. data-quality contract + corpus analytics (beyond the
    //     reference): the checks a pipeline runs before shipping a crawl
    val dq = queries.Relational.dqChecksOn(
      Tables.documents(spark, sfDir)).collect()
    val failed = dq.filter(!_.getBoolean(3)).map(_.getString(1))
    println(if (failed.isEmpty) s"data quality: all ${dq.length} rules pass"
      else s"data quality: FAILING rules ${failed.mkString(", ")}")
    val funnel = queries.Relational.q17Funnel(spark, sfDir).head()
    println(s"funnel: ${funnel.getLong(0)} viewers -> " +
      s"${funnel.getLong(1)} clickers -> ${funnel.getLong(2)} buyers " +
      s"(view->click ${funnel.getDouble(3)}, click->purchase ${funnel.getDouble(4)})")

    // 12. the binary retrieval tier (round 6): 16-byte sign codes,
    //     XOR+popcount shortlist, exact rescore of only the survivors —
    //     overlap measured against the exact answer for the SAME queries
    val binHits = queries.VectorQueries.v17HammingRescore(spark, sfDir)
    val exactSame = queries.VectorQueries.v1KnnCos(spark, sfDir)
      .select("query_id", "vec_id")
    val binOverlap = binHits.select("query_id", "vec_id")
      .intersect(exactSame).count()
    println(f"binary tier: Hamming-shortlist+rescore top-5 overlap " +
      f"${binOverlap.toDouble / exactSame.count()}%.2f (32x smaller scan)")

    // 13. index-quality regression + operating point (round 6)
    val curve = queries.VectorQueries.v18TuningCurve(spark, sfDir)
      .orderBy("nprobe").collect()
      .map(r => s"nprobe=${r.getLong(0)}:${r.getDouble(2)}")
    println(s"IVF tuning curve: ${curve.mkString("  ")}")

    // 14. canonical-form dedup + source capping: the crawl-hygiene pass
    val canon = queries.CorpusQueries.d15CanonicalDedup(spark, sfDir)
    val folded = canon.filter(col("n_copies") >= 2).count()
    val capped = queries.CorpusQueries.dc1SourceCap(spark, sfDir).count()
    println(s"crawl hygiene: $folded canonical-dup groups folded; " +
      s"source cap keeps $capped docs")

    println("=" * 70)
    println("demo complete")
    spark.stop()
  }
}
