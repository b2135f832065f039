package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CorpusQueries, IngestQueries, MetricQueries, Relational, VectorQueries}

/** The query registry (SURVEY.md §2 inventory, §6 oracle conventions).
  * Every operator is one [[SparkEntry.Row]] in `rows`, declared once:
  * its name, the function that builds its result over a fixture
  * directory, and either the equivalent DuckDB SQL over the same
  * parquet tables or the reason it is checked rows-only. `queries`,
  * `oracleSql` and `benchQueries` are views of `rows`; `Verify` and
  * `Bench` select from `rows` by name.
  */
object SparkEntry {

  type Query = (SparkSession, String) => DataFrame

  /** One registered query. `oracle` is `Right(sql)`, kept unevaluated
    * so that building `queries` never forces an oracle string, or
    * `Left(reason)` for a rows-only check. `bench` is the path Bench
    * times in place of `run`, where `run` is a verification harness
    * around the production path. */
  final case class Row(name: String, run: Query,
      oracle: Either[String, () => String], bench: Option[Query] = None)

  private def row(name: String, run: Query, sql: => String,
      bench: Option[Query] = None) = Row(name, run, Right(() => sql), bench)

  private def rowsOnly(name: String, run: Query, reason: String) =
    Row(name, run, Left(reason))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Pricing(spark, "/root/testdata/sf0.001")

  val rows: Seq[Row] = Seq(
    row("q1_pricing", Relational.q1Pricing, Relational.q1Sql),
    row("q2_filter_agg", Relational.q2FilterAgg, Relational.q2Sql),
    row("q3_join5", Relational.q3Join5, Relational.q3Sql),
    row("q4_exists", Relational.q4Exists, Relational.q4Sql),
    row("q5_window", Relational.q5Window, Relational.q5Sql),
    row("q6_rollup", Relational.q6Rollup, Relational.q6Sql),
    row("q7_topk_per_group", Relational.q7TopkPerGroup, Relational.q7Sql),
    // same semantics, custom operator
    row("q8_topk_native", Relational.q8TopkNative, Relational.q7Sql),
    row("q9_running_total", Relational.q9RunningTotal, Relational.q9Sql),
    row("q10_distinct", Relational.q10Distinct, Relational.q10Sql),
    row("j1_json_extract", Relational.j1JsonExtract, Relational.j1Sql),
    row("o1_anti_join", Relational.o1AntiJoin, Relational.o1Sql),
    row("p1_pivot", Relational.p1Pivot, Relational.p1Sql),
    row("b1_range_join", Relational.b1RangeJoin, Relational.b1Sql),
    row("c1_cube", Relational.c1Cube, Relational.c1Sql),
    row("q11_above_avg", Relational.q11AboveAvg, Relational.q11Sql),
    row("u2_set_ops", Relational.u2SetOps, Relational.u2Sql),
    // m4/q12/roll1: sketch values are engine-specific, so the
    // registered rows join each sketch to an exact twin and emit
    // within-bound attestation flags; the oracle expects every flag = 1,
    // which hash-enforces the 5% error bound. Timing that harness would
    // measure the exact twin (m4's even sorts whole groups), so Bench
    // times the raw sketch path production runs.
    row("m4_approx_pcts", Relational.m4ApproxPcts, Relational.m4Sql,
      bench = Some(Relational.m4ApproxRaw _)),
    row("q12_approx_distinct", Relational.q12ApproxDistinct, Relational.q12Sql,
      bench = Some(Relational.q12ApproxRaw _)),
    row("cf1_contamination", CorpusQueries.cf1Contamination, CorpusQueries.cf1Sql),
    row("t6_bigram_stats", CorpusQueries.t6BigramStats, CorpusQueries.t6Sql),
    row("a1_asof", Relational.a1Asof, Relational.a1Sql),
    row("e1_events_window", Relational.e1EventsWindow, Relational.e1Sql),
    row("e2_sessions", Relational.e2Sessions, Relational.e2Sql),
    row("e3_attribution", Relational.e3Attribution, Relational.e3Sql),
    row("pw1_partitioned_write", Relational.pw1PartitionedWrite, Relational.pw1Sql),
    row("pw2_temporal_write", Relational.pw2TemporalWrite, Relational.pw2Sql),
    row("m5_histogram", Relational.m5Histogram, Relational.m5Sql),
    row("vf_norm", VectorQueries.vfNorm, VectorQueries.vfNormSql),
    row("vf_pairwise", VectorQueries.vfPairwise, VectorQueries.vfPairwiseSql),
    row("v0_embed", VectorQueries.v0Embed, VectorQueries.v0Sql),
    row("v1_knn_cos", VectorQueries.v1KnnCos, VectorQueries.v1Sql),
    row("v2_knn_dot", VectorQueries.v2KnnDot, VectorQueries.v2Sql),
    row("v3_knn_l2", VectorQueries.v3KnnL2, VectorQueries.v3Sql),
    row("v4_knn_filtered", VectorQueries.v4KnnFiltered, VectorQueries.v4Sql),
    row("v5_range_search", VectorQueries.v5Range, VectorQueries.v5Sql),
    row("v6_knn_ivf", VectorQueries.v6KnnIvf, VectorQueries.v6Sql),
    row("v7_knn_lsh", VectorQueries.v7KnnLsh, VectorQueries.v7Sql),
    row("v13_knn_lsh_mp", VectorQueries.v13KnnLshMp, VectorQueries.v13Sql),
    rowsOnly("v8_knn_ivf_kmeans", VectorQueries.v8KnnIvfKmeans,
      "an MLlib k-means fit is not SQL-expressible: its float centroid " +
        "averages depend on engine and order. km1 is the hash-checked " +
        "twin; the spec asserts v8's recall against brute force."),
    row("v9_ivf_persisted", VectorQueries.v9IvfPersisted, VectorQueries.v9Sql),
    row("ti1_text_inference", VectorQueries.ti1TextInference, VectorQueries.ti1Sql),
    row("vq1_quantize", VectorQueries.vq1Quantize, VectorQueries.vq1Sql),
    // greedy unrolled per pick (k=3)
    row("v10_mmr", VectorQueries.v10Mmr, VectorQueries.v10Sql),
    row("u3_index_upsert", VectorQueries.u3IndexUpsert, VectorQueries.u3Sql),
    row("d5_embed_neardup", VectorQueries.d5EmbedNearDup, VectorQueries.d5Sql),
    // *_s97: deterministic-subset attestation rows
    // — the same arithmetic hash-verified where the full brute-force
    // oracle arm is infeasible (sf10+); cheap at every SF
    row("d5_embed_neardup_s97", VectorQueries.d5EmbedNearDupS, VectorQueries.d5SSql),
    row("d6_neardup_lsh", VectorQueries.d6NearDupLsh, VectorQueries.d6Sql),
    row("d10_neardup_mp", VectorQueries.d10NearDupLshMp, VectorQueries.d10Sql),
    row("d10_neardup_s3", VectorQueries.d10NearDupLshMpS, VectorQueries.d10SSql),
    row("d1_exact_dedup", CorpusQueries.d1ExactDedup, CorpusQueries.d1Sql),
    row("d2_ngram_jaccard", CorpusQueries.d2NgramJaccard, CorpusQueries.d2Sql),
    row("d3_minhash", CorpusQueries.d3Minhash, CorpusQueries.d3Sql),
    row("d4_simhash", CorpusQueries.d4Simhash, CorpusQueries.d4Sql),
    row("d7_simhash_pairs", CorpusQueries.d7SimhashPairs, CorpusQueries.d7Sql),
    row("ch1_chunk", CorpusQueries.ch1Chunk, CorpusQueries.ch1Sql),
    row("ch2_pack", CorpusQueries.ch2Pack, CorpusQueries.ch2Sql),
    row("t7_redact", CorpusQueries.t7Redact, CorpusQueries.t7Sql),
    row("t1_tokens", CorpusQueries.t1Tokens, CorpusQueries.t1Sql),
    row("t2_quality", CorpusQueries.t2Quality, CorpusQueries.t2Sql),
    row("t3_langid", CorpusQueries.t3LangId, CorpusQueries.t3Sql),
    row("t4_fingerprint", CorpusQueries.t4Fingerprint, CorpusQueries.t4Sql),
    row("q0_querygen", CorpusQueries.q0QueryGen, CorpusQueries.q0Sql),
    row("u1_upsert", CorpusQueries.u1Upsert, CorpusQueries.u1Sql),
    row("u4_scd2", CorpusQueries.u4Scd2, CorpusQueries.u4Sql),
    row("tt1_time_travel", CorpusQueries.tt1TimeTravel, CorpusQueries.tt1Sql),
    row("s1_stratified", CorpusQueries.s1Stratified, CorpusQueries.s1Sql),
    row("s2_det_shuffle", CorpusQueries.s2DetShuffle, CorpusQueries.s2Sql),
    row("s3_split", CorpusQueries.s3Split, CorpusQueries.s3Sql),
    row("s4_mixture", CorpusQueries.s4Mixture, CorpusQueries.s4Sql),
    row("t8_repetition", CorpusQueries.t8Repetition, CorpusQueries.t8Sql),
    row("b2_bm25", CorpusQueries.b2Bm25, CorpusQueries.b2Sql),
    // the %-subset attestation twin (v12_s97 rule): full-size tf/ptf
    // structures, 1/1000th of the oracle's (query, doc) agg keys
    row("b2_bm25_s97", CorpusQueries.b2Bm25S, CorpusQueries.b2SSql),
    row("d8_dedup_groups", CorpusQueries.d8DedupGroupsCached, CorpusQueries.d8Sql),
    row("d9_survivors", CorpusQueries.d9Survivors, CorpusQueries.d9Sql),
    row("vq2_pq_codes", VectorQueries.vq2PqCodes, VectorQueries.vq2Sql),
    row("v11_pq_adc", VectorQueries.v11PqAdc, VectorQueries.v11Sql),
    row("t9_tfidf_keywords", CorpusQueries.t9TfidfKeywords, CorpusQueries.t9Sql),
    row("v12_hybrid_search", CorpusQueries.v12Hybrid, CorpusQueries.v12Sql),
    row("v12_hybrid_s97", CorpusQueries.v12HybridS, CorpusQueries.v12SSql),
    row("v19_hybrid_s97", CorpusQueries.v19HybridAnnS, CorpusQueries.v19SSql),
    row("v19_hybrid_ann", CorpusQueries.v19HybridAnn, CorpusQueries.v19Sql),
    row("ix3_width_preflight", VectorQueries.ix3WidthPreflight, VectorQueries.ix3Sql),
    row("q13_salted_agg", Relational.q13SaltedAgg, Relational.q13Sql),
    row("sk2_skew_salted_agg", Relational.sk2SkewSaltedAgg, Relational.sk2Sql),
    row("sk3_skew_plain_agg", Relational.sk3SkewPlainAgg, Relational.sk3Sql),
    row("q14_range_window", Relational.q14RangeWindow, Relational.q14Sql),
    row("fj1_fuzzy_join", Relational.fj1FuzzyJoin, Relational.fj1Sql),
    row("m6_zscore", Relational.m6Zscore, Relational.m6Sql),
    row("q15_gapfill", Relational.q15Gapfill, Relational.q15Sql),
    row("q16_window_suite", Relational.q16WindowSuite, Relational.q16Sql),
    row("d11_dup_spans", CorpusQueries.d11DupSpans, CorpusQueries.d11Sql),
    row("ppl1_unigram_nll", CorpusQueries.ppl1UnigramNll, CorpusQueries.ppl1Sql),
    row("f1_bloom_join", Relational.f1BloomJoin, Relational.f1Sql),
    row("j2_salted_join", Relational.j2SaltedJoin, Relational.j2Sql),
    row("dr1_random_proj", VectorQueries.dr1RandomProjection, VectorQueries.dr1Sql),
    row("sem1_semdedup", VectorQueries.sem1SemDedup, VectorQueries.sem1Sql),
    // bpe: the 8 merge rounds unrolled as CTEs (fixed-round policy)
    row("bpe1_merges", CorpusQueries.bpe1Merges, CorpusQueries.bpe1Sql),
    row("pl1_posting_stats", CorpusQueries.pl1PostingStats, CorpusQueries.pl1Sql),
    row("bpe2_encode", CorpusQueries.bpe2Encode, CorpusQueries.bpe2Sql),
    row("v14_ivf_pq", VectorQueries.v14IvfPq, VectorQueries.v14Sql),
    row("vq3_binary_quant", VectorQueries.vq3BinaryQuant, VectorQueries.vq3Sql),
    row("v16_knn_hamming", VectorQueries.v16KnnHamming, VectorQueries.v16Sql),
    row("v15_ivfpq_rescore", VectorQueries.v15IvfPqRescore, VectorQueries.v15Sql),
    row("d12_incr_dedup", CorpusQueries.d12IncrDedup, CorpusQueries.d12Sql),
    row("g1_pagerank", CorpusQueries.g1PageRank, CorpusQueries.g1Sql),
    row("stat1_corr", Relational.stat1Corr, Relational.stat1Sql),
    row("d13_containment", CorpusQueries.d13Containment, CorpusQueries.d13Sql),
    // same aggregate, bucketed layout
    row("bk1_bucketed_join", Relational.bk1BucketedJoin, Relational.j2Sql),
    row("dq1_checks", Relational.dq1Checks, Relational.dq1Sql),
    row("a2_asof_forward", Relational.a2AsofForward, Relational.a2Sql),
    row("a3_asof_tolerance", Relational.a3AsofTolerance, Relational.a3Sql),
    row("fp2_partition_fingerprint", Relational.fp2PartitionFingerprint, Relational.fp2Sql),
    row("t10_langid_eval", CorpusQueries.t10LangidEval, CorpusQueries.t10Sql),
    row("m11_global_pcts", MetricQueries.m11GlobalPcts, MetricQueries.m11Sql),
    row("v21_matryoshka", VectorQueries.v21Matryoshka, VectorQueries.v21Sql),
    row("emb1_dim_stats", VectorQueries.emb1DimStats, VectorQueries.emb1Sql),
    row("ov1_peak_concurrency", Relational.ov1PeakConcurrency, Relational.ov1Sql),
    row("tok1_fertility", CorpusQueries.tok1Fertility, CorpusQueries.tok1Sql),
    row("mm5_size_pcts", IngestQueries.mm5SizePcts, IngestQueries.mm5Sql),
    row("d16_lsh_curve", CorpusQueries.d16LshCurve, CorpusQueries.d16Sql),
    row("iv1_interval_join", Relational.iv1IntervalJoin, Relational.iv1Sql),
    row("bl1_benford", Relational.bl1Benford, Relational.bl1Sql),
    row("ppl2_bigram_nll", CorpusQueries.ppl2BigramNll, CorpusQueries.ppl2Sql),
    row("ws1_weighted_sample", CorpusQueries.ws1WeightedSample, CorpusQueries.ws1Sql),
    row("gs1_grouping_sets", Relational.gs1GroupingSets, Relational.gs1Sql),
    row("ed1_edit_distance_join", Relational.ed1EditDistanceJoin, Relational.ed1Sql),
    row("udc1_user_capped_agg", Relational.udc1UserCappedAgg, Relational.udc1Sql),
    row("pmi1_collocations", CorpusQueries.pmi1Collocations, CorpusQueries.pmi1Sql),
    row("kg1_knn_graph", VectorQueries.kg1KnnGraph, VectorQueries.kg1Sql),
    // vec_id % 3 slice at full-N widths: kg1 is thresholdless, so its
    // oracle must window the whole N·occ·L directed candidate multiset
    // — past the node at sf100's 2M vectors (the d10_s3 pattern)
    row("kg1_knn_s3", VectorQueries.kg1KnnGraphS, VectorQueries.kg1SSql),
    row("hg1_hnsw_build", VectorQueries.hg1HnswBuildCached, VectorQueries.hg1Sql),
    // vec_id % 3 slice at full-N widths: the big-rung oracle-cost
    // attestation twin for the layered build (the d10_s3 pattern)
    row("hg1_hnsw_s3", VectorQueries.hg1HnswBuildS, VectorQueries.hg1SSql),
    row("hg2_hnsw_search", VectorQueries.hg2HnswSearch, VectorQueries.hg2Sql),
    // the walk over the sliced graph: attests the DESCENT half at
    // rungs where hg2's full oracle (which re-derives every hg1 edge
    // CTE) exceeds the node
    row("hg2_hnsw_s3", VectorQueries.hg2HnswSearchS, VectorQueries.hg2SSql),
    row("hg3_hnsw_recall", VectorQueries.hg3HnswRecall, VectorQueries.hg3Sql),
    // the recall curve on the sliced graph: quality attestation for
    // rungs where hg3's full oracle exceeds the node
    row("hg3_hnsw_s3", VectorQueries.hg3HnswRecallS, VectorQueries.hg3SSql),
    row("hg4_hnsw_upsert", VectorQueries.hg4HnswUpsert, VectorQueries.hg4Sql),
    row("hg5_hnsw_compact", VectorQueries.hg5HnswCompact, VectorQueries.hg5Sql),
    // the planted-cluster arm: hg3's recall curve on geometry where
    // greedy descent HAS a gradient — recall must RISE with hops;
    // weak seeds (probes=0) leave the walk the
    // room that probes=2 seeding saturates away
    row("hg6_hnsw_planted", VectorQueries.hg6HnswPlanted, VectorQueries.hg6Sql),
    // the planted arm's vec_id % 3 slice at full-N widths: hop-value
    // evidence at the rungs (sf30+) where hg6's full oracle dies in
    // the same per-src top-M window sort that excludes hg1/hg2
    row("hg6_planted_s3", VectorQueries.hg6PlantedS3, VectorQueries.hg6SSql),
    row("kc1_kcore", CorpusQueries.kc1Kcore, CorpusQueries.kc1Sql),
    row("tv1_source_shift", CorpusQueries.tv1SourceShift, CorpusQueries.tv1Sql),
    rowsOnly("cmp1_compression", CorpusQueries.cmp1Compression,
      "deflate output is not SQL-expressible; its round-trip twin on " +
        "the next row is the hash-checked attestation."),
    // the decompress-round-trip attestation twin: digest of the
    // RECOVERED text vs the oracle's digest of the original — the
    // hash-checkable half of the non-SQL-expressible deflate
    row("cmp1_roundtrip", CorpusQueries.cmp1Roundtrip, CorpusQueries.cmp1RoundtripSql),
    row("dft1_embedding_drift", VectorQueries.dft1EmbeddingDrift, VectorQueries.dft1Sql),
    row("e6_interarrival", Relational.e6Interarrival, Relational.e6Sql),
    row("nb1_naive_bayes", CorpusQueries.nb1NaiveBayes, CorpusQueries.nb1Sql),
    row("ml1_knn_classify", VectorQueries.ml1KnnClassify, VectorQueries.ml1Sql),
    row("reg1_trend", Relational.reg1Trend, Relational.reg1Sql),
    row("mk1_markov_eval", Relational.mk1MarkovEval, Relational.mk1Sql),
    row("anon1_k_anonymity", Relational.anon1KAnonymity, Relational.anon1Sql),
    row("late1_lateness", Relational.late1Lateness, Relational.late1Sql),
    row("qe1_prf", CorpusQueries.qe1Prf, CorpusQueries.qe1Sql),
    row("cd1_cluster_profile", CorpusQueries.cd1ClusterProfile, CorpusQueries.cd1Sql),
    row("fh1_hash_collisions", CorpusQueries.fh1HashCollisions, CorpusQueries.fh1Sql),
    row("sz1_seasonality", Relational.sz1Seasonality, Relational.sz1Sql),
    row("lj1_lateral_topk", Relational.lj1LateralTopk, Relational.lj1Sql),
    row("ab2_cuped", Relational.ab2Cuped, Relational.ab2Sql),
    row("ret1_d7_return", Relational.ret1D7Return, Relational.ret1Sql),
    row("ix2_lsh_stats", VectorQueries.ix2LshStats, VectorQueries.ix2Sql),
    row("pq3_distortion", VectorQueries.pq3Distortion, VectorQueries.pq3Sql),
    row("ohlc1_bars", Relational.ohlc1Bars, Relational.ohlc1Sql),
    row("pp1_pushdown_minmax", Relational.pp1PushdownMinmax, Relational.pp1Sql),
    row("ses1_session_pcts", Relational.ses1SessionPcts, Relational.ses1Sql),
    row("emh1_sim_histogram", VectorQueries.emh1SimHistogram, VectorQueries.emh1Sql),
    row("ent1_column_entropy", CorpusQueries.ent1ColumnEntropy, CorpusQueries.ent1Sql),
    row("mi1_mutual_info", CorpusQueries.mi1MutualInfo, CorpusQueries.mi1Sql),
    row("jc2_join_cardinality_2way", Relational.jc2JoinCardinality2way, Relational.jc2Sql),
    row("js2_typed_json", Relational.js2TypedJson, Relational.js2Sql),
    row("ta1_typed_aggregator", Relational.ta1TypedAggregator, Relational.ta1Sql),
    row("slo1_burn_rate", Relational.slo1BurnRate, Relational.slo1Sql),
    row("ab3_segmented_lift", Relational.ab3SegmentedLift, Relational.ab3Sql),
    row("v24_cascade", VectorQueries.v24Cascade, VectorQueries.v24Sql),
    row("sw1_native_session", Relational.sw1NativeSession, Relational.sw1Sql),
    row("red1_dedup_savings", CorpusQueries.red1DedupSavings, CorpusQueries.red1Sql),
    row("xl1_cross_lang_dups", CorpusQueries.xl1CrossLangDups, CorpusQueries.xl1Sql),
    row("jk1_jackknife", Relational.jk1Jackknife, Relational.jk1Sql),
    row("cl1_cell_keywords", CorpusQueries.cl1CellKeywords, CorpusQueries.cl1Sql),
    row("sop1_share_of_parent", Relational.sop1ShareOfParent, Relational.sop1Sql),
    row("prc1_filter_pr_curve", CorpusQueries.prc1FilterPrCurve, CorpusQueries.prc1Sql),
    row("r3_relevancy_ensemble", MetricQueries.r3RelevancyEnsemble, MetricQueries.r3Sql),
    row("km1_lloyd_quantized", VectorQueries.km1LloydQuantized, VectorQueries.km1Sql),
    row("fr1_freshness", Relational.fr1Freshness, Relational.fr1Sql),
    row("io1_order_integrity", Relational.io1OrderIntegrity, Relational.io1Sql),
    row("id1_sequence_gaps", Relational.id1SequenceGaps, Relational.id1Sql),
    row("sk1_skew_profile", Relational.sk1SkewProfile, Relational.sk1Sql),
    row("e4_time_to_convert", Relational.e4TimeToConvert, Relational.e4Sql),
    row("pw3_merge_schema", Relational.pw3MergeSchema, Relational.pw3Sql),
    row("d14_minhash_est", CorpusQueries.d14MinhashEst, CorpusQueries.d14Sql),
    // the m4/q12 attestation scheme over an HLL rollup
    row("roll1_hll_rollup", Relational.roll1HllRollup, Relational.roll1Sql,
      bench = Some(Relational.roll1HllRaw _)),
    row("cdc1_merge", Relational.cdc1Merge, Relational.cdc1Sql),
    row("u5_compact", Relational.u5Compact, Relational.u5Sql),
    row("zm1_zorder_scan", Relational.zm1ZorderScan, Relational.zm1Sql),
    row("pr1_profile", Relational.pr1Profile, Relational.pr1Sql),
    row("q17_funnel", Relational.q17Funnel, Relational.q17Sql),
    row("inc1_incremental_agg", Relational.inc1IncrementalAgg, Relational.inc1Sql),
    row("hh1_heavy_hitters", CorpusQueries.hh1HeavyHitters, CorpusQueries.hh1Sql),
    row("m8_mrr", MetricQueries.m8Mrr, MetricQueries.m8Sql),
    row("m9_map", MetricQueries.m9Map, MetricQueries.m9Sql),
    row("m7_mad", MetricQueries.m7Mad, MetricQueries.m7Sql),
    row("coh1_cohort", Relational.coh1Cohort, Relational.coh1Sql),
    row("ord1_global_rank", Relational.ord1GlobalRank, Relational.ord1Sql),
    row("e5_sliding_window", Relational.e5SlidingWindow, Relational.e5Sql),
    row("bf1_backfill", Relational.bf1Backfill, Relational.bf1Sql),
    row("al1_alert_backfill", Relational.al1AlertBackfill, Relational.al1Sql),
    row("fl1_funnel_resolve", Relational.fl1FunnelResolve, Relational.fl1Sql),
    row("uv1_unpivot", Relational.uv1Unpivot, Relational.uv1Sql),
    row("an1_alert_episodes", Relational.an1AlertEpisodes, Relational.an1Sql),
    row("fp1_fingerprint", Relational.fp1Fingerprint, Relational.fp1Sql),
    row("b3_phrase_count", CorpusQueries.b3PhraseCount, CorpusQueries.b3Sql),
    row("tn1_normalize", CorpusQueries.tn1Normalize, CorpusQueries.tn1Sql),
    row("sql1_sql_api", Relational.sql1SqlApi, Relational.sql1Sql),
    row("pc1_period_over_period", Relational.pc1PeriodOverPeriod, Relational.pc1Sql),
    row("rfm1_rfm_segments", Relational.rfm1RfmSegments, Relational.rfm1Sql),
    row("d15_canonical_dedup", CorpusQueries.d15CanonicalDedup, CorpusQueries.d15Sql),
    row("nu1_new_users", Relational.nu1NewUsers, Relational.nu1Sql),
    row("path1_common_journeys", Relational.path1CommonJourneys, Relational.path1Sql),
    row("imp1_impute", Relational.imp1Impute, Relational.imp1Sql),
    row("wm1_weighted_median", Relational.wm1WeightedMedian, Relational.wm1Sql),
    row("cg1_cogroup", Relational.cg1Cogroup, Relational.cg1Sql),
    row("mb1_market_basket", Relational.mb1MarketBasket, Relational.mb1Sql),
    row("cp1_change_point", Relational.cp1ChangePoint, Relational.cp1Sql),
    row("hb1_ewma", Relational.hb1Ewma, Relational.hb1Sql),
    row("rk1_rank_agreement", CorpusQueries.rk1RankAgreement, CorpusQueries.rk1Sql),
    row("rk1_rank_agreement_s97", CorpusQueries.rk1RankAgreementS, CorpusQueries.rk1SSql),
    row("acf1_autocorr", Relational.acf1Autocorr, Relational.acf1Sql),
    row("jc1_join_cardinality", Relational.jc1JoinCardinality, Relational.jc1Sql),
    row("qd1_quartile_depth", MetricQueries.qd1QuartileDepth, MetricQueries.qd1Sql),
    row("st3_anova", Relational.st3Anova, Relational.st3Sql),
    row("chrn1_churn", Relational.chrn1Churn, Relational.chrn1Sql),
    row("ab1_ab_test", Relational.ab1AbTest, Relational.ab1Sql),
    row("fs1_chi2_keywords", CorpusQueries.fs1Chi2Keywords, CorpusQueries.fs1Sql),
    row("st2_ks_test", MetricQueries.st2KsTest, MetricQueries.st2Sql),
    row("ra1_rolling_active", Relational.ra1RollingActive, Relational.ra1Sql),
    row("dd1_table_diff", Relational.dd1TableDiff, Relational.dd1Sql),
    row("ev1_ann_recall", VectorQueries.ev1AnnRecall, VectorQueries.ev1Sql),
    row("v18_tuning_curve", VectorQueries.v18TuningCurve, VectorQueries.v18Sql),
    row("v20_filtered_ivf", VectorQueries.v20FilteredIvf, VectorQueries.v20Sql),
    row("del1_index_delete", VectorQueries.del1IndexDelete, VectorQueries.del1Sql),
    row("seq2_transitions", Relational.seq2Transitions, Relational.seq2Sql),
    row("q18_deciles", Relational.q18Deciles, Relational.q18Sql),
    row("dc1_source_cap", CorpusQueries.dc1SourceCap, CorpusQueries.dc1Sql),
    row("wc1_cooccurrence", CorpusQueries.wc1Cooccurrence, CorpusQueries.wc1Sql),
    row("m10_winsorize", MetricQueries.m10Winsorize, MetricQueries.m10Sql),
    row("sp1_rank_corr", CorpusQueries.sp1RankCorr, CorpusQueries.sp1Sql),
    row("v17_hamming_rescore", VectorQueries.v17HammingRescore, VectorQueries.v17Sql),
    row("ka1_filter_kappa", CorpusQueries.ka1FilterKappa, CorpusQueries.ka1Sql),
    row("ix1_index_stats", VectorQueries.ix1IndexStats, VectorQueries.ix1Sql),
    row("tc1_triangles", CorpusQueries.tc1Triangles, CorpusQueries.tc1Sql),
    row("g3_bfs_hops", CorpusQueries.g3BfsHops, CorpusQueries.g3Sql),
    row("ns1_hard_negatives", VectorQueries.ns1HardNegatives, VectorQueries.ns1Sql),
    row("t5_vocab", CorpusQueries.t5Vocab, CorpusQueries.t5Sql),
    row("m1_latency_pcts", MetricQueries.m1LatencyPcts, MetricQueries.m1Sql),
    row("m2_recall_at_k", MetricQueries.m2Recall, MetricQueries.m2Sql),
    row("m3_ndcg_at_k", MetricQueries.m3Ndcg, MetricQueries.m3Sql),
    row("m0_ir_summary", MetricQueries.m0IrSummary, MetricQueries.m0Sql),
    row("r1_relevancy", MetricQueries.r1Relevancy, MetricQueries.r1Sql),
    row("r2_relevancy_judge", MetricQueries.r2RelevancyJudge, MetricQueries.r2Sql),
    row("ing_csv", IngestQueries.ingCsv, IngestQueries.ingCsvSql),
    row("ing_docs", IngestQueries.ingDocs, IngestQueries.ingDocsSql),
    row("mm1_meta", IngestQueries.mm1Meta, IngestQueries.mm1Sql),
    row("mm2_framesample", IngestQueries.mm2FrameSample, IngestQueries.mm2Sql),
    row("mm3_resize", IngestQueries.mm3Resize, IngestQueries.mm3Sql),
    row("mm4_audio_frames", IngestQueries.mm4AudioFrames, IngestQueries.mm4Sql),
    row("ing_jsonl", IngestQueries.ingJsonl, IngestQueries.ingJsonlSql),
  )

  /** Every row registered as a brute-force BASELINE tier, with the
    * scale-path twins that replace it in production. RegistrySpec
    * asserts every baseline row and every named twin is a registered
    * query. The baseline rows stay registered on purpose — they are
    * the exact semantics the bucketed/sampled tiers are graded against. */
  val baselineTiers: Map[String, Seq[String]] = Map(
    // exact all-pairs near-dup → LSH-bucketed / multi-probe / semantic
    // cells, plus the deterministic-sample attestation slice
    "d5_embed_neardup" -> Seq("d6_neardup_lsh", "d10_neardup_mp",
      "sem1_semdedup", "d5_embed_neardup_s97"),
    // exact Q×N hybrid dense arm → the ANN-arm production operator,
    // plus the sampled attestation twin
    "v12_hybrid_search" -> Seq("v19_hybrid_ann", "v12_hybrid_s97",
      "v19_hybrid_s97"),
    // RBO over the exact arms → the sampled attestation twin
    "rk1_rank_agreement" -> Seq("rk1_rank_agreement_s97"),
    // multi-probe near-dup → the vec_id % 3 attestation slice: the
    // 2.1G-row candidate multiset is inherent (N·occ·L·(bits+1)) and
    // the single-node ORACLE must enumerate it even though the engine
    // streams it; the slice keeps the full-size adaptive width at 1/9
    // the pair mass. Since r15 the engine gates d10 FULL at sf30 —
    // the twin remains for rungs whose oracle exceeds the node.
    "d10_neardup_mp" -> Seq("d10_neardup_s3"),
    // layered HNSW build → the same vec_id % 3 slice at full-N widths:
    // the build oracle's per-src top-M window sorts the whole
    // per-layer candidate multiset, which exceeds the node's RAM+disk
    // at sf30 on a non-degenerate fixture
    "hg1_hnsw_build" -> Seq("hg1_hnsw_s3"),
    // greedy descent → the walk over the sliced graph: hg2's oracle
    // re-derives the full hg1 edge CTEs, so it dies with hg1's at sf30
    "hg2_hnsw_search" -> Seq("hg2_hnsw_s3"),
    // recall curve → the same slice with ground truth sliced alongside
    "hg3_hnsw_recall" -> Seq("hg3_hnsw_s3"),
    // planted-arm recall curve → the same slice: its oracle carries
    // the full hg1-shaped edge CTEs over the planted vectors, so it
    // dies with hg1's at sf30; the slice keeps hop-value evidence
    // flowing at the big rungs the r17 verdict named
    "hg6_hnsw_planted" -> Seq("hg6_planted_s3"),
    // thresholdless kNN graph → the same slice: no score-in-stage
    // shortcut exists for its oracle (every candidate pair survives)
    "kg1_knn_graph" -> Seq("kg1_knn_s3"),
    // full-query BM25 -> the % subset: the oracle's (query, doc) score
    // aggregate is query-count-sized; the twin keeps tf/ptf full-size
    "b2_bm25" -> Seq("b2_bm25_s97"),
  )

  def queries: Map[String, Query] = rows.map(r => r.name -> r.run).toMap

  def oracleSql: Map[String, String] =
    rows.collect { case Row(n, _, Right(sql), _) => n -> sql() }.toMap

  def benchQueries: Map[String, Query] =
    rows.map(r => r.name -> r.bench.getOrElse(r.run)).toMap

  /** The rows named, in registry order; every row when `names` is
    * empty. An unregistered name throws rather than being skipped. */
  def select(names: Iterable[String]): Seq[Row] = {
    val want = names.toSet
    val unknown = want -- rows.map(_.name)
    require(unknown.isEmpty,
      s"not registered in SparkEntry.rows: ${unknown.toSeq.sorted.mkString(", ")}")
    if (want.isEmpty) rows else rows.filter(r => want(r.name))
  }
}
