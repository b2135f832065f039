package graft.operators

import graft.functions.Vec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search operators (SURVEY §2.3).
  *
  * Shapes:
  *  - brute-force kNN: broadcast the (small) query set against the
  *    corpus — the corpus is scanned exactly once with no shuffle on the
  *    join; only the scored candidates shuffle for per-query ranking.
  *  - IVF: corpus pre-assigned to centroid cells; a query probes only
  *    its `nprobe` nearest cells, so the candidate join is an equi-join
  *    on cell id (bounded work per query, shuffle on cell id).
  *  - LSH: sign-bit bucketing; candidate join is an equi-join on bucket.
  *
  * Per-vector norms (and squared norms) are computed ONCE per side
  * before pairing — recomputing sqrt(Σx²) inside every pair triples the
  * fold work; the cached value is the identical computation, so oracle
  * bit-parity holds. Pair-heavy inputs are repartitioned to the session
  * default parallelism first: a tiny single-file parquet scan otherwise
  * serializes the entire O(N·M) similarity evaluation onto one task.
  *
  * Reference behavior: top-k=5 cosine queries, chroma.py:96-106.
  */
object VectorSearch {

  sealed trait Metric
  case object Cosine extends Metric
  case object Dot extends Metric
  case object L2 extends Metric

  /** Per-query top-k by `score` (desc for similarities, asc for
    * distances), ties broken by corpus id for determinism. Runs on the
    * custom TopKPerKey operator (graft.plans): per-partition bounded
    * heaps bound the shuffle to k candidates per query per partition —
    * the window row_number formulation would shuffle and sort every
    * scored candidate.
    */
  private def topK(scored: DataFrame, k: Int, ascending: Boolean,
                   distinct: Boolean = false): DataFrame = {
    val ord = if (ascending) col("score").asc else col("score").desc
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(ord, col("vec_id").asc), k, distinct = distinct)
      .withColumn("score", round(col("score"), 6))
  }

  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Queries with cached norm columns, ready to broadcast. */
  private def prepQueries(queries: DataFrame): DataFrame =
    queries.withColumn("qn", Vec.norm(col("qv")))
      .withColumn("qsq", Vec.normSq(col("qv")))

  private def prepCorpus(corpus: DataFrame): DataFrame =
    spread(corpus)
      .withColumn("vn", Vec.norm(col("v")))
      .withColumn("vsq", Vec.normSq(col("v")))

  /** score(qv, v) with cached norms — same op order as Vec.cosine /
    * Vec.dot / Vec.l2, so results are bit-identical to the oracle. */
  private def scoreExpr(m: Metric): Column = m match {
    case Cosine => Vec.dot(col("qv"), col("v")) / (col("qn") * col("vn"))
    case Dot    => Vec.dot(col("qv"), col("v"))
    case L2     => sqrt(greatest(
      col("qsq") - lit(2.0) * Vec.dot(col("qv"), col("v")) + col("vsq"), lit(0.0)))
  }

  /** Brute-force kNN: one corpus scan × broadcast queries.
    * queries: (query_id, qv), corpus: (vec_id, v [, ...metadata]).
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame, k: Int, m: Metric): DataFrame = {
    val scored = prepCorpus(corpus).crossJoin(broadcast(prepQueries(queries)))
      .withColumn("score", scoreExpr(m))
      .select("query_id", "vec_id", "score")
    topK(scored, k, ascending = m == L2)
  }

  def knnCosine(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    knnBrute(queries, corpus, k, Cosine)

  /** Brute-force cosine kNN restricted to (query, candidate) pairs
    * satisfying `pred` — evaluated on the joined row BEFORE scoring, so
    * rejected pairs never pay the dot-product fold. Used for
    * hard-negative mining (candidate label ≠ query label), where the
    * predicate depends on both sides and a plain corpus pre-filter
    * can't express it.
    */
  def knnCosineWhere(queries: DataFrame, corpus: DataFrame, k: Int,
                     pred: Column): DataFrame = {
    val scored = prepCorpus(corpus).crossJoin(broadcast(prepQueries(queries)))
      .filter(pred)
      .withColumn("score", scoreExpr(Cosine))
      .select("query_id", "vec_id", "score")
    topK(scored, k, ascending = false)
  }

  def knnDot(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    knnBrute(queries, corpus, k, Dot)

  def knnL2(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    knnBrute(queries, corpus, k, L2)

  /** Range search: every corpus vector within cosine radius of a query.
    * The filter runs before ranking/collection — at scale, candidates
    * stream straight out of the corpus scan.
    */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
                  minCosine: Double): DataFrame =
    prepCorpus(corpus).crossJoin(broadcast(prepQueries(queries)))
      .withColumn("score", scoreExpr(Cosine))
      .filter(col("score") >= minCosine)
      .select(col("query_id"), col("vec_id"), round(col("score"), 6).as("score"))

  /** All-pairs near-duplicate detection at cosine ≥ minCosine. Exact
    * (quadratic candidate space) — the left side is spread across the
    * cluster and norms are cached, so the fold per pair is a single dot.
    * At 100 TB swap the candidate generation for the LSH band join
    * (Dedup.minhashCandidates shape) and keep this as the rescorer.
    */
  def nearDupPairs(vectors: DataFrame, minCosine: Double): DataFrame = {
    val a = prepCorpus(vectors.select(col("vec_id"), col("v")))
      .select(col("vec_id").as("id_a"), col("v").as("qv"), col("vn").as("qn"))
    val b = vectors.select(col("vec_id").as("id_b"), col("v"))
      .withColumn("vn", Vec.norm(col("v")))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", Vec.dot(col("qv"), col("v")) / (col("qn") * col("vn")))
      .filter(col("score") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** Brute-force near-dup attestation SLICE: exactly nearDupPairs'
    * output restricted to pairs touching the deterministic 1/mod
    * id-sample (vec_id % mod = 0) — every sampled vector scored
    * against the ENTIRE corpus, exact within the slice. This is the
    * scale-rung oracle device (r11 verdict task 4): at rungs where the
    * full all-pairs DuckDB arm is infeasible (2e10 dot products at
    * sf10), both engines compute the identical ~2N²/mod-pair slice
    * with the same (id_a < id_b) convention and arithmetic. Built as
    * two sample×corpus arms (not an all-pairs join with a mod filter)
    * so NEITHER engine enumerates N² candidates: arm 1 takes pairs
    * whose smaller id is sampled, arm 2 pairs whose larger id is
    * sampled and smaller is not — each qualifying pair exactly once.
    * The big corpus side streams; only the 1/mod sample broadcasts —
    * which assumes N/mod stays broadcast-sized. The registered mod=97
    * rows ride the same ≤2M-vector design ceiling the RpBitsPairMax
    * knob documents (N/97 ≈ 21k rows ≈ 11 MB of 64-dim doubles);
    * past it, raise mod with N (keep N/mod ≲ 100k rows) or swap the
    * broadcast for a shuffle join — the slice semantics don't care. */
  def nearDupPairsSampled(vectors: DataFrame, minCosine: Double,
                          mod: Int): DataFrame = {
    val base = spread(vectors.select(col("vec_id"), col("v")))
      .withColumn("vn", Vec.norm(col("v")))
    val samp = base.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("sid"), col("v").as("sv"), col("vn").as("sn"))
    val arm1 = base.crossJoin(broadcast(samp))
      .filter(col("sid") < col("vec_id"))
      .select(col("sid").as("id_a"), col("sv").as("va"), col("sn").as("na"),
        col("vec_id").as("id_b"), col("v").as("vb"), col("vn").as("nb"))
    val arm2 = base.filter(col("vec_id") % mod =!= 0)
      .crossJoin(broadcast(samp))
      .filter(col("vec_id") < col("sid"))
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("vn").as("na"),
        col("sid").as("id_b"), col("sv").as("vb"), col("sn").as("nb"))
    arm1.unionAll(arm2)
      .withColumn("score", Vec.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("score") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** LSH-bucketed near-dup: candidate pairs only form inside a shared
    * sign bucket (equi-join on bucket id), then exact cosine rescoring
    * at the threshold — the 100 TB shape of nearDupPairs: shuffle and
    * pair volume bounded by bucket populations instead of N². Recall is
    * bounded by the bucketing (a near-dup pair straddling a sign
    * boundary is missed) — deterministic, and the oracle states the
    * identical bucketed semantics.
    */
  def nearDupPairsLsh(vectors: DataFrame, minCosine: Double, bits: Int): DataFrame = {
    val v = spread(vectors.select(col("vec_id"), col("v")))
      .withColumn("bucket", signBucket(col("v"), bits))
      .withColumn("vn", Vec.norm(col("v")))
    val a = v.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("vn").as("na"))
    val b = v.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("vn").as("nb"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("score", Vec.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("score") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** SemDeDup (Abbas et al.): semantic dedup by cluster-then-cosine —
    * assign every vector to its nearest centroid cell, then flag a
    * vector as a semantic duplicate iff a LOWER-id vector in the SAME
    * cell has cosine ≥ `tau` (min-id is the kept representative; the
    * paper keeps the member farthest from the centroid — min-id is the
    * deterministic, engine-portable election). Emits
    * (vec_id, cell_id, is_dup) for every corpus vector.
    *
    * This is d5's quadratic cosine check made 100 TB-shaped a THIRD
    * way: where d6/d10 bound pairs by LSH buckets, SemDeDup bounds
    * them by semantic cells — candidate pairs form only inside a cell
    * (equi-join on cell_id, |cell|² local work), which is exactly the
    * published algorithm (k-means with k ≈ √N keeps cells ~√N-sized).
    * The assignment reuses assignCells' min_by scan; the cell
    * self-join ships (cell_id, vec_id, v) once. The assignment feeds
    * both self-join sides, so it is eagerly localCheckpointed (§5:
    * lazy caches double-materialize under concurrent consumers).
    */
  def semDedup(vectors: DataFrame, centroids: DataFrame,
               tau: Double): DataFrame = {
    val assigned = assignCells(vectors, centroids)
      .withColumn("vn", Vec.norm(col("v")))
      .localCheckpoint()
    val a = assigned.select(col("cell_id"), col("vec_id"),
      col("v").as("va"), col("vn").as("na"))
    val b = assigned.select(col("cell_id"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("vn").as("nb"))
    val dupIds = a.join(b, Seq("cell_id"))
      .filter(col("id_b") < col("vec_id"))
      .filter(Vec.dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= tau)
      .select("vec_id").distinct()
    assigned.join(dupIds.withColumn("__d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("__d"), lit(0)).as("is_dup"))
  }

  /** Deterministic cell assignment: nearest of the broadcast `centroids`
    * (cell_id, cv) by L2; ties on cell_id. One corpus scan; the
    * nearest-centroid pick is a `min_by` aggregation so partial (map-
    * side) aggregation collapses the |centroids|× expansion back to one
    * row per vector BEFORE the exchange — the previous row_number()
    * window shuffled and sorted |centroids|×N rows just to take a min.
    */
  def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.withColumn("csq", Vec.normSq(col("cv")))
    // ONE min_by over a struct carrying the whole input row: the winning
    // (cdist, cell_id) row's columns stay together, so even a batch with
    // duplicate vec_id rows (e.g. two versions in one upsert micro-batch)
    // yields an internally consistent output row — a first()-per-column
    // formulation could pair one version's payload with the other's
    // cell_id. min_by on (cdist, cell_id) keeps the deterministic
    // tie-break of the original window formulation.
    val others = vectors.columns.filter(_ != "vec_id").toSeq
    val winner = min_by(
      struct((others.map(col) :+ col("cell_id")): _*),
      struct(col("cdist"), col("cell_id"))).as("w")
    spread(vectors).withColumn("vsq", Vec.normSq(col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("cdist", sqrt(greatest(
        col("vsq") - lit(2.0) * Vec.dot(col("v"), col("cv")) + col("csq"), lit(0.0))))
      .groupBy("vec_id")
      .agg(winner)
      .select(col("vec_id") +:
        (others :+ "cell_id").map(c => col(s"w.$c").as(c)): _*)
  }

  /** The `nprobe` nearest cells per query: (query_id, qv, qn, cell_id).
    * Queries are tiny relative to the corpus, so the window formulation
    * is fine here (it's the corpus-side assignment that must not
    * window — see assignCells). */
  def probeCells(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val cents = centroids.withColumn("csq", Vec.normSq(col("cv")))
    val wq = Window.partitionBy("query_id").orderBy(col("cdist").asc, col("cell_id").asc)
    queries.withColumn("qsq", Vec.normSq(col("qv")))
      .crossJoin(broadcast(cents))
      .withColumn("cdist", sqrt(greatest(
        col("qsq") - lit(2.0) * Vec.dot(col("qv"), col("cv")) + col("csq"), lit(0.0))))
      .withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= nprobe)
      .select(col("query_id"), col("qv"), Vec.norm(col("qv")).as("qn"), col("cell_id"))
  }

  /** Serve IVF kNN from an ALREADY-ASSIGNED corpus (vec_id, v, cell_id)
    * — e.g. one loaded from a persisted IndexStore. The candidate join
    * is an equi-join on cell_id against the broadcast probe set: work
    * per query is bounded by probed-cell population, not corpus size.
    * (Scan-level partition pruning additionally applies when the
    * caller pre-filters a cell_id-partitioned assignment table with
    * literal cells — IndexStore.queryCompacted.)
    */
  def knnIvfAssigned(queries: DataFrame, assigned: DataFrame,
                     centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probed = probeCells(queries, centroids, nprobe)
    val scored = assigned.withColumn("vn", Vec.norm(col("v")))
      .join(broadcast(probed), "cell_id")
      .withColumn("score", Vec.dot(col("qv"), col("v")) / (col("qn") * col("vn")))
      .select("query_id", "vec_id", "score")
    topK(scored, k, ascending = false)
  }

  /** IVF kNN: probe the `nprobe` nearest cells per query, brute-force
    * only inside those cells — the 100 TB scale path for kNN.
    */
  def knnIvf(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
             k: Int, nprobe: Int): DataFrame =
    knnIvfAssigned(queries, assignCells(corpus, centroids), centroids, k, nprobe)

  /** Sign-bit bucket id from `bits` dimensions starting at `offset` —
    * deterministic random-hyperplane LSH with axis-aligned hyperplanes.
    * offset + bits must stay within the vector dimension, and elements
    * must be real numbers: an out-of-range (null) or NaN element raises
    * at execution instead of silently sending every vector to one
    * bucket, which would degrade the bucket join toward all-pairs with
    * no visible error. (NaN needs its own isnan() test: Spark's
    * comparisons use nan-safe ordering where NaN > any double, so
    * `x >= 0.0` would otherwise be quietly TRUE for NaN.)
    */
  def signBucketAt(v: Column, offset: Int, bits: Int): Column =
    (0 until bits).map { i =>
      val x = element_at(v, offset + i + 1).cast("double")
      when(!isnan(x) && x >= 0.0, lit(1L << i))
        .when(!isnan(x) && x < 0.0, lit(0L))
        .otherwise(raise_error(lit(
          s"signBucketAt: dimension ${offset + i} out of range or NaN " +
            "— tables*bits must be <= vector dim and elements finite")).cast("long"))
    }.reduce(_ + _)

  def signBucket(v: Column, bits: Int): Column = signBucketAt(v, 0, bits)

  /** One (table_idx, bucket) per hash table: table t reads `bits` sign
    * bits from dimensions [t·bits, (t+1)·bits). Tables are disjoint
    * dimension sets, so their miss events are independent: a neighbor
    * pair straddling a hyperplane of one table is still caught by any
    * other table it agrees on — recall 1-(1-p^bits)^tables vs p^bits
    * for a single table. */
  def multiTableBuckets(v: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map(t => signBucketAt(v, t * bits, bits)): _*)

  /** Deterministic ±1 random-hyperplane weights for `tables`×`bits`
    * planes over `dim` dimensions (seeded — Spark AND the oracle embed
    * the same literals). Dense ±1 projections decorrelate the bucket
    * bits from any single axis: axis-aligned sign bits measured only
    * 5% top-5 recall on the real embedding fixture (per-dim sign
    * agreement between true neighbors is weak), while sign(w·v) tracks
    * the angular similarity SimHash-style (p = 1 − θ/π per bit). */
  def hyperplaneWeights(bits: Int, tables: Int, dim: Int,
                        seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** One bucket per table from `bits` random-hyperplane sign bits —
    * the fused native kernel (graft.functions.HyperplaneBuckets): all
    * tables×bits projections in one loop (exact arithmetic — products
    * are exact negations/copies, the sequential double fold is
    * bit-reproducible, so the oracle's list_dot_product on the same
    * literals matches). Semantics are pinned equal to the
    * expression-tree form below (HyperplaneBucketsSpec), whose
    * tables×bits separate DotProduct nodes overflow the JIT budget at
    * adaptive widths and ran ~1000x slower (the d10 sf100 profile: 93%
    * of the run inside the two bucket stages). */
  def hyperplaneBuckets(v: Column, w: Array[Array[Array[Double]]]): Column =
    graft.functions.HyperplaneBuckets(v, w)

  /** The original expression-tree formulation, kept as the reference
    * semantics for the fused kernel (spec-checked equal, including
    * null vector / null element / length mismatch / NaN — all of
    * which bucket to the all-zero code). */
  def hyperplaneBucketsHof(v: Column, w: Array[Array[Array[Double]]]): Column =
    array(w.map { table =>
      table.zipWithIndex.map { case (plane, b) =>
        when(Vec.dot(v, typedLit(plane.toSeq)) >= 0.0, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }.toIndexedSeq: _*)

  /** Multi-table LSH kNN: queries meet corpus vectors that share table
    * t's bucket for ANY t — an equi-join on (table_idx, bucket). The
    * per-(query, vec) duplicate matches from multiple tables carry
    * bit-identical scores, so they collapse inside the bounded
    * distinct-top-k heap (TopK.perKey distinct) — no aggregation keyed
    * by candidate pair ever materializes. Shuffle volume: k rows per
    * query per input partition — never the candidate set itself.
    */
  def knnLsh(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int,
             tables: Int = 1): DataFrame =
    knnLshBuckets(queries, corpus, k, multiTableBuckets(_, bits, tables))

  /** Random-hyperplane multi-table LSH kNN (the production default —
    * see hyperplaneWeights for why axis-aligned bits are not enough). */
  def knnLshRp(queries: DataFrame, corpus: DataFrame, k: Int,
               w: Array[Array[Array[Double]]]): DataFrame =
    knnLshBuckets(queries, corpus, k, hyperplaneBuckets(_, w))

  /** Multi-PROBE random-hyperplane LSH kNN (Lv et al.): in every table
    * the query probes its own bucket AND each hamming-1 neighbor (one
    * sign bit flipped) — a near neighbor straddling a single hyperplane
    * is still met without adding tables. The corpus side is UNCHANGED
    * (one bucket per table per vector — no index growth); only the
    * tiny broadcast query side expands ×(bits+1), so candidate volume
    * grows ~(bits+1)× while recall approaches multi-table-squared
    * quality. The right knob at 100 TB: probes are free (query side),
    * tables cost a full extra corpus shuffle copy each.
    */
  def knnLshRpMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
                         w: Array[Array[Array[Double]]],
                         radius: Int = 1): DataFrame =
    knnLshRpMultiProbeFrom(rpBuckets(corpus, w), queries, k, w, radius)

  /** The exploded (vec_id, v, vn, tbl, bucket) corpus bucket table —
    * an INDEX ARTIFACT like IVF centroids or the HNSW edge list: a
    * serving deployment computes it once (persist/localCheckpoint) and
    * every request probes it, instead of re-exploding the corpus per
    * query (which dominated per-request latency in LatencyReport —
    * the corpus side is O(N·tables) work per call). */
  def rpBuckets(corpus: DataFrame,
                w: Array[Array[Array[Double]]]): DataFrame =
    spread(corpus).withColumn("vn", Vec.norm(col("v")))
      .select(col("vec_id"), col("v"), col("vn"),
        posexplode(hyperplaneBuckets(col("v"), w)).as(Seq("tbl", "bucket")))

  /** All XOR masks with ≤ radius sign bits flipped: radius 0 is the
    * plain single-bucket probe, 1 the hamming-1 expansion, 2 adds the
    * \binom{bits}{2} two-bit flips — query-side only, corpus unchanged.
    * Generated by direct combination enumeration, never a 2^bits
    * driver scan (the former formulation; a 16M-element filter at the
    * 24-bit adaptive-width cap). */
  private[graft] def probeMasks(bits: Int, radius: Int): Seq[Long] = {
    require(radius <= 2, s"probe radius $radius unsupported")
    val r1 = if (radius >= 1) (0 until bits).map(1L << _) else Seq.empty
    val r2 = if (radius >= 2)
      for { a <- 0 until bits; b <- a + 1 until bits }
        yield (1L << a) | (1L << b)
    else Seq.empty
    0L +: (r1 ++ r2)
  }

  /** Multi-probe kNN over a PREBUCKETED corpus (see rpBuckets).
    *
    * Broadcast discipline (the 100 TB point): the probe expansion is
    * Q·tables·probes rows — at Q ~ N/10 under the adaptive width this
    * is millions of rows, so the qv payload must NOT ride inside it (a
    * 64-dim double array per probe row multiplies the broadcast ~25×).
    * The expansion broadcasts bare probe KEYS (query_id, tbl, bucket —
    * ~20 B/row); candidates then score through a second broadcast join
    * against the compact (query_id, qv, qn) query table. Both joins
    * are map-side; the only shuffle is the k-per-query survivor set of
    * the local top-k heaps (duplicates dedup inside the heap — see
    * topK(distinct)), so shuffle rows are k·|queries|·|partitions| at
    * most, independent of candidate volume. */
  def knnLshRpMultiProbeFrom(cb: DataFrame, queries: DataFrame, k: Int,
                             w: Array[Array[Array[Double]]],
                             radius: Int): DataFrame = {
    val bits = w(0).length
    val masks = array(probeMasks(bits, radius).map(lit): _*)
    val qk = queries
      .select(col("query_id"),
        posexplode(hyperplaneBuckets(col("qv"), w)).as(Seq("tbl", "bucket0")))
      .select(col("query_id"), col("tbl"), col("bucket0"),
        explode(masks).as("__m"))
      .select(col("query_id"), col("tbl"),
        col("bucket0").bitwiseXOR(col("__m")).as("bucket"))
    val qv = prepQueries(queries).select("query_id", "qv", "qn")
    // Cross-table/probe duplicates of a (query, vec) pair carry the
    // SAME score bits, so the bounded distinct-top-k IS the max-dedup —
    // the former groupBy(query_id, vec_id).max materialized an
    // aggregation keyed by every distinct candidate pair (426 M keys at
    // the sf10 rung: 8.5 GB of shuffle and a spill-thrashing map for
    // rows which a k-heap per query discards in O(1)).
    val scored = cb.join(broadcast(qk), Seq("tbl", "bucket"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("score", Vec.dot(col("qv"), col("v")) / (col("qn") * col("vn")))
      .select("query_id", "vec_id", "score")
    topK(scored, k, ascending = false, distinct = true)
  }

  /** Shared multi-table LSH kNN skeleton over any per-table bucket
    * expression. */
  def knnLshBuckets(queries: DataFrame, corpus: DataFrame, k: Int,
                    buckets: Column => Column): DataFrame = {
    val cb = spread(corpus).withColumn("vn", Vec.norm(col("v")))
      .select(col("vec_id"), col("v"), col("vn"),
        posexplode(buckets(col("v"))).as(Seq("tbl", "bucket")))
    val qb = queries.withColumn("qn", Vec.norm(col("qv")))
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(buckets(col("qv"))).as(Seq("tbl", "bucket")))
    val scored = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .withColumn("score", Vec.dot(col("qv"), col("v")) / (col("qn") * col("vn")))
      .select("query_id", "vec_id", "score")
    topK(scored, k, ascending = false, distinct = true)
  }

  /** Random-hyperplane variant of the near-dup pair generator. */
  def nearDupPairsLshRp(vectors: DataFrame, minCosine: Double,
                        w: Array[Array[Array[Double]]]): DataFrame =
    nearDupPairsLshBuckets(vectors, minCosine, hyperplaneBuckets(_, w))

  /** Shared multi-table near-dup skeleton over any per-table bucket
    * expression. The bucket self-join carries ONLY (tbl, bucket, id)
    * rows — never the vectors: shipping payloads through an L×-exploded
    * join multiplies shuffle bytes by L. What happens to the candidate
    * multiset next depends on whether a real threshold exists:
    *
    *  - thresholded (minCosine > -1): score IN the join stage via two
    *    broadcast vector lookups, filter ≥ minCosine immediately, and
    *    only the surviving near-dup rows reach the distinct. The
    *    multiset — N·occupancy·L·(probes) rows, 2.1G at sf30 — lives
    *    only inside one codegen stage and never shuffles or spills
    *    (the previous dedup-FIRST shape shuffled the full multiset
    *    into distinct() and ran a 600k-vector rung out of 60 GB of
    *    disk). Scores of duplicate candidates are bit-identical, so
    *    filter→distinct ≡ distinct→rescore row-for-row.
    *  - no threshold (kg1's every-candidate graph): every pair
    *    survives, so filter-first saves nothing and scores the full
    *    multiset instead of the deduped pairs — keep the narrow
    *    distinct-then-rescore-once shape. (Consumers that only need a
    *    bounded per-source top-k should prefer scoredEdgesLshRp: the
    *    heap dedups in-stage and the multiset never reaches the
    *    distinct's hash aggregate at all.)
    *
    * Broadcasting the vectors rides the pair family's documented
    * ≤2M-vector design ceiling (see RpBitsPairMax): ≤~1 GB broadcast. */
  def nearDupPairsLshBuckets(vectors: DataFrame, minCosine: Double,
                             buckets: Column => Column): DataFrame = {
    val base = spread(vectors.select(col("vec_id"), col("v")))
      .withColumn("vn", Vec.norm(col("v")))
    val bk = base.select(col("vec_id"),
      posexplode(buckets(col("v"))).as(Seq("tbl", "bucket")))
    val cand = bucketPairJoin(bk)
    if (minCosine > -1.0) scorePairsInline(base, cand, minCosine)
    else rescorePairs(base, cand.distinct(), minCosine)
  }

  /** The (tbl, bucket) self-join emitting each unordered candidate
    * pair once (id_a < id_b) — narrow (tbl, bucket, id) rows only,
    * never the vectors (shipping payloads through an L×-exploded join
    * multiplies shuffle bytes by L). The single shared implementation
    * of the pair family's candidate generation: a change to the
    * id_a < id_b convention or the join key lands everywhere at once. */
  private def bucketPairJoin(bk: DataFrame): DataFrame =
    bk.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
      .join(bk.select(col("tbl"), col("bucket"), col("vec_id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")

  /** Candidate pairs → exact cosine via the two BROADCAST vector
    * lookups, UNROUNDED `score` (callers filter, then round to 6 dp).
    * Broadcasting rides the pair family's documented ≤2M-vector
    * ceiling (RpBitsPairMax): Spark's size estimate for a 600k-vector
    * side exceeds autoBroadcastJoinThreshold, and the SortMergeJoin
    * fallback shuffles every candidate row WITH both 64-float payloads
    * attached — the kg1 sf30 profile showed a 15.9 GB shuffle write +
    * 15.5 GB spill (78 s of a 136 s run) for a pair list that is
    * 966 MB narrow. */
  private def broadcastCosine(base: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(broadcast(base.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("vn").as("na"))), "id_a")
      .join(broadcast(base.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("vn").as("nb"))), "id_b")
      .withColumn("score", Vec.dot(col("va"), col("vb")) / (col("na") * col("nb")))

  /** DIRECTED scored candidate edges for thresholdless per-source
    * top-k consumers (kg1's kNN graph): the single-probe candidate
    * multiset is scored in-stage via two broadcast vector lookups
    * (the scorePairsInline shape), mirrored INLINE into both
    * directions with one explode (no second pass over the bucket
    * join), and handed to the caller's bounded distinct-top-k heap —
    * duplicates of a (src, dst) pair across tables carry bit-identical
    * rounded scores and compare EQUAL on the heap's (score, dst)
    * ordering, so heap-dedup ≡ the former distinct().rescore pipeline
    * row-for-row. The kg1 sf30 profile motivating this: the distinct's
    * hash aggregate over the 154M-row multiset was 49 s of a 63 s run
    * (709 CPU-s + 1.3 GB spill) to deduplicate rows a per-key heap
    * drops in O(1). Same ≤2M-vector broadcast ceiling as the rest of
    * the pair family. */
  def scoredEdgesLshRp(vectors: DataFrame,
                       w: Array[Array[Array[Double]]]): DataFrame = {
    val base = spread(vectors.select(col("vec_id"), col("v")))
      .withColumn("vn", Vec.norm(col("v")))
    val bk = base.select(col("vec_id"),
      posexplode(hyperplaneBuckets(col("v"), w)).as(Seq("tbl", "bucket")))
    // the >= -1.0 guard is rescorePairs' minCosine=-1 filter, kept for
    // row-for-row equivalence on degenerate inputs too: an exact
    // antipodal cosine computing just below -1.0, or a null score from
    // a null-element/length-mismatch vector (which all share bucket 0),
    // must not survive into the heap when the legacy distinct-then-
    // rescore pipeline dropped it (r16 advisor)
    val scored = broadcastCosine(base, bucketPairJoin(bk))
      .filter(col("score").isNotNull && col("score") >= -1.0)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
    scored.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("score")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("score"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.score").as("score"))
  }

  /** One exact cosine rescore per unique candidate pair (the shared
    * broadcastCosine lookup — see its scaladoc for why the vector
    * sides must broadcast). */
  private def rescorePairs(base: DataFrame, cand: DataFrame,
                           minCosine: Double): DataFrame =
    broadcastCosine(base, cand)
      .filter(col("score") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))

  /** Score-in-stage variant for thresholded pair generation: the raw
    * candidate multiset streams through two broadcast vector lookups
    * and the cosine filter inside a single stage; only survivors are
    * deduped. Identical rows to rescorePairs(distinct(cand)) — the
    * score of a duplicated candidate is computed from the same doubles
    * in the same order — at a shuffle volume of survivors, not
    * candidates. */
  private def scorePairsInline(base: DataFrame, cand: DataFrame,
                               minCosine: Double): DataFrame =
    rescorePairs(base, cand, minCosine).distinct()

  /** Multi-PROBE variant of the pair generator: the probing side of
    * the bucket self-join also visits every hamming-1 bucket, so a
    * pair split by exactly one hyperplane in a table still meets.
    * Coverage is symmetric with one-sided probing (for any pair, the
    * smaller id's probe row hits the larger id's exact bucket), so
    * candidate volume grows only ×(bits+1) on one side. The ×(bits+1)
    * multiset — N·occupancy·L·(bits+1) ≈ 2.1G rows at sf30, regardless
    * of fixture degeneracy — is exactly why this path uses the
    * score-in-stage shape for thresholded runs: the multiset streams
    * through broadcast lookups + the cosine filter inside one stage
    * and never reaches a shuffle (the former distinct-first shape
    * spilled >60 GB at 600k vectors). */
  def nearDupPairsLshRpMultiProbe(vectors: DataFrame, minCosine: Double,
                                  w: Array[Array[Array[Double]]]): DataFrame = {
    val bits = w(0).length
    val base = spread(vectors.select(col("vec_id"), col("v")))
      .withColumn("vn", Vec.norm(col("v")))
    val bk = base.select(col("vec_id"),
      posexplode(hyperplaneBuckets(col("v"), w)).as(Seq("tbl", "bucket")))
    val masks = array((lit(0L) +: (0 until bits).map(b => lit(1L << b))): _*)
    val probed = bk.select(col("vec_id").as("id_a"), col("tbl"),
        col("bucket").as("__b0"), explode(masks).as("__m"))
      .select(col("id_a"), col("tbl"),
        col("__b0").bitwiseXOR(col("__m")).as("bucket"))
    val cand = probed
      .join(bk.select(col("tbl"), col("bucket"), col("vec_id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    if (minCosine > -1.0) scorePairsInline(base, cand, minCosine)
    else rescorePairs(base, cand.distinct(), minCosine)
  }

  // ---- Binary (sign-bit) quantization + Hamming kNN -------------------

  /** 32 sign bits of dims [off+1, off+32] packed into one non-negative
    * long: bit i set iff v[off+i+1] > 0. Two 32-bit halves instead of a
    * single 64-bit word keep every code positive, so there is no
    * sign-bit shift/overflow semantics to match across engines. The
    * fold is a Catalyst higher-order aggregate — no UDF in the scan.
    */
  def signBits32(vcol: String, off: Int): Column =
    expr(s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
      (acc, i) -> acc + IF(element_at($vcol, i + ${off + 1}) > 0,
                           shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""")

  /** 64-bit binary (sign) quantization: 256 bytes of float32 → 8 bytes
    * of code (32×), the coarsest-but-cheapest ANN compression tier
    * below int8 (vq1) and PQ (vq2). `n_pos` (population count) rides
    * along as the usual index-health measure.
    */
  def binaryQuantize(vectors: DataFrame, vcol: String): DataFrame =
    vectors
      .withColumn("code_lo", signBits32(vcol, 0))
      .withColumn("code_hi", signBits32(vcol, 32))
      .withColumn("n_pos",
        expr("CAST(bit_count(code_lo) + bit_count(code_hi) AS BIGINT)"))

  /** Top-k by Hamming distance over binary codes: XOR + popcount per
    * candidate — two ALU ops against 64 multiply-adds for the exact
    * dot, and the corpus side reads 16 bytes/vector instead of 256.
    * Integer distances (ties to vec_id) make the ranking exactly
    * reproducible in any engine — no float rounding contract needed.
    * queries: (query_id, ql, qh); corpus: (vec_id, code_lo, code_hi).
    */
  def knnHamming(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = spread(corpus).crossJoin(broadcast(queries))
      .withColumn("hamming",
        expr("CAST(bit_count(code_lo ^ ql) + bit_count(code_hi ^ qh) AS BIGINT)"))
      .select("query_id", "vec_id", "hamming")
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("hamming").asc, col("vec_id").asc), k)
  }
}
