package graft.queries

import graft.Tables
import graft.operators.{Embed, VectorSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vec

/** Vector function + similarity-search query bindings (SURVEY §2.2-2.3,
  * §2.4 d5) with DuckDB oracle SQL.
  *
  * Fixture convention (documented in SURVEY §6): query set = vectors
  * with vec_id < 8; corpus = the rest; IVF centroids = vec_id < 16 with
  * corpus vec_id >= 16. All distance arithmetic is double with a fixed
  * operation order so both engines produce identical bits (see Vec).
  */
object VectorQueries {

  val EmbedDim = 64    // embedding dimension (declared first: several oracle
                       // val strings below interpolate it at init time)
  private val QN = 8   // query vectors
  private val CN = 16  // IVF centroids
  val K = 5            // top-k, reference n_results=5 (chroma.py:103)

  def queryVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < QN)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  def corpusVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") >= QN)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))

  // ---- SQL fragments shared by the oracles ----------------------------

  /** dot product of two DOUBLE[] lists, matching Vec.dot bit-for-bit. */
  private def dotS(a: String, b: String) = s"list_dot_product($a, $b)"
  private def cosS(a: String, b: String) =
    s"${dotS(a, b)} / (sqrt(${dotS(a, a)}) * sqrt(${dotS(b, b)}))"
  private def l2S(a: String, b: String) =
    s"sqrt(greatest(${dotS(a, a)} - 2.0 * ${dotS(a, b)} + ${dotS(b, b)}, 0.0))"

  private val qCte =
    s"q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < $QN)"
  private val cCte =
    s"c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings WHERE vec_id >= $QN)"

  private def topkSql(scoredSelect: String, desc: Boolean, k: Int = K) = {
    val dir = if (desc) "DESC" else "ASC"
    s"""SELECT query_id, vec_id, round(score, 6) AS score, rnk FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score $dir, vec_id ASC) AS rnk
       |  FROM ($scoredSelect)) WHERE rnk <= $k""".stripMargin
  }

  // ---- vf_norm --------------------------------------------------------

  def vfNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        round(Vec.norm(col("embedding")), 6).as("l2_norm"))

  val vfNormSql: String =
    """SELECT vec_id, label,
      |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
      |FROM embeddings""".stripMargin

  // ---- vf_pairwise: cos/dot/l2 on consecutive vector pairs ------------

  def vfPairwise(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val a = e.select(col("vec_id"), col("embedding").as("va"))
    val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("vb"))
    a.join(b, "vec_id")
      .select(col("vec_id"),
        round(Vec.cosine(col("va"), col("vb")), 6).as("cos_sim"),
        round(Vec.dot(col("va"), col("vb")), 6).as("dot_p"),
        round(Vec.l2(col("va"), col("vb")), 6).as("l2_dist"))
  }

  val vfPairwiseSql: String =
    s"""WITH a AS (SELECT vec_id, embedding::DOUBLE[] AS va FROM embeddings),
       |     b AS (SELECT vec_id - 1 AS vec_id, embedding::DOUBLE[] AS vb FROM embeddings)
       |SELECT vec_id,
       |  round(${cosS("va", "vb")}, 6) AS cos_sim,
       |  round(${dotS("va", "vb")}, 6) AS dot_p,
       |  round(${l2S("va", "vb")}, 6) AS l2_dist
       |FROM a JOIN b USING (vec_id)""".stripMargin

  // ---- v1/v2/v3: brute-force kNN --------------------------------------

  def v1KnnCos(s: SparkSession, d: String): DataFrame =
    VectorSearch.knnCosine(queryVecs(s, d), corpusVecs(s, d), K)

  val v1Sql: String =
    s"""WITH $qCte, $cCte
       |${topkSql(s"SELECT query_id, vec_id, ${cosS("qv", "v")} AS score FROM c, q", desc = true)}""".stripMargin

  def v2KnnDot(s: SparkSession, d: String): DataFrame =
    VectorSearch.knnDot(queryVecs(s, d), corpusVecs(s, d), K)

  val v2Sql: String =
    s"""WITH $qCte, $cCte
       |${topkSql(s"SELECT query_id, vec_id, ${dotS("qv", "v")} AS score FROM c, q", desc = true)}""".stripMargin

  def v3KnnL2(s: SparkSession, d: String): DataFrame =
    VectorSearch.knnL2(queryVecs(s, d), corpusVecs(s, d), K)

  val v3Sql: String =
    s"""WITH $qCte, $cCte
       |${topkSql(s"SELECT query_id, vec_id, ${l2S("qv", "v")} AS score FROM c, q", desc = false)}""".stripMargin

  // ---- v4: metadata-filtered kNN (filter BEFORE distance compute) -----

  def v4KnnFiltered(s: SparkSession, d: String): DataFrame =
    VectorSearch.knnCosine(
      queryVecs(s, d),
      corpusVecs(s, d).filter(col("label").isin(2, 3, 4)),
      K)

  val v4Sql: String =
    s"""WITH $qCte, $cCte
       |${topkSql(s"SELECT query_id, vec_id, ${cosS("qv", "v")} AS score FROM c, q WHERE label IN (2, 3, 4)", desc = true)}""".stripMargin

  // ---- v5: range search ------------------------------------------------

  val RangeMinCos = 0.3

  def v5Range(s: SparkSession, d: String): DataFrame =
    VectorSearch.rangeSearch(queryVecs(s, d), corpusVecs(s, d), RangeMinCos)

  val v5Sql: String =
    s"""WITH $qCte, $cCte
       |SELECT query_id, vec_id, round(score, 6) AS score FROM (
       |  SELECT query_id, vec_id, ${cosS("qv", "v")} AS score FROM c, q)
       |WHERE score >= $RangeMinCos""".stripMargin

  // ---- v6: IVF kNN -----------------------------------------------------

  val NProbe = 4

  def centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < CN)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cv"))

  def ivfCorpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") >= CN)
      .select(col("vec_id"), col("embedding").as("v"))

  def v6KnnIvf(s: SparkSession, d: String): DataFrame =
    VectorSearch.knnIvf(queryVecs(s, d), ivfCorpus(s, d), centroids(s, d), K, NProbe)

  /** v6's full IVF SQL with a parameterized probe width — reused by
    * the v18 tuning curve at nprobe 1..4. */
  private def ivfSqlWithProbe(nprobe: Int): String = {
    val centCte =
      s"cent AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $CN)"
    val corpCte =
      s"corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= $CN)"
    s"""WITH $qCte, $centCte, $corpCte,
       |assigned AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT corp.vec_id, corp.v, cent.cell_id,
       |      row_number() OVER (PARTITION BY corp.vec_id
       |        ORDER BY ${l2S("corp.v", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM corp, cent) WHERE crnk = 1),
       |probed AS (
       |  SELECT query_id, qv, cell_id FROM (
       |    SELECT q.query_id, q.qv, cent.cell_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2S("q.qv", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM q, cent) WHERE crnk <= $nprobe)
       |${topkSql(s"SELECT p.query_id, a.vec_id, ${cosS("p.qv", "a.v")} AS score FROM assigned a JOIN probed p USING (cell_id)", desc = true)}""".stripMargin
  }

  val v6Sql: String = ivfSqlWithProbe(NProbe)

  // ---- vq1: int8 scalar quantization -----------------------------------

  /** Exploded (vec_id, dim_idx, qval) int8 codes — all-integer output,
    * hash-exact across engines (see Vec.quantizeI8 for the floor(p+.5)
    * parity argument). */
  def vq1Quantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(Vec.quantizeI8(col("embedding"))))
      .select(col("vec_id"), col("pos").as("dim_idx"), col("col").as("qval"))

  val vq1Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |m AS (SELECT vec_id, v,
       |        greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS ma FROM e)
       |SELECT vec_id, r.range AS dim_idx,
       |  CAST(floor(v[r.range + 1] * (127.0 / ma) + 0.5) AS INT) AS qval
       |FROM m, range(0, $EmbedDim) r""".stripMargin

  // ---- ti1: batched text-embedding inference ---------------------------

  /** Batched mapPartitions inference (per-partition model init) whose
    * stub model reproduces the hashing-TF embed exactly — so the
    * imperative inference path shares v0's oracle. */
  def ti1TextInference(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Dist.spread(Tables.documents(s, d).select("doc_id", "text"))
      .as[graft.operators.TextInference.DocRow]
    graft.operators.TextInference.embedText(docs, EmbedDim).toDF()
      .select(col("doc_id"), posexplode(col("embedding")))
      .select(col("doc_id"), col("pos").as("dim_idx"), col("col").as("value"))
  }

  // def, not val: v0Sql is declared later in this object and would be
  // null at val-initialization time
  def ti1Sql: String = v0Sql

  // ---- v10: MMR diversified retrieval ----------------------------------

  val MmrLambda = 0.7
  val MmrK = 3  // small enough to UNROLL the greedy selection in SQL
  val MmrM = 20

  /** Diversified top-3 from top-20 brute-force candidates. Oracle-
    * checked since round 7: the greedy selection is unrolled into one
    * CTE per pick (g1's unrolled-PageRank trick) — feasible because
    * candidate scores are 6dp-rounded and every float expression is
    * written in one shared operation order; MmrSpec still pins
    * first-pick, dedup, and diversity semantics. */
  def v10Mmr(s: SparkSession, d: String): DataFrame =
    graft.operators.Mmr.diversifiedKnn(
      queryVecs(s, d), corpusVecs(s, d).select("vec_id", "v"),
      MmrK, MmrM, MmrLambda)
      // floor(x·1e6 + 0.5), NOT round(): pick-1 scores are λ·(6dp
      // score) — decimal products ending exactly in ...5, where
      // Spark's shortest-decimal HALF_UP and DuckDB's binary round()
      // disagree by construction; floor is bit-exact on the identical
      // double (the vq1 trick)
      .withColumn("mmr_score", floor(col("mmr_score") * 1e6 + lit(0.5)) / 1e6)

  /** Unrolled greedy-MMR oracle: pick_i = argmax over the remaining
    * candidates of λ·score − (1−λ)·max sim to the already-picked set,
    * one CTE per pick. The λ coefficients are written as (1 − λ) IN
    * THE SQL TEXT — 1−0.7 is 0.30000000000000004 in binary, and a
    * literal 0.3 would diverge. The candidate cosine and the
    * pair-similarity cosine use the same operation order as
    * VectorSearch/Mmr.cos (one sqrt of the norm product). */
  val v10Sql: String = {
    // ::DOUBLE on the λ literal: a bare 0.7 is DECIMAL in DuckDB, so
    // (1 - 0.7) would be exactly 0.3 — Scala's (1 - lambda) in double
    // arithmetic is 0.30000000000000004, two ulps away
    val L = s"$MmrLambda::DOUBLE"
    // cos between two normalized lists, matching Mmr.cos bit-for-bit:
    // d / sqrt(na * nb) — ONE sqrt of the product
    def simS(a: String, b: String) =
      s"${dotS(a, b)} / sqrt(${dotS(a, a)} * ${dotS(b, b)})"
    s"""WITH $qCte, $cCte,
       |nc AS (SELECT vec_id, v,
       |         list_transform(v, x -> x / sqrt(${dotS("v", "v")})) AS nv
       |       FROM c),
       |cand AS (
       |  SELECT query_id, vec_id, round(score, 6) AS score, nv FROM (
       |    SELECT q.query_id, nc.vec_id, ${cosS("qv", "v")} AS score, nc.nv,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosS("qv", "v")} DESC, nc.vec_id ASC) AS crnk
       |    FROM nc, q) WHERE crnk <= $MmrM),
       |p1 AS (SELECT query_id, vec_id, score, nv,
       |         $L * score - (1 - $L) * 0.0 AS mmr_score
       |       FROM (SELECT cand.*, row_number() OVER (PARTITION BY query_id
       |               ORDER BY score DESC, vec_id ASC) AS r FROM cand)
       |       WHERE r = 1),
       |m2 AS (SELECT c.query_id, c.vec_id, c.score, c.nv,
       |         $L * c.score - (1 - $L) * (${simS("c.nv", "p.nv")}) AS mmr_score
       |       FROM cand c JOIN p1 p ON p.query_id = c.query_id
       |       WHERE c.vec_id <> p.vec_id),
       |p2 AS (SELECT query_id, vec_id, score, nv, mmr_score FROM (
       |         SELECT m2.*, row_number() OVER (PARTITION BY query_id
       |           ORDER BY mmr_score DESC, vec_id ASC) AS r FROM m2)
       |       WHERE r = 1),
       |m3 AS (SELECT c.query_id, c.vec_id, c.score,
       |         $L * c.score - (1 - $L) *
       |           greatest(${simS("c.nv", "a.nv")}, ${simS("c.nv", "b.nv")}) AS mmr_score
       |       FROM cand c
       |       JOIN p1 a ON a.query_id = c.query_id
       |       JOIN p2 b ON b.query_id = c.query_id
       |       WHERE c.vec_id <> a.vec_id AND c.vec_id <> b.vec_id),
       |p3 AS (SELECT query_id, vec_id, score, mmr_score FROM (
       |         SELECT m3.*, row_number() OVER (PARTITION BY query_id
       |           ORDER BY mmr_score DESC, vec_id ASC) AS r FROM m3)
       |       WHERE r = 1)
       |SELECT query_id, vec_id, score, floor(mmr_score * 1000000 + 0.5) / 1000000 AS mmr_score, 1 AS pick FROM p1
       |UNION ALL
       |SELECT query_id, vec_id, score, floor(mmr_score * 1000000 + 0.5) / 1000000 AS mmr_score, 2 AS pick FROM p2
       |UNION ALL
       |SELECT query_id, vec_id, score, floor(mmr_score * 1000000 + 0.5) / 1000000 AS mmr_score, 3 AS pick FROM p3""".stripMargin
  }

  // ---- v9 / u3: persistent index + incremental upsert ------------------

  /** Deterministic scratch location for the persisted index (driver
    * runs are sequential; each entry overwrites its own suffix). */
  private def indexPath(d: String, suffix: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_index_" +
      s"${graft.Dist.pathTag(d)}_$suffix"

  /** Build the persistent IVF index (centroids + cell-partitioned
    * assignments as parquet), then serve the kNN from what was LOADED
    * back — exercising the reference's persistent-collection workflow.
    * Results are identical to v6 (same fixed centroids), so the oracle
    * is v6's SQL. */
  def v9IvfPersisted(s: SparkSession, d: String): DataFrame = {
    val path = indexPath(d, "v9")
    graft.operators.IndexStore.build(ivfCorpus(s, d), centroids(s, d), path)
    graft.operators.IndexStore.query(s, path, queryVecs(s, d), K, NProbe)
  }

  def v9Sql: String = v6Sql

  /** Incremental index maintenance: every 10th corpus vector is
    * re-submitted negated as version 1; the upsert assigns cells for
    * the delta only and appends; the merge-on-read view must show the
    * new assignment winning per vec_id. */
  def u3IndexUpsert(s: SparkSession, d: String): DataFrame = {
    val path = indexPath(d, "u3")
    graft.operators.IndexStore.build(ivfCorpus(s, d), centroids(s, d), path)
    val batch = ivfCorpus(s, d).filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), transform(col("v"), x => -x).as("v"),
        lit(1).as("version"))
    graft.operators.IndexStore.upsert(s, path, batch)
    graft.operators.IndexStore.currentAssignments(s, path)
      .select("vec_id", "cell_id", "version")
  }

  val u3Sql: String = {
    val centCte =
      s"cent AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $CN)"
    val corpCte =
      s"corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= $CN)"
    s"""WITH $centCte, $corpCte,
       |merged AS (
       |  SELECT vec_id, v, 0 AS version FROM corp WHERE vec_id % 10 != 0
       |  UNION ALL
       |  SELECT vec_id, list_transform(v, x -> -x) AS v, 1 AS version
       |  FROM corp WHERE vec_id % 10 = 0)
       |SELECT vec_id, cell_id, version FROM (
       |  SELECT m.vec_id, c.cell_id, m.version,
       |    row_number() OVER (PARTITION BY m.vec_id
       |      ORDER BY ${l2S("m.v", "c.cv")} ASC, c.cell_id ASC) AS rnk
       |  FROM merged m, cent c) WHERE rnk = 1""".stripMargin
  }

  // ---- v8: IVF kNN with MLlib-KMeans-learned centroids ----------------
  // rows-only driver check (a k-means fit is not SQL-expressible);
  // the spec asserts recall against brute force instead.

  def v8KnnIvfKmeans(s: SparkSession, d: String): DataFrame = {
    val corpus = ivfCorpus(s, d)
    // serve from persisted centroids (fit once per dataset, like v9's
    // persisted assignments) — the fit itself runs on a ≤8k-row
    // deterministic hash sample, which converges the same cells as the
    // full-corpus fit at a fraction of the MLlib iteration cost
    val centroids = graft.operators.IvfIndex
      .fitOrLoadCentroids(corpus, CN, indexPath(d, "v8cent"),
        fitSampleRows = 8192)
      .select(col("cell_id"), col("cv"))
    VectorSearch.knnIvf(queryVecs(s, d), corpus, centroids, K, NProbe)
  }

  // ---- v7: sign-bit LSH kNN -------------------------------------------

  val LshBits = 8
  val LshTables = 4 // disjoint 8-dim tables over dims 0..31 (axis variant)

  // random-hyperplane LSH parameters (the production bucketing for
  // v7/d6): bits/table trades recall vs candidate volume. Measured on
  // this fixture vs brute force top-5: (8,4)=0.05, (6,8)=0.30,
  // (4,8)=0.675 — weakly-similar neighbors (cos~0.3-0.5) sit near 60-70°,
  // so per-bit agreement p=1-θ/π ≈ 0.6 and few bits per table is the
  // only way up; true near-dups (cos≥0.9, p≈0.9) bucket far better.
  val RpBits = 4
  val RpTables = 8
  val RpSeed = 42L
  lazy val rpWeights: Array[Array[Array[Double]]] =
    VectorSearch.hyperplaneWeights(RpBits, RpTables, 64, RpSeed)

  // the PAIR join (d6) uses finer buckets than the kNN (v7): with
  // b-bit tables, v7's candidate volume is Q·N·L/2^b (queries are few —
  // coarse buckets are cheap and recall-maximizing), while d6's is
  // N²·L/2^(b+1) — 4-bit buckets degenerate toward all-pairs (measured
  // 16 s at sf0.1). 6 bits × 8 tables keeps pair volume 4× lower with
  // pair recall 0.394 at cos≥0.4 and ≈1.0 in the true near-dup regime
  // (cos≥0.95) that dedup actually targets.
  val RpBitsPair = 6
  lazy val rpWeightsPair: Array[Array[Array[Double]]] =
    VectorSearch.hyperplaneWeights(RpBitsPair, RpTables, 64, RpSeed)

  // ---- N-adaptive pair-LSH width (the sf10 fix) -----------------------
  // A FIXED bucket count is the one quadratic scale-killer the sf10
  // rung exposed (kg1/hg1/hg2): with 2^b buckets, expected
  // within-bucket pair volume is N²·L/2^(b+1) — quadratic in N at any
  // fixed b. The production rule keeps expected OCCUPANCY constant:
  // b = min b in [RpBitsPair, RpBitsPairMax] with N ≤ PairOcc·2^b, so
  // pair volume grows ~N·PairOcc/2·L (linear). b is a deterministic
  // integer both engines derive from the same count(*) — the Spark
  // side via pairBits(embCount), the oracle via its `nb` CTE
  // (pairNbCteS) — so the bucketed semantics stay oracle-exact at
  // every width. Planes for bit < RpBitsPair are the EXACT arrays
  // prior rounds shipped (any corpus ≤ PairOcc·2^6 = 2048 vectors —
  // all spec fixtures, sf0.001/0.01/0.1 — is bit-identical to r11);
  // planes above are per-plane seeded (seed ⊕ f(tbl, bit)) so the
  // first-b slice never depends on which width was chosen.
  val RpBitsPairMax = 24 // covers N ≤ PairOcc·2^24 = 536M vectors
                         // (r12 verdict task 4: the former cap of 16
                         // clamped silently past 2M vectors and pair
                         // volume went quadratic again). The schedule
                         // cost is linear in the cap — 24 planes/table
                         // in the oracle VALUES list — and the width a
                         // given corpus USES is unchanged for N ≤ 2M,
                         // so every existing rung is bit-identical.
                         // Past 536M vectors the width clamps again:
                         // ix3_width_preflight FLAGS that state as a
                         // registered, oracle-checked row.
  val PairOcc = 32

  /** Deterministic ±1 plane for (tbl, bit) independent of total width. */
  private def pairPlaneExt(t: Int, b: Int): Array[Double] = {
    val rnd = new scala.util.Random(RpSeed * 1000003L + t * 131L + b)
    Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** RpBitsPairMax planes per table: bits < RpBitsPair are
    * rpWeightsPair verbatim, the rest per-plane seeded. */
  lazy val rpWeightsPairExt: Array[Array[Array[Double]]] =
    Array.tabulate(RpTables) { t =>
      Array.tabulate(RpBitsPairMax) { b =>
        if (b < RpBitsPair) rpWeightsPair(t)(b) else pairPlaneExt(t, b)
      }
    }

  /** min b in [RpBitsPair, RpBitsPairMax] with n ≤ PairOcc·2^b. */
  def pairBits(n: Long): Int = {
    var b = RpBitsPair
    while (b < RpBitsPairMax && n > (PairOcc.toLong << b)) b += 1
    b
  }

  /** The first `bits` pair planes of every table. */
  def pairWeights(bits: Int): Array[Array[Array[Double]]] =
    rpWeightsPairExt.map(_.take(bits))

  private val embCountMemo =
    new scala.collection.concurrent.TrieMap[String, Long]()

  /** Memo key = (dir, table file mtime+size): a fixture regenerated
    * mid-JVM invalidates the memo instead of silently serving a stale
    * LSH width while the DuckDB oracle recounts live (r13 advice — the
    * stat is pure metadata cost, same rationale as FitOrLoad.contentSig). */
  private def tableSig(d: String, table: String): String = {
    val f = new java.io.File(s"$d/$table.parquet")
    val (m, len) =
      if (f.isDirectory) {
        val fs = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        (fs.map(_.lastModified()).maxOption.getOrElse(0L), fs.map(_.length()).sum)
      } else (f.lastModified(), f.length())
    s"$d/$table@$m:$len"
  }

  /** Memoized corpus size driving the pair-LSH width (one metadata
    * count per dataset dir per JVM — parquet footer row counts). */
  def embCount(s: SparkSession, d: String): Long =
    embCountMemo.getOrElseUpdate(tableSig(d, "embeddings"),
      Tables.embeddings(s, d).count())

  /** The adaptive pair weights for dataset `d`. */
  def pairWeightsFor(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    pairWeights(pairBits(embCount(s, d)))

  private val docCountMemo =
    new scala.collection.concurrent.TrieMap[String, Long]()

  /** Memoized documents-table size — drives the v19 hybrid dense arm's
    * adaptive LSH width (same mtime-keyed staleness guard as embCount). */
  def docCount(s: SparkSession, d: String): Long =
    docCountMemo.getOrElseUpdate(tableSig(d, "documents"),
      Tables.documents(s, d).count())

  // ---- ix3: adaptive-width preflight ----------------------------------

  /** ix3_width_preflight — operational guard for the pairBits schedule
    * (r12 verdict task 4): corpus size, the width the pair-LSH family
    * will use, expected bucket occupancy (×1000, integer — float-free
    * cross-engine), and a `clamped` flag that fires when N exceeds
    * PairOcc·2^RpBitsPairMax — i.e. the corpus has outrun the widest
    * plane schedule and pair volume is quadratic again. The oracle
    * derives every column from the same count(*), so a clamp on a
    * growing corpus is a visible hash-checked row, not a silent perf
    * cliff. Driver-side arithmetic on one metadata count — O(1). */
  def ix3WidthPreflight(s: SparkSession, d: String): DataFrame = {
    val n = embCount(s, d)
    val bits = pairBits(n)
    val clamped = if (n > (PairOcc.toLong << bits)) 1 else 0
    val occMilli = n * 1000L / (1L << bits)
    import s.implicits._
    Seq((n, bits, occMilli, clamped))
      .toDF("n_vectors", "bits", "occupancy_milli", "clamped")
  }

  val ix3Sql: String =
    s"""WITH ${pairNbCteS()},
       |cnt AS (SELECT count(*) AS n FROM embeddings)
       |SELECT n AS n_vectors, bits,
       |  n * 1000 // (1::BIGINT << bits) AS occupancy_milli,
       |  CASE WHEN n > $PairOcc * (1::BIGINT << bits) THEN 1 ELSE 0 END AS clamped
       |FROM cnt, nb""".stripMargin

  /** The ±1 weight rows as a DuckDB VALUES list: (tbl, bit, wv). */
  private def weightRowsS(w: Array[Array[Array[Double]]]): String =
    w.zipWithIndex.flatMap { case (tbl, t) =>
      tbl.zipWithIndex.map { case (plane, b) =>
        s"($t, $b, [${plane.map(x => if (x > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n|    ")

  private lazy val rpWeightRowsS: String = weightRowsS(rpWeights)
  /** All RpBitsPairMax planes — pair-family oracles filter
    * `w.bit < (SELECT bits FROM nb)` so only the adaptive width's
    * planes contribute to the bucket sum. (private[queries]: the v19
    * hybrid oracle in CorpusQueries composes the same plane table.) */
  private[queries] lazy val rpWeightRowsPairExtS: String = weightRowsS(rpWeightsPairExt)

  /** The oracle's copy of pairBits(count(*)): the same minimal width
    * with the same integer comparison, so both engines bucket with the
    * identical plane set at every corpus size. */
  private[queries] def pairNbCteS(srcTable: String = "embeddings"): String =
    s"""nb AS (SELECT CAST(coalesce(min(r.range), $RpBitsPairMax) AS INT) AS bits
       |  FROM (SELECT count(*) AS n FROM $srcTable) t,
       |       range($RpBitsPair, ${RpBitsPairMax + 1}) r
       |  WHERE t.n <= $PairOcc * (1::BIGINT << r.range))""".stripMargin

  /** N-aware bucket CTE: rpBucketCteS with the plane set cut to the
    * adaptive width from `nb`. */
  private def rpBucketCteNS(out: String, src: String, idCol: String,
                            vCol: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT s.$idCol, any_value(s.$vCol) AS $vCol, w.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(s.$vCol, w.wv) >= 0
       |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM $src s, w
       |  WHERE w.bit < (SELECT bits FROM nb)
       |  GROUP BY s.$idCol, w.tbl)""".stripMargin

  /** N-aware bucket CTE WITHOUT the vector payload: (id, tbl, bucket)
    * only. The any_value(v) in rpBucketCteNS keeps a 64-double LIST
    * aggregate state per (id, tbl) group — ~50 GB of hash-table slack
    * at sf30's 12M groups (the d6 gate OOM), for a payload the
    * consumer can re-join from the source CTE at a fraction of the
    * cost. Use this whenever the pair join dedups before scoring. */
  private def rpBucketSlimCteNS(out: String, src: String, idCol: String,
                                vCol: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT s.$idCol, w.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(s.$vCol, w.wv) >= 0
       |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM $src s, w
       |  WHERE w.bit < (SELECT bits FROM nb)
       |  GROUP BY s.$idCol, w.tbl)""".stripMargin

  /** First-collision candidate-pair CTEs over a slim (id, tbl, bucket)
    * CTE: pivot to ONE row per id (bucket per table as $RpTables
    * columns — 1 row × ~9 BIGINTs per vector), then one equi-join arm
    * per table t guarded by "no collision in any EARLIER table"
    * (IS DISTINCT FROM — a layer capped below t tables pivots NULL
    * buckets, which must neither match nor veto). Each colliding pair
    * is emitted EXACTLY once, at its first colliding table, so the
    * cross-table pair dedup needs NO aggregate at all: the sharded
    * DISTINCT this replaces bounded memory but still spilled its
    * whole input partition set — the candidate MULTISET (~1.8G rows /
    * 54 GB at sf30's copy-degenerate rung) — where this shape streams
    * end-to-end with ~150 MB build tables. The engine-side analog is
    * VectorSearch's per-pair max-dedup, which Spark distributes; the
    * oracle runs on one node and needs the aggregate-free form. */
  private def pairFirstCollisionCtes(
      out: String, src: String, bucketCol: String,
      vectorsFrom: Option[String] = None,
      selectList: String = "a.vec_id AS id_a, b2.vec_id AS id_b",
      extraFrom: String = ""): String = {
    val piv = s"${out}_piv"
    val cols = (0 until RpTables).map(t =>
      s"max(CASE WHEN tbl = $t THEN $bucketCol END) AS bk$t")
      .mkString(",\n    ")
    // optional vector payload: attached to the PIVOT (one ~1k-row-
    // equivalent join of two id-keyed million-row tables), never to
    // the per-table bucket rows and never via a join AFTER the pair
    // union — DuckDB's cardinality estimate for a union of joins is
    // small, so it picks the (actually huge) pair side as a hash-join
    // BUILD side and spills the candidate set it just avoided holding
    val pivSql = vectorsFrom match {
      case None =>
        s"""$piv AS MATERIALIZED (
           |  SELECT vec_id,
           |    $cols
           |  FROM $src GROUP BY vec_id)""".stripMargin
      case Some(e) =>
        s"""$piv AS MATERIALIZED (
           |  SELECT p.*, $e.v
           |  FROM (SELECT vec_id,
           |    $cols
           |  FROM $src GROUP BY vec_id) p JOIN $e ON $e.vec_id = p.vec_id)"""
          .stripMargin
    }
    val arms = (0 until RpTables).map { t =>
      val guards = (0 until t).map(p => s"a.bk$p IS DISTINCT FROM b2.bk$p")
      val where = (s"a.vec_id < b2.vec_id" +: guards).mkString("\n      AND ")
      s"""  SELECT $selectList
         |  FROM $piv a JOIN $piv b2 ON a.bk$t = b2.bk$t$extraFrom
         |  WHERE $where""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""$pivSql,
       |$out AS (
       |$arms)""".stripMargin
  }

  /** Local top-K wrapper for directed (src, dst, score) branches. */
  private def localTopKArm(k: Int)(arm: String): String =
    s"""  SELECT src, dst, score FROM (
       |    SELECT src, dst, score, row_number() OVER (PARTITION BY src
       |      ORDER BY score DESC, dst ASC) AS lrnk
       |    FROM (
       |$arm) arm_in) arm_rk
       |  WHERE lrnk <= $k""".stripMargin

  /** DIRECTED first-collision candidates with bounded per-branch
    * top-K: one branch per (table, direction, src-shard), each branch
    * local-top-K'd per src. Three exactness facts compose: (1)
    * first-collision emit-once — a pair appears in exactly one table
    * arm; (2) the src-shard predicate sits on the SIDE the src comes
    * from, so it pushes into the (filtered, build-side) join input —
    * the join output is PARTITIONED across branches, never recomputed;
    * (3) for a fixed src, all its rows within one (table, direction)
    * land in one shard, so a per-branch top-K per src loses nothing:
    * the global top-K is a subset of the union of the ≤ 2·RpTables
    * per-branch top-Ks. Net effect at sf30's copy-degenerate rung:
    * the directed candidate multiset (~720M rows — 95% of it in table
    * 0, where verbatim copies always first-collide) never exists as
    * one window input; each branch sorts ~1/shards of one table's
    * one-direction slice in memory, and the downstream global window
    * ranks ≤ 2·RpTables·K rows per src. This is the oracle-side
    * mirror of TopK.perKey's partial per-partition heaps. */
  private def pairFirstCollisionDirectedCtes(
      out: String, src: String, bucketCol: String,
      vectorsFrom: String, k: Int,
      shards: Int = PairWindowOracleShards): String = {
    val piv = s"${out}_piv"
    val cols = (0 until RpTables).map(t =>
      s"max(CASE WHEN tbl = $t THEN $bucketCol END) AS bk$t")
      .mkString(",\n    ")
    val pivSql =
      s"""$piv AS MATERIALIZED (
         |  SELECT p.*, $vectorsFrom.v
         |  FROM (SELECT vec_id,
         |    $cols
         |  FROM $src GROUP BY vec_id) p
         |  JOIN $vectorsFrom ON $vectorsFrom.vec_id = p.vec_id)""".stripMargin
    val arms = for {
      t <- 0 until RpTables
      d <- 0 to 1
      i <- 0 until shards
    } yield {
      val guards = (0 until t).map(p => s"a.bk$p IS DISTINCT FROM b2.bk$p")
      val (sc, dc) = if (d == 0) ("a.vec_id", "b2.vec_id")
                     else ("b2.vec_id", "a.vec_id")
      val shardPred = s"$sc % $shards = $i"
      val where = (Seq("a.vec_id < b2.vec_id", shardPred) ++ guards)
        .mkString("\n      AND ")
      localTopKArm(k)(
        s"""  SELECT $sc AS src, $dc AS dst,
           |    round(${cosS("a.v", "b2.v")}, 6) AS score
           |  FROM $piv a JOIN $piv b2 ON a.bk$t = b2.bk$t
           |  WHERE $where""".stripMargin)
    }
    s"""$pivSql,
       |$out AS (
       |${arms.mkString("\n  UNION ALL\n")})""".stripMargin
  }

  /** Src-shard count for the directed first-collision branches: sized
    * so the copy-heavy table-0 slice (~224M pairs per direction at
    * sf30) windows ~40M rows per branch — in-memory at the gate's
    * budget. */
  val PairWindowOracleShards = 6

  /** Bucket CTE: one (id, payload, tbl, bucket) row per table, buckets
    * from the same ±1 hyperplane dot products the Spark side computes
    * (identical literals, identical sequential fold → identical signs). */
  private def rpBucketCteS(out: String, src: String, idCol: String,
                           vCol: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT s.$idCol, any_value(s.$vCol) AS $vCol, w.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(s.$vCol, w.wv) >= 0
       |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM $src s, w
       |  GROUP BY s.$idCol, w.tbl)""".stripMargin

  def v7KnnLsh(s: SparkSession, d: String): DataFrame =
    VectorSearch.knnLshRp(queryVecs(s, d), corpusVecs(s, d), K, rpWeights)

  val v7Sql: String =
    s"""WITH $qCte, $cCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsS),
       |${rpBucketCteS("qb", "q", "query_id", "qv")},
       |${rpBucketCteS("cb", "c", "vec_id", "v")},
       |cand AS (SELECT query_id, vec_id, max(score) AS score FROM (
       |    SELECT query_id, vec_id, ${cosS("qv", "v")} AS score
       |    FROM cb JOIN qb USING (tbl, bucket)) GROUP BY 1, 2)
       |${topkSql(s"SELECT query_id, vec_id, score FROM cand", desc = true)}""".stripMargin

  // ---- v13: multi-probe LSH kNN ---------------------------------------

  def v13KnnLshMp(s: SparkSession, d: String): DataFrame =
    VectorSearch.knnLshRpMultiProbe(queryVecs(s, d), corpusVecs(s, d), K,
      rpWeights)

  /** v7's bucket CTEs + a probe expansion on the query side only:
    * mask 0 (own bucket) plus one mask per flippable bit. */
  val v13Sql: String =
    s"""WITH $qCte, $cCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsS),
       |${rpBucketCteS("qb0", "q", "query_id", "qv")},
       |${rpBucketCteS("cb", "c", "vec_id", "v")},
       |qb AS (SELECT query_id, qv, tbl,
       |         xor(bucket, CASE WHEN m.range < 0 THEN 0
       |                          ELSE (1::BIGINT << m.range) END) AS bucket
       |       FROM qb0, range(-1, $RpBits) m),
       |cand AS (SELECT query_id, vec_id, max(score) AS score FROM (
       |    SELECT query_id, vec_id, ${cosS("qv", "v")} AS score
       |    FROM cb JOIN qb USING (tbl, bucket)) GROUP BY 1, 2)
       |${topkSql(s"SELECT query_id, vec_id, score FROM cand", desc = true)}""".stripMargin

  // ---- d5: embedding-cosine near-duplicate pairs ----------------------

  val NearDupMinCos = 0.4

  /** All-pairs near-dup here (exact); the 100 TB path prunes candidates
    * with the LSH band join from Dedup before exact rescoring.
    */
  def d5EmbedNearDup(s: SparkSession, d: String): DataFrame =
    VectorSearch.nearDupPairs(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")),
      NearDupMinCos)

  val d5Sql: String =
    // norms precomputed once per vector (MATERIALIZED), not re-derived
    // inside every pair: the all-pairs join is O(N^2) dot products
    // either way, but the inline cosS form re-ran BOTH norm dot
    // products per pair — 3x the list ops, which is hours at sf10's
    // 20B pairs. Same arithmetic, same values.
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
       |  FROM embeddings)
       |SELECT id_a, id_b, round(score, 6) AS score FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_dot_product(a.v, b.v) / (a.vn * b.vn) AS score
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
       |WHERE score >= $NearDupMinCos""".stripMargin

  // ---- d5_s97: the brute-force attestation slice ----------------------

  val NearDupSampleMod = 97

  /** d5_embed_neardup_s97 — d5's pairs restricted to those touching
    * the deterministic vec_id % 97 sample, every sampled vector scored
    * against the whole corpus (see VectorSearch.nearDupPairsSampled).
    * The subset row that keeps d5's arithmetic hash-verified at rungs
    * where the full all-pairs oracle is infeasible (r11 task 4): the
    * full d5 row stays the documented O(N²) baseline tier; THIS row is
    * what the sf10+ gate checks. */
  def d5EmbedNearDupS(s: SparkSession, d: String): DataFrame =
    VectorSearch.nearDupPairsSampled(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")),
      NearDupMinCos, NearDupSampleMod)

  val d5SSql: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
       |  FROM embeddings),
       |samp AS MATERIALIZED (SELECT * FROM e WHERE vec_id % $NearDupSampleMod = 0)
       |SELECT id_a, id_b, round(score, 6) AS score FROM (
       |  SELECT s.vec_id AS id_a, b.vec_id AS id_b,
       |    list_dot_product(s.v, b.v) / (s.vn * b.vn) AS score
       |  FROM samp s JOIN e b ON s.vec_id < b.vec_id
       |  UNION ALL
       |  SELECT a.vec_id AS id_a, s.vec_id AS id_b,
       |    list_dot_product(a.v, s.v) / (a.vn * s.vn) AS score
       |  FROM samp s JOIN e a
       |    ON a.vec_id < s.vec_id AND a.vec_id % $NearDupSampleMod != 0)
       |WHERE score >= $NearDupMinCos""".stripMargin

  // ---- d6: LSH-bucketed near-dup (the 100 TB path for d5) -------------

  def d6NearDupLsh(s: SparkSession, d: String): DataFrame =
    VectorSearch.nearDupPairsLshRp(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")),
      NearDupMinCos, pairWeightsFor(s, d))

  /** Dedup-aggregate partition count for oracle CTEs that must keep a
    * DISTINCT (the HNSW nd-round wedge closure, where first-collision
    * emit-once has no analog). One unbounded high-cardinality dedup
    * overshoots DuckDB's memory limit ~6x before the radix spill
    * engages (observed: 130 GB RSS under a 20 GB limit → kernel OOM);
    * hash-partitioning by the output key into K UNION ALL branches
    * bounds each branch's states AND its spill partition set to ~1/K
    * at the same total join volume. Pair CANDIDATE dedup (d6/kg1/
    * cand_l) doesn't shard — it uses the aggregate-free
    * pairFirstCollisionCtes instead. */
  val PairDedupOracleShards = 9

  val d6Sql: String = {
    // dedup-then-score: first-collision pair generation (no dedup
    // aggregate — see pairFirstCollisionCtes), then the cosine is
    // computed ONCE per distinct pair by joining the vectors back —
    // 8x fewer cosines than score-in-join, and the whole plan streams.
    // max(score) over per-table hits equals the single score (the
    // cosine does not depend on the table), so emit-once is the same
    // dedup the old GROUP BY max expressed.
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |${rpBucketSlimCteNS("bs", "e", "vec_id", "v")},
       |${pairFirstCollisionCtes("cand", "bs", "bucket",
          vectorsFrom = Some("e"),
          selectList = "a.vec_id AS id_a, b2.vec_id AS id_b, " +
            s"${cosS("a.v", "b2.v")} AS score")}
       |SELECT id_a, id_b, round(score, 6) AS score FROM cand
       |WHERE score >= $NearDupMinCos""".stripMargin
  }

  // ---- emh1_sim_histogram ---------------------------------------------

  /** emh1_sim_histogram — embedding-space cosine HISTOGRAM over a
    * deterministic pair sample (each vector paired with its id
    * successor): the geometry health check read before trusting any
    * cosine threshold — a healthy space is spread; a collapsed space
    * (all mass in one band) makes every near-dup cut meaningless.
    * Bands come from the 6-dp-ROUNDED cosine (both engines band the
    * same number); N−1 pairs, one narrow self-join on the id, integer
    * counts, ≤11-row output at any corpus size. */
  def emh1SimHistogram(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
    val pairs = e.select(col("vec_id"), col("v").as("va"))
      .join(e.select((col("vec_id") - 1).as("vec_id"), col("v").as("vb")),
        "vec_id")
      .select(round(graft.functions.Vec.cosine(col("va"), col("vb")), 6)
        .as("score"))
    val tot = pairs.count()
    pairs.select(floor((col("score") + 1.0) * 5.0).cast("long").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
      .withColumn("share",
        round(col("n_pairs").cast("double") / lit(tot.toDouble), 6))
  }

  val emh1Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT round(${cosS("a.v", "b.v")}, 6) AS score
       |      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM p)
       |SELECT CAST(floor((score + 1.0) * 5.0) AS BIGINT) AS band,
       |  count(*) AS n_pairs,
       |  round(CAST(count(*) AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
       |FROM p, t GROUP BY 1, tot""".stripMargin

  // ---- pq3_distortion -------------------------------------------------

  /** pq3_distortion — PQ quantization-error report per subspace (the
    * codebook-quality measurement behind vq2/v11/v14: a subspace with
    * fat distortion is where ADC ranking loses recall, and the signal
    * to re-train or split the codebook): winning squared distance per
    * (vector, subspace) quantized ONCE to floor(err·1e6) — the fold
    * order matches the oracle exactly, so the floors are bit-safe —
    * then integer sums give exact mean/max distortion. One encode
    * pass, `subspaces` output rows at any corpus size. */
  def pq3Distortion(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusVecs(s, d).select("vec_id", "v")
    val cb = graft.operators.Pq.codebook(corpus)
    graft.operators.Pq.encodeWithError(corpus, cb)
      .groupBy("subspace")
      .agg(count(lit(1)).as("n"), sum("errq").as("__se"), max("errq").as("__me"))
      .select(col("subspace").cast("long").as("subspace"), col("n"),
        round(col("__se").cast("double") / col("n").cast("double") / 1e6, 6)
          .as("mean_err"),
        round(col("__me").cast("double") / 1e6, 6).as("max_err"))
  }

  val pq3Sql: String = {
    val sub = EmbedDim / graft.operators.Pq.NumSubspaces
    val mh = s"(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length(CAST(vec_id AS VARCHAR)) + 1), " +
      s"__pi -> CAST(ascii(substring(CAST(vec_id AS VARCHAR), __pi, 1)) AS BIGINT))), " +
      s"(__ph, __pc) -> (__ph * 31 + __pc) % ${Embed.HashMod}) " +
      s"* ${graft.operators.Sampling.mixedHashSqlConst}) % ${Embed.HashMod}"
    s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE vec_id >= $QN),
       |hk AS (SELECT vec_id, v, $mh AS hk FROM c),
       |seeds AS (SELECT row_number() OVER (ORDER BY hk ASC, vec_id ASC) - 1 AS code, v
       |          FROM hk ORDER BY hk ASC, vec_id ASC LIMIT ${graft.operators.Pq.Codes}),
       |book AS (SELECT list(v ORDER BY code) AS bk FROM seeds),
       |encw AS (
       |  SELECT c.vec_id, r.range AS subspace,
       |    list_reduce(list_prepend([1e308, -1.0],
       |      list_transform(range(0, ${graft.operators.Pq.Codes}), __cc ->
       |        [list_reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), __j ->
       |           (v[r.range*$sub + __j] - bk[__cc+1][r.range*$sub + __j])
       |         * (v[r.range*$sub + __j] - bk[__cc+1][r.range*$sub + __j]))),
       |           (__a, __x) -> __a + __x),
       |         CAST(__cc AS DOUBLE)])),
       |      (__p, __q) -> CASE WHEN __q[1] < __p[1] THEN __q ELSE __p END)[1] AS err
       |  FROM c, book, range(0, ${graft.operators.Pq.NumSubspaces}) r),
       |e2 AS (SELECT subspace, CAST(floor(err * 1000000.0) AS BIGINT) AS errq
       |       FROM encw)
       |SELECT CAST(subspace AS BIGINT) AS subspace, count(*) AS n,
       |  round(CAST(sum(errq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6)
       |    AS mean_err,
       |  round(CAST(max(errq) AS DOUBLE) / 1000000.0, 6) AS max_err
       |FROM e2 GROUP BY 1""".stripMargin
  }

  // ---- ix2_lsh_stats --------------------------------------------------

  /** ix2_lsh_stats — LSH index health per hash table (ix1's IVF
    * counterpart): bucket count, max/mean population, and the EXACT
    * predicted candidate-pair volume Σ c(c−1)/2 the d6/kg1 bucket
    * join will generate — the re-tune signal when one bucket
    * degenerates toward all-pairs (jc1's preflight, for the LSH
    * join). Integer arithmetic throughout; one double division for
    * the mean. Output is `tables` rows at any corpus size. */
  def ix2LshStats(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val pops = graft.Dist.spread(e)
      .select(col("vec_id"), posexplode(
        VectorSearch.hyperplaneBuckets(col("v"), pairWeightsFor(s, d)))
        .as(Seq("tbl", "bucket")))
      .groupBy("tbl", "bucket").agg(count(lit(1)).as("c"))
    pops.groupBy("tbl").agg(
        sum("c").as("n_vectors"),
        count(lit(1)).as("n_buckets"),
        max("c").as("max_pop"),
        sum(col("c") * (col("c") - 1)).as("__cc"))
      .select(col("tbl").cast("long").as("tbl"), col("n_vectors"),
        col("n_buckets"), col("max_pop"),
        round(col("n_vectors").cast("double") / col("n_buckets").cast("double"), 6)
          .as("mean_pop"),
        expr("__cc div 2").as("cand_pairs"))
  }

  val ix2Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |${rpBucketSlimCteNS("b", "e", "vec_id", "v")},
       |pops AS (SELECT tbl, bucket, count(*) AS c FROM b GROUP BY 1, 2)
       |SELECT CAST(tbl AS BIGINT) AS tbl,
       |  CAST(sum(c) AS BIGINT) AS n_vectors,
       |  count(*) AS n_buckets,
       |  CAST(max(c) AS BIGINT) AS max_pop,
       |  round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_pop,
       |  CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS cand_pairs
       |FROM pops GROUP BY 1""".stripMargin

  // ---- ml1_knn_classify -----------------------------------------------

  /** ml1_knn_classify — k-NN majority-vote label prediction over the
    * kg1 graph, evaluated against the true labels (the lazy-learning
    * classifier a curation stack gets for free once the neighbor graph
    * exists): each vector's top-3 neighbors vote their label, majority
    * wins (ties: more votes first, then smaller label), reported as
    * per-true-label accuracy. Votes are INTEGER counts over kg1's
    * already-bounded edges — the expensive part (the graph) is built
    * once and shared; the vote is two narrow aggregations. */
  def ml1KnnClassify(s: SparkSession, d: String): DataFrame = {
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = kg1KnnGraph(s, d)
      .join(labels.select(col("vec_id").as("dst"),
        col("label").as("n_label")), "dst")
      .groupBy("src", "n_label").agg(count(lit(1)).as("n_votes"))
    // majority vote as min_by over (−votes, label): same winner as the
    // rank-1 window (votes DESC, label ASC) without the shuffle's
    // per-partition sort, and with map-side partial aggregation
    val pred = votes.groupBy("src")
      .agg(min_by(col("n_label"),
        struct((-col("n_votes")).as("__nv"), col("n_label"))).as("pred"))
      .select(col("src").as("vec_id"), col("pred"))
    pred.join(labels, "vec_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("pred") === col("label")).cast("long")).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_vecs").cast("double"), 6))
  }

  // lazy: composes kg1Sql, which initializes later in this object
  lazy val ml1Sql: String =
    s"""WITH knn AS ($kg1Sql),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |votes AS (SELECT k.src, l.label AS n_label, count(*) AS n_votes
       |          FROM knn k JOIN lab l ON k.dst = l.vec_id
       |          GROUP BY 1, 2),
       |pred AS (SELECT src AS vec_id, n_label AS pred FROM (
       |    SELECT src, n_label,
       |      row_number() OVER (PARTITION BY src
       |                         ORDER BY n_votes DESC, n_label ASC) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT l.label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  round(CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS DOUBLE)
       |        / CAST(count(*) AS DOUBLE), 6) AS accuracy
       |FROM pred p JOIN lab l ON p.vec_id = l.vec_id
       |GROUP BY 1""".stripMargin

  // ---- dft1_embedding_drift -------------------------------------------

  /** dft1_embedding_drift — per-dimension mean drift between two
    * corpus snapshots (vec_id parity split — deterministic, balanced):
    * the alarm a serving stack diffs after re-embedding with a new
    * model build (emb1 gives one snapshot's profile; this compares
    * two). The drift mean_b − mean_a is computed EXACTLY:
    * (sb·na − sa·nb) is an integer numerator over the 1e-6-quantized
    * grid (emb1's trick), products in DECIMAL(38,0) — snapshot sums at
    * 100 TB overflow a BIGINT product — one terminal double division.
    * One explode pass, one (dim) aggregation with map-side combine. */
  def dft1EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim_idx", "x0")))
      .select(col("vec_id"), col("dim_idx"),
        floor(col("x0").cast("double") * 1e6).cast("long").as("sx"))
    rows.groupBy("dim_idx")
      .agg(
        sum(when(col("vec_id") % 2 === 0, col("sx")).otherwise(0L)).as("sa"),
        sum((col("vec_id") % 2 === 0).cast("long")).as("na"),
        sum(when(col("vec_id") % 2 === 1, col("sx")).otherwise(0L)).as("sb"),
        sum((col("vec_id") % 2 === 1).cast("long")).as("nb"))
      .select(col("dim_idx").cast("long").as("dim_idx"),
        col("na"), col("nb"),
        round(col("sa").cast("double") / col("na").cast("double") / 1e6, 6)
          .as("mean_a"),
        round(col("sb").cast("double") / col("nb").cast("double") / 1e6, 6)
          .as("mean_b"),
        round((col("sb").cast("decimal(38,0)") * col("na")
            - col("sa").cast("decimal(38,0)") * col("nb")).cast("double")
          / (col("na").cast("double") * col("nb").cast("double")) / 1e6, 6)
          .as("drift"))
  }

  val dft1Sql: String =
    s"""WITH e AS (SELECT vec_id, r.range AS dim_idx,
       |             CAST(floor(embedding[CAST(r.range + 1 AS INT)]::DOUBLE
       |                        * 1000000.0) AS BIGINT) AS sx
       |           FROM embeddings, range(0, $EmbedDim) r),
       |g AS (SELECT dim_idx,
       |        CAST(sum(CASE WHEN vec_id % 2 = 0 THEN sx ELSE 0 END) AS BIGINT) AS sa,
       |        CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |        CAST(sum(CASE WHEN vec_id % 2 = 1 THEN sx ELSE 0 END) AS BIGINT) AS sb,
       |        CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |      FROM e GROUP BY 1)
       |SELECT dim_idx, na, nb,
       |  round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0, 6) AS mean_a,
       |  round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0, 6) AS mean_b,
       |  round(CAST(CAST(sb AS DECIMAL(38,0)) * na
       |             - CAST(sa AS DECIMAL(38,0)) * nb AS DOUBLE)
       |        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 1000000.0, 6) AS drift
       |FROM g""".stripMargin

  // ---- kg1_knn_graph --------------------------------------------------

  val KnnGraphK = 3

  /** kg1_knn_graph — the corpus-wide k-NN GRAPH (top-3 neighbors per
    * vector), the substrate SemDeDup clustering, hard-negative mining
    * and graph-based curation all start from. Built the 100 TB way:
    * candidate pairs come from d6's LSH bucket equi-join (scored ONCE
    * per undirected pair — volume bounded by bucket occupancy, never
    * N²), mirrored into both directions, then per-source top-3 through
    * the bounded-heap TopKPerKey operator. Ranking on the 6-dp-rounded
    * score with dst tie-break, so both engines rank identical values. */
  def kg1KnnGraph(s: SparkSession, d: String): DataFrame = {
    // thresholdless: every candidate pair is scored in-stage and both
    // directions stream into the bounded distinct-top-k heap, which
    // drops the cross-table duplicates (bit-identical rounded scores)
    // in O(1) — the former distinct().rescore shape paid a 154M-row
    // hash aggregate (49 s of kg1's 63 s at sf30) to dedup rows the
    // heap discards anyway; results are row-identical.
    val directed = VectorSearch.scoredEdgesLshRp(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")),
      pairWeightsFor(s, d))
    graft.plans.TopK.perKey(directed, Seq("src"),
      Seq(col("score").desc, col("dst").asc), KnnGraphK, distinct = true)
      .select("src", "dst", "score", "rnk")
  }

  val kg1Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |${rpBucketSlimCteNS("bs", "e", "vec_id", "v")},
       |${pairFirstCollisionDirectedCtes("dir", "bs", "bucket",
          vectorsFrom = "e", k = KnnGraphK)}
       |SELECT src, dst, score, rnk FROM (
       |  SELECT src, dst, score,
       |    row_number() OVER (PARTITION BY src ORDER BY score DESC, dst ASC) AS rnk
       |  FROM dir)
       |WHERE rnk <= $KnnGraphK""".stripMargin

  /** kg1_knn_s3 — kg1's exact kNN-graph pipeline on the deterministic
    * vec_id % 3 slice at the FULL corpus's N-adaptive width (the
    * d10_s3 / hg1_hnsw_s3 pattern): the attestation twin for rungs
    * where kg1's full oracle exceeds the node. kg1 has NO threshold
    * (every scored candidate pair feeds the graph), so its oracle
    * cannot take the d10 score-in-stage shortcut — the directed
    * candidate set it must window is the full N·occ·L multiset, which
    * at sf100's 2M vectors is ~3.3x sf30's (where the full row already
    * costs tens of minutes). The slice cuts pair mass ~9x at the same
    * operating point. */
  def kg1KnnGraphS(s: SparkSession, d: String): DataFrame = {
    // same score-in-stage + heap-dedup shape as kg1 (see kg1KnnGraph)
    val directed = VectorSearch.scoredEdgesLshRp(
      Tables.embeddings(s, d)
        .filter(col("vec_id") % NearDupMpSliceMod === 0)
        .select(col("vec_id"), col("embedding").as("v")),
      pairWeightsFor(s, d))
    graft.plans.TopK.perKey(directed, Seq("src"),
      Seq(col("score").desc, col("dst").asc), KnnGraphK, distinct = true)
      .select("src", "dst", "score", "rnk")
  }

  // lazy: NearDupMpSliceMod is declared further down this object — a
  // strict val here would interpolate its zero default (vec_id % 0)
  lazy val kg1SSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE vec_id % $NearDupMpSliceMod = 0),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |${rpBucketSlimCteNS("bs", "e", "vec_id", "v")},
       |${pairFirstCollisionDirectedCtes("dir", "bs", "bucket",
          vectorsFrom = "e", k = KnnGraphK)}
       |SELECT src, dst, score, rnk FROM (
       |  SELECT src, dst, score,
       |    row_number() OVER (PARTITION BY src ORDER BY score DESC, dst ASC) AS rnk
       |  FROM dir)
       |WHERE rnk <= $KnnGraphK""".stripMargin

  // ---- hg1/hg2/hg3: HNSW-style layered graph index --------------------

  val HnswMaxLevel = 3
  val HnswM = 12
  // per-layer bucket bits: members thin 4× per layer while buckets
  // coarsen 4× (prefix mask of the layer-0 pair planes) → constant
  // expected occupancy N_l/2^bits_l at every layer (see HnswIndex).
  // Layer-0 width is the N-ADAPTIVE pairBits(N) (the sf10 fix: a fixed
  // 6-bit layer 0 made candidate volume quadratic in N); the legacy
  // HnswBits below is the B=6 instance (any corpus ≤ 2048 vectors)
  // kept for serving defaults and specs.
  def hnswBitsFor(bits: Int): Array[Int] =
    Array.tabulate(HnswMaxLevel + 1)(l => math.max(bits - 2 * l, 0))
  def hnswTablesFor(bitsPerLayer: Array[Int]): Array[Int] =
    bitsPerLayer.map(b => if (b == 0) 1 else RpTables) // bits=0 → one
                                                       // table IS all-pairs
  val HnswBits = hnswBitsFor(RpBitsPair)     // = (6, 4, 2, 0)
  // serving knobs at HnswTune's measured knee (sf0.1, edge cache warm):
  // (probes=2, beam=8, hUp=1, hZero=2) -> recall@5 = 1.000 at 4.9 s vs
  // the r9 config (1, 16, 2, 4) -> 0.925 at 6.9 s and the r8 single-
  // probe config -> 0.55. Seed quality (probe radius) dominates; extra
  // hops/beam past the knee buy nothing at 2x the step-job count.
  val HnswHopsUpper = 1
  val HnswHopsZero = 2
  val HnswBeam = 8 // layer-0 ef-search beam width
  val HnswProbes = 2 // seed-probe hamming radius (HnswTune's knee)
  // NN-descent refinement rounds in the build: round 8 shipped 1 and
  // measured recall@5 0.525 at sf0.1 — graph quality (not beam slots)
  // was the binding constraint; a second round roughly squares
  // reachability toward the true kNN graph at the same |E|·M bound
  val HnswNdRounds = 2

  private def hnswCorpus(s: SparkSession, d: String): DataFrame =
    corpusVecs(s, d).select("vec_id", "v")

  /** hg1_hnsw_build — the batch-built layered neighbor graph:
    * (layer, src, dst, score, rnk ≤ M). */
  def hg1HnswBuild(s: SparkSession, d: String): DataFrame = {
    val bits = hnswBitsFor(pairBits(embCount(s, d)))
    graft.operators.HnswIndex.buildEdges(hnswCorpus(s, d),
      pairWeights(bits(0)), bits, hnswTablesFor(bits), HnswM, HnswNdRounds)
  }

  /** The query-adaptive extra entry points: the query's top-B from
    * the SAME 6-bit pair-weight LSH buckets the graph was built from.
    * A single global entry cannot navigate this noise-dominated
    * fixture at corpus scale; seeding the beam from the query's own
    * buckets is what production graph-ANN serving does (then the
    * graph hops refine). */
  /** Seeds from a PRE-LOCALIZED query frame (see Dist.localize — the
    * serving batch is 8 rows at any scale): the query side of the LSH
    * probe and the qv re-attach broadcast job-free, and the two extra
    * queryVecs parquet scans per walk disappear. */
  private def hnswSeeds(s: SparkSession, d: String, q: DataFrame,
                        probes: Int = HnswProbes,
                        beam: Int = HnswBeam): DataFrame =
    VectorSearch.knnLshRpMultiProbe(q, hnswCorpus(s, d),
      beam, pairWeightsFor(s, d), probes)
      .join(q, "query_id")
      .select(col("query_id"), col("qv"), col("vec_id").as("node"))

  /** The hg2 walk with explicit serving knobs — the (probes, beam,
    * hops) frontier is swept by graft.tools.HnswTune; hg2/hg3 serve at
    * the knee baked into the Hnsw* constants. */
  def hg2SearchCfg(s: SparkSession, d: String, probes: Int, beam: Int,
                   hopsUpper: Int, hopsZero: Int): DataFrame = {
    val edges = hnswEdgesCached(s, d)
    val q = graft.Dist.localize(queryVecs(s, d))
    // walk() hands back its own materialized (edges, base) so the final
    // scoring reads the in-memory checkpoints, not the artifact parquet
    // and corpus a second time
    val (vis, e, base) = graft.operators.HnswIndex.walk(q, edges,
      hnswCorpus(s, d), HnswMaxLevel, hopsUpper, hopsZero, beam,
      Some(hnswSeeds(s, d, q, probes, beam)))
    graft.operators.HnswIndex.resultsFromVisited(vis, e, base, K)
  }

  /** The hg1 graph persisted fit-or-load per dataset (chroma persists
    * its HNSW index and serves every query from it,
    * /root/reference/src/chroma.py:76-106 — same cost attribution as
    * v8's centroids: the build is hg1's row, serving rows pay one
    * parquet scan). */
  /** hg1's registry entry: build-and-persist through the same cache
    * its consumers read (the d8 pattern) — in bench order hg1 runs
    * first, pays the build ONCE, and hg2/hg3/hg5 serve from the
    * persisted edge table instead of cold-building it a second time. */
  def hg1HnswBuildCached(s: SparkSession, d: String): DataFrame =
    hnswEdgesCached(s, d)

  /** hg1_hnsw_s3 — hg1's exact layered build on the deterministic
    * vec_id % 3 corpus slice at the FULL corpus's N-adaptive widths
    * (hnswBitsFor(pairBits(embCount)) measures the unsliced table, as
    * does the oracle's `nb`): the sf30-class attestation twin for the
    * build pipeline. The full hg1 oracle's per-src top-M windows
    * ingest the whole per-layer candidate multiset — on the rotated
    * sf30 fixture that sort exceeds the node's RAM+disk (the r14 pass
    * rode verbatim-copy bucket degeneracy, which collapsed distinct
    * candidates). The slice cuts pair mass ~9x at the same operating
    * point; hg1 itself stays hash-green through sf10 (100 GB oracle). */
  def hg1HnswBuildS(s: SparkSession, d: String): DataFrame =
    hnswEdgesCachedS(s, d)

  private def hnswCorpusS(s: SparkSession, d: String): DataFrame =
    hnswCorpus(s, d).filter(col("vec_id") % NearDupMpSliceMod === 0)

  /** The sliced build persisted through the same fit-or-load cache as
    * the full graph (identical cost attribution: hg1_hnsw_s3 pays the
    * build once as build_sec, hg2_hnsw_s3 serves from the persisted
    * edge table — the chroma.py:76-106 pattern at twin scale). */
  private def hnswEdgesCachedS(s: SparkSession, d: String): DataFrame = {
    val bits = hnswBitsFor(pairBits(embCount(s, d)))
    graft.operators.FitOrLoad.parquet(s, "hnsw_edges_s3", d,
      s"bits=${bits.mkString(".")};tbl=${hnswTablesFor(bits).mkString(".")};" +
        s"m=$HnswM;nd=$HnswNdRounds;seed=$RpSeed;slice=$NearDupMpSliceMod",
      hnswCorpusS(s, d).count()) {
      graft.operators.HnswIndex.buildEdges(hnswCorpusS(s, d),
        pairWeights(bits(0)), bits, hnswTablesFor(bits), HnswM, HnswNdRounds)
    }
  }

  /** hg2_hnsw_s3 — hg2's exact deterministic walk (same probes / beam
    * / hop schedule, same query set) over the hg1_hnsw_s3 SLICED graph
    * at the full corpus's N-adaptive widths: the sf30-class attestation
    * twin for the SEARCH half of the HNSW story. hg2's full oracle
    * re-derives every hg1 edge CTE before the 8-query walk, so it dies
    * in the same per-src top-M window sort that excludes hg1 at sf30
    * (tools/exclusions_sf30.json); the vec_id % 3 slice cuts per-layer
    * candidate mass ~9x — which is exactly the term that exceeded the
    * node — while exercising the identical descent/seed/beam code path
    * end-to-end (r15 verdict task 2: the hg1_hnsw_s3 twin covered
    * edges, not descent). */
  def hg2HnswSearchS(s: SparkSession, d: String): DataFrame = {
    val edges = hnswEdgesCachedS(s, d)
    val corpus = hnswCorpusS(s, d)
    val q = graft.Dist.localize(queryVecs(s, d))
    val seeds = VectorSearch.knnLshRpMultiProbe(q, corpus,
      HnswBeam, pairWeightsFor(s, d), HnswProbes)
      .join(q, "query_id")
      .select(col("query_id"), col("qv"), col("vec_id").as("node"))
    val (vis, e, base) = graft.operators.HnswIndex.walk(q, edges,
      corpus, HnswMaxLevel, HnswHopsUpper, HnswHopsZero, HnswBeam, Some(seeds))
    graft.operators.HnswIndex.resultsFromVisited(vis, e, base, K)
  }

  private def hnswEdgesCached(s: SparkSession, d: String): DataFrame = {
    val bits = hnswBitsFor(pairBits(embCount(s, d)))
    graft.operators.FitOrLoad.parquet(s, "hnsw_edges", d,
      s"bits=${bits.mkString(".")};tbl=${hnswTablesFor(bits).mkString(".")};" +
        s"m=$HnswM;nd=$HnswNdRounds;seed=$RpSeed",
      hnswCorpus(s, d).count())(hg1HnswBuild(s, d))
  }

  /** hg2_hnsw_search — deterministic greedy descent + LSH-seeded
    * layer-0 beam over the hg1 graph, top-K from the visited
    * neighborhoods. */
  def hg2HnswSearch(s: SparkSession, d: String): DataFrame =
    hg2SearchCfg(s, d, HnswProbes, HnswBeam, HnswHopsUpper, HnswHopsZero)

  /** hg3_hnsw_recall — recall@K vs brute force as layer-0 hops grow
    * 0→2 (the v18-style tuning curve for the graph index). */
  def hg3HnswRecall(s: SparkSession, d: String): DataFrame = {
    val edges = hnswEdgesCached(s, d)
    val corpus = hnswCorpus(s, d)
    val q = graft.Dist.localize(queryVecs(s, d))
    val (vis, e, base) = graft.operators.HnswIndex.walk(q, edges,
      corpus, HnswMaxLevel, HnswHopsUpper, HnswHopsZero, HnswBeam,
      Some(hnswSeeds(s, d, q)))
    val exact = v1KnnCos(s, d).select("query_id", "vec_id")
    hopRecallCurve(vis, e, base, exact)
  }

  /** hg3_hnsw_s3 — hg3's hop-sweep recall curve for the SLICED walk
    * (hg2_hnsw_s3's graph) against brute-force ground truth over the
    * SAME vec_id % 3 slice: the quality attestation that rides next to
    * the hg1_s3/hg2_s3 twins at rungs where the full hg3 oracle
    * (which re-derives every hg1 edge CTE at full pair mass) exceeds
    * the node (r16 verdict task 2 — the graph-ANN story needs recall
    * evidence at 1000×, not just hash-identical walks). Same
    * N-adaptive widths as the full build (nb measures the unsliced
    * table), same probes/beam/hop schedule; only the corpus — and
    * therefore the ground truth — is sliced, so the recall rows
    * measure the same operating point at 1/9 the pair mass. */
  def hg3HnswRecallS(s: SparkSession, d: String): DataFrame = {
    val edges = hnswEdgesCachedS(s, d)
    val corpus = hnswCorpusS(s, d)
    val q = graft.Dist.localize(queryVecs(s, d))
    val seeds = VectorSearch.knnLshRpMultiProbe(q, corpus,
      HnswBeam, pairWeightsFor(s, d), HnswProbes)
      .join(q, "query_id")
      .select(col("query_id"), col("qv"), col("vec_id").as("node"))
    val (vis, e, base) = graft.operators.HnswIndex.walk(q, edges,
      corpus, HnswMaxLevel, HnswHopsUpper, HnswHopsZero, HnswBeam, Some(seeds))
    val exact = VectorSearch.knnCosine(q, corpus, K)
      .select("query_id", "vec_id")
    hopRecallCurve(vis, e, base, exact)
  }

  // ---- hg6: planted-cluster fixture arm (r17 verdict task 2) ----------

  /** Planted-cluster geometry knobs. Every corpus/query vector is
    * pulled `PlantedAlpha` of the way toward one of `PlantedClusters`
    * anchor vectors (cluster = id % clusters; the anchors are the
    * first corpus vectors, so the transform is a deterministic
    * self-join of the fixture — no synthesized data). The synthetic
    * embedding fixture is noise-dominated, and hg3's flat-in-hops
    * recall (0.9→0.4 across rungs, identical at hops 0-2) is
    * CONSISTENT with greedy descent having no gradient there — but
    * flatness alone cannot distinguish "geometry gives hops nothing"
    * from "the walk is broken". This arm plants the geometry real
    * embedding corpora have (cluster structure + in-cluster spread)
    * and re-asks the question where a sound walk MUST answer: recall
    * must RISE with hops. alpha=0.5 is the demonstrative regime
    * (PlantedTune sweep): the cluster term dominates ranking
    * (in-cluster cosine >> cross-cluster) while the residual still
    * flips enough hyperplane signs that LSH probing alone cannot
    * enumerate a cluster — hops have both room and gradient. */
  val PlantedClusters = 8
  val PlantedAlpha = 0.5
  // Serving knobs for the planted row — the weak-seed operating point
  // (PlantedTune at sf1, alpha=0.5): probes=0 seeds leave the walk
  // room to climb (0.65 → 0.725 over hops 0..3); probes=1/2 seed sets
  // already reach 0.925/1.0 and the curve flattens — the SAME
  // saturation mechanism behind hg3's flat curve, now demonstrated on
  // geometry where the walk provably navigates.
  val PlantedProbes = 0
  val PlantedBeam = HnswBeam
  val PlantedHopsZero = 3

  /** (1−alpha)·v + alpha·anchor, elementwise in DOUBLE — the exact
    * per-element expression the oracle's list_zip CTE mirrors. */
  private def plantedMix(vc: org.apache.spark.sql.Column,
                         ac: org.apache.spark.sql.Column,
                         alpha: Double): org.apache.spark.sql.Column =
    zip_with(vc.cast("array<double>"), ac.cast("array<double>"),
      (x, c) => lit(1.0 - alpha) * x + lit(alpha) * c)

  private def plantedAnchors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") >= QN && col("vec_id") < QN + PlantedClusters)
      .select((col("vec_id") - QN).as("__cl"), col("embedding").as("__av"))

  def plantedCorpus(s: SparkSession, d: String,
                    alpha: Double = PlantedAlpha): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") >= QN)
      .withColumn("__cl", pmod(col("vec_id"), lit(PlantedClusters.toLong)))
      .join(broadcast(plantedAnchors(s, d)), "__cl")
      .select(col("vec_id"),
        plantedMix(col("embedding"), col("__av"), alpha).as("v"))

  def plantedQueries(s: SparkSession, d: String,
                     alpha: Double = PlantedAlpha): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < QN)
      .withColumn("__cl", pmod(col("vec_id"), lit(PlantedClusters.toLong)))
      .join(broadcast(plantedAnchors(s, d)), "__cl")
      .select(col("vec_id").as("query_id"),
        plantedMix(col("embedding"), col("__av"), alpha).as("qv"))

  /** The planted graph persisted through the same fit-or-load cache
    * as hg1's (identical cost attribution; keyed by the planted
    * knobs so a geometry change refits). */
  private def plantedEdgesCached(s: SparkSession, d: String): DataFrame = {
    val bits = hnswBitsFor(pairBits(embCount(s, d)))
    graft.operators.FitOrLoad.parquet(s, "hnsw_edges_pl", d,
      s"bits=${bits.mkString(".")};tbl=${hnswTablesFor(bits).mkString(".")};" +
        s"m=$HnswM;nd=$HnswNdRounds;seed=$RpSeed;" +
        s"cl=$PlantedClusters;al=$PlantedAlpha",
      Tables.embeddings(s, d).count()) {
      graft.operators.HnswIndex.buildEdges(plantedCorpus(s, d),
        pairWeights(bits(0)), bits, hnswTablesFor(bits), HnswM, HnswNdRounds)
    }
  }

  /** The hg3 hop-sweep recall tail over a prepared walk: recall@K of
    * the hop-h result set vs `exact`, one row per h. */
  private def hopRecallCurve(vis: Seq[DataFrame], edges: DataFrame,
                             corpus: DataFrame, exact: DataFrame): DataFrame = {
    // the brute-force ground truth is queries×K rows; checkpoint it so
    // the per-hop overlap joins read it instead of re-running the full
    // exact kNN once per hop (4 brute-force corpus passes → 1)
    val ex = exact.localCheckpoint()
    // Score the visited neighborhoods ONCE, tagging each candidate with
    // the EARLIEST hop that reaches it: hop h's result set in
    // resultsFromVisited(vis.take(h+1)) is exactly the top-K over
    // candidates with first-hop ≤ h, so one neighborhood expansion +
    // one corpus scoring join replaces vis.length of each (the curve
    // previously re-expanded and re-scored the growing candidate set
    // per hop level — 4 corpus passes for a 4-point curve).
    val e0 = edges.filter(col("layer") === 0).select(col("src"), col("dst"))
    val tagged = vis.zipWithIndex.map { case (st, i) =>
      st.select(col("query_id"), col("qv"), col("node"))
        .withColumn("__hop", lit(i))
    }.reduce(_ unionAll _)
    val cands = tagged
      .select(col("query_id"), col("qv"), col("node").as("cand"), col("__hop"))
      .unionAll(e0.join(broadcast(tagged), col("node") === col("src"))
        .select(col("query_id"), col("qv"), col("dst").as("cand"), col("__hop")))
      .groupBy("query_id", "cand")
      .agg(min("__hop").as("__hop"), first("qv").as("qv"))
    val scored = corpus.select(col("vec_id").as("cand"), col("v"))
      .join(broadcast(cands), "cand")
      .select(col("query_id"), col("cand").as("vec_id"), col("__hop"),
        round(graft.functions.Vec.cosine(col("qv"), col("v")), 6).as("score"))
      .localCheckpoint()
    (0 until vis.length).map { h =>
      val approx = graft.plans.TopK.perKey(scored.filter(col("__hop") <= h),
          Seq("query_id"), Seq(col("score").desc, col("vec_id").asc), K)
        .select(col("query_id"), col("vec_id")).withColumn("__hit", lit(1L))
      ex.join(approx, Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("__n"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
        .select(lit(h.toLong).as("hops"), col("n_overlap"),
          round(col("n_overlap").cast("double") / col("__n").cast("double"), 6)
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  /** hg6_hnsw_planted — hg3's hop-sweep recall curve on the
    * planted-cluster geometry: same build, same probes/beam/hop
    * schedule, same exact-vs-walk recall rows; only the vectors (and
    * therefore the ground truth) carry planted structure. A walk
    * regression that flattens THIS curve fails the gate even while
    * hg3's noise-fixture curve stays flat by geometry. */
  def hg6HnswPlanted(s: SparkSession, d: String): DataFrame = {
    // the planted mix (embeddings scan + broadcast anchor join +
    // elementwise zip_with) feeds seeds, the walk base, the scoring
    // join and the exact arm — materialize it once per query (queries
    // likewise: seeds probe + seed join + walk + exact)
    val corpus = plantedCorpus(s, d).localCheckpoint()
    // the 8-query serving batch localizes (Dist.localize) instead of
    // checkpointing: every downstream broadcast of it is job-free
    val queries = graft.Dist.localize(plantedQueries(s, d))
    val edges = plantedEdgesCached(s, d)
    val seeds = VectorSearch.knnLshRpMultiProbe(queries, corpus,
      PlantedBeam, pairWeightsFor(s, d), PlantedProbes)
      .join(queries, "query_id")
      .select(col("query_id"), col("qv"), col("vec_id").as("node"))
    val (vis, e, base) = graft.operators.HnswIndex.walk(queries, edges,
      corpus, HnswMaxLevel, HnswHopsUpper, PlantedHopsZero, PlantedBeam,
      Some(seeds))
    val exact = VectorSearch.knnCosine(queries, corpus, K)
      .select("query_id", "vec_id")
    hopRecallCurve(vis, e, base, exact)
  }

  // ---- hg6_planted_s3: the planted arm's big-rung slice twin ----------

  /** The planted corpus on the established vec_id % 3 attestation
    * slice (hg1_s3/hg2_s3/hg3_s3's convention): full-N adaptive
    * widths (embCount measures the UNSLICED table), the same planted
    * mix, 1/9 the per-layer pair mass — so the arm's oracle fits the
    * node at the rungs where hg6's full oracle dies in the same
    * per-src top-M window sort that excludes hg1/hg2 (r17 verdict
    * task 2 named sf30 as a target rung for the planted walk). */
  private def plantedCorpusS(s: SparkSession, d: String): DataFrame =
    plantedCorpus(s, d).filter(col("vec_id") % NearDupMpSliceMod === 0)

  private def plantedEdgesCachedS(s: SparkSession, d: String): DataFrame = {
    val bits = hnswBitsFor(pairBits(embCount(s, d)))
    graft.operators.FitOrLoad.parquet(s, "hnsw_edges_pl_s3", d,
      s"bits=${bits.mkString(".")};tbl=${hnswTablesFor(bits).mkString(".")};" +
        s"m=$HnswM;nd=$HnswNdRounds;seed=$RpSeed;" +
        s"cl=$PlantedClusters;al=$PlantedAlpha;slice=$NearDupMpSliceMod",
      plantedCorpusS(s, d).count()) {
      graft.operators.HnswIndex.buildEdges(plantedCorpusS(s, d),
        pairWeights(bits(0)), bits, hnswTablesFor(bits), HnswM, HnswNdRounds)
    }
  }

  /** hg6_planted_s3 — hg6's hop-sweep recall curve over the SLICED
    * planted corpus (walk, graph, and ground truth all share the
    * slice, hg3_s3's rule), at the same weak-seed operating point
    * (probes=0, beam=8, hops 0→3). */
  def hg6PlantedS3(s: SparkSession, d: String): DataFrame = {
    // same share as hg6 (see above), over the sliced corpus
    val corpus = plantedCorpusS(s, d).localCheckpoint()
    val queries = graft.Dist.localize(plantedQueries(s, d))
    val edges = plantedEdgesCachedS(s, d)
    val seeds = VectorSearch.knnLshRpMultiProbe(queries, corpus,
      PlantedBeam, pairWeightsFor(s, d), PlantedProbes)
      .join(queries, "query_id")
      .select(col("query_id"), col("qv"), col("vec_id").as("node"))
    val (vis, e, base) = graft.operators.HnswIndex.walk(queries, edges,
      corpus, HnswMaxLevel, HnswHopsUpper, PlantedHopsZero, PlantedBeam,
      Some(seeds))
    val exact = VectorSearch.knnCosine(queries, corpus, K)
      .select("query_id", "vec_id")
    hopRecallCurve(vis, e, base, exact)
  }

  /** PlantedTune's sweep entry: explicit alpha/probes/beam/hop knobs,
    * edges built fresh (uncached) so geometry can vary per config. */
  def hg6PlantedRecallCfg(s: SparkSession, d: String, alpha: Double,
                          probes: Int, beam: Int,
                          hopsZero: Int = HnswHopsZero): DataFrame = {
    val corpus = plantedCorpus(s, d, alpha).localCheckpoint()
    val queries = graft.Dist.localize(plantedQueries(s, d, alpha))
    val bits = hnswBitsFor(pairBits(embCount(s, d)))
    val edges = graft.operators.HnswIndex.buildEdges(corpus,
      pairWeights(bits(0)), bits, hnswTablesFor(bits), HnswM, HnswNdRounds)
      .localCheckpoint()
    val seeds = VectorSearch.knnLshRpMultiProbe(queries, corpus,
      beam, pairWeightsFor(s, d), probes)
      .join(queries, "query_id")
      .select(col("query_id"), col("qv"), col("vec_id").as("node"))
    val (vis, e, base) = graft.operators.HnswIndex.walk(queries, edges,
      corpus, HnswMaxLevel, HnswHopsUpper, hopsZero, beam, Some(seeds))
    val exact = VectorSearch.knnCosine(queries, corpus, K)
      .select("query_id", "vec_id")
    hopRecallCurve(vis, e, base, exact)
  }

  /** hg4_hnsw_upsert — incremental graph maintenance: every 10th
    * corpus vector re-submitted negated (u3's convention), and the
    * output is the batch nodes' fresh per-layer edge lists against
    * the merged corpus — O(batch × occupancy) work, the
    * IndexStore.upsert analog for the HNSW index (stale reverse
    * edges are merge-on-read debt a compact folds away). */
  def hg4HnswUpsert(s: SparkSession, d: String): DataFrame = {
    val corpus = hnswCorpus(s, d)
    val batch = corpus.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), transform(col("v"), x => -x).as("v"))
    val merged = corpus.filter(col("vec_id") % 10 =!= 0).unionByName(batch)
    val bits = hnswBitsFor(pairBits(embCount(s, d)))
    graft.operators.HnswIndex.deltaEdges(batch, merged, pairWeights(bits(0)),
      bits, hnswTablesFor(bits), HnswM)
  }

  /** hg5_hnsw_compact — the debt collector for hg4's merge-on-read
    * design: surviving pre-upsert edges (non-batch sources) + the
    * fresh delta + its REVERSE direction (unchanged nodes gain fresh
    * candidates toward the moved vectors — exactly the edges whose
    * scores went stale) are rescored against the merged vectors and
    * re-capped at M per (layer, src). Output is a clean serving
    * table: every score is current, every degree ≤ M. */
  def hg5HnswCompact(s: SparkSession, d: String): DataFrame = {
    val corpus = hnswCorpus(s, d)
    val batch = corpus.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), transform(col("v"), x => -x).as("v"))
    val merged = corpus.filter(col("vec_id") % 10 =!= 0).unionByName(batch)
    val old = hnswEdgesCached(s, d).filter(col("src") % 10 =!= 0)
      .select("layer", "src", "dst")
    // the delta feeds both directions; without materialization the
    // whole hg4 bucket-join + rescore + top-M pipeline executed twice
    // (once for delta, once for its reverse)
    val delta = hg4HnswUpsert(s, d).select("layer", "src", "dst")
      .localCheckpoint()
    val rev = delta.select(col("layer"), col("dst").as("src"),
      col("src").as("dst"))
    graft.operators.HnswIndex.compactEdges(
      old.unionByName(delta).unionByName(rev), merged, HnswM)
  }

  // ---- hg oracle SQL: the identical hierarchy, edges and unrolled
  // walk rebuilt in DuckDB ----------------------------------------------

  /** mixedHash(vec_id) as SQL (km1's fragment): polyhash of the
    * decimal string ×2654435761 mod 1e9+7 — integers all the way. */
  private def hnswMhS(e: String): String =
    s"(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length(CAST($e AS VARCHAR)) + 1), " +
      s"__hi -> CAST(ascii(substring(CAST($e AS VARCHAR), __hi, 1)) AS BIGINT))), " +
      s"(__hh, __hc) -> (__hh * 31 + __hc) % ${Embed.HashMod}) " +
      s"* ${graft.operators.Sampling.mixedHashSqlConst}) % ${Embed.HashMod}"

  private def hnswLvlS(e: String): String = {
    val mh = hnswMhS(e)
    (1 to HnswMaxLevel).map(l => s"WHEN $mh % ${1L << (2 * l)} != 0 THEN ${l - 1}")
      .mkString("CASE ", " ", s" ELSE $HnswMaxLevel END")
  }

  /** Per-layer prefix mask / table cap as SQL over the adaptive width
    * (the oracle's copies of hnswBitsFor / hnswTablesFor): layer l
    * keeps the low max(bits−2l, 0) sign bits; a zero-bit layer runs
    * one table (all-pairs among its geometrically-thinned members). */
  private val nbBitsS = "(SELECT bits FROM nb)"
  private def hnswMaskS(l: Int): String =
    s"(1::BIGINT << greatest($nbBitsS - ${2 * l}, 0))"
  private def hnswTblCapS(l: Int): String =
    s"(CASE WHEN $nbBitsS <= ${2 * l} THEN 1 ELSE $RpTables END)"

  /** Shared CTEs: corpus members with levels, adaptive-width buckets,
    * and the per-layer edge lists ed_0..ed_3. */
  private lazy val hnswEdgeCtesS: String = {
    val mem =
      s"""mem AS MATERIALIZED (SELECT vec_id, v, ${hnswLvlS("vec_id")} AS lvl FROM c)"""
    val mb =
      s"""mb AS MATERIALIZED (
         |  SELECT s.vec_id, any_value(s.lvl) AS lvl, w.tbl,
         |    CAST(sum(CASE WHEN list_dot_product(s.v, w.wv) >= 0
         |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM mem s, w
         |  WHERE w.bit < $nbBitsS
         |  GROUP BY s.vec_id, w.tbl)""".stripMargin
    val perLayer = HnswBits.indices.map { l =>
      val mask = hnswMaskS(l)
      // masked bucket as a MATERIALIZED COLUMN, then a plain-column
      // equi-join: a join condition containing the nb scalar subquery
      // (bucket % (1 << (SELECT bits FROM nb) ...)) is not hashable for
      // DuckDB's planner — it fell back to a nested-loop self-join that
      // spilled ~70 GB at sf1 where the hash join needs megabytes
      // the cross-table pair dedup is the aggregate-free first-
      // collision join (see pairFirstCollisionCtes): a DISTINCT here —
      // sharded or not — still spills its whole input partition set,
      // the candidate MULTISET (~1.8G rows at sf30 layer 0), where
      // the pivot arms stream. A layer capped below 8 tables pivots
      // NULL buckets; the builder's IS DISTINCT FROM guards keep them
      // from matching or vetoing.
      // the cosine rides the arms (vectorsFrom) and both directions
      // come from the 2-row flip cross join, so the scored directed
      // candidate set streams straight into the top-M window — no
      // join AFTER the pair union (whose underestimated cardinality
      // made it a hash-join build side) and no re-read of a huge CTE
      val bucketed =
        s"""mbm_$l AS MATERIALIZED (
           |  SELECT vec_id, tbl, CAST(bucket % $mask AS BIGINT) AS mbk
           |  FROM mb WHERE lvl >= $l AND tbl < ${hnswTblCapS(l)}),
           |${pairFirstCollisionDirectedCtes(s"sc_$l", s"mbm_$l", "mbk",
              vectorsFrom = "mem", k = HnswM)},
           |ed0_$l AS MATERIALIZED (
           |  SELECT src, dst FROM (
           |    SELECT src, dst, score,
           |      row_number() OVER (PARTITION BY src
           |        ORDER BY score DESC, dst ASC) AS rnk
           |    FROM sc_$l)
           |  WHERE rnk <= $HnswM)""".stripMargin
      // NN-descent rounds mirroring HnswIndex.buildEdges: round r reads
      // ed{r-1}_l, the final round is named ed_l (what the walk joins)
      val rounds = (1 to HnswNdRounds).map { r =>
        val prev = if (r == 1) s"ed0_$l" else s"ed${r - 1}_$l"
        val out = if (r == HnswNdRounds) s"ed_$l" else s"ed${r}_$l"
        val keep = if (r == HnswNdRounds) "src, dst, score, rnk" else "src, dst"
        // same sharding rule as cand_$l: the neighbor-of-neighbor
        // DISTINCT ingests ~indeg·outdeg rows (≥400M at sf30 layer 0);
        // each branch filters every arm by the OUTPUT src, so the
        // arms stay partitioned (no recomputation — the a-side of the
        // wedge join is the partitioned probe)
        s"""nd${r}_$l AS MATERIALIZED (
           |${(0 until PairDedupOracleShards).map(i =>
             s"""  SELECT DISTINCT src, dst FROM (
                |    SELECT src, dst FROM $prev WHERE src % $PairDedupOracleShards = $i
                |    UNION ALL
                |    SELECT dst AS src, src AS dst FROM $prev WHERE dst % $PairDedupOracleShards = $i
                |    UNION ALL
                |    SELECT a.src, b.dst FROM $prev a JOIN $prev b
                |      ON a.dst = b.src AND a.src != b.dst
                |    WHERE a.src % $PairDedupOracleShards = $i) u${r}_${l}_$i"""
               .stripMargin).mkString("\n  UNION ALL\n")}),
           |$out AS MATERIALIZED (
           |  SELECT $keep FROM (
           |    SELECT n.src, n.dst, round(${cosS("x.v", "y.v")}, 6) AS score,
           |      row_number() OVER (PARTITION BY n.src
           |        ORDER BY round(${cosS("x.v", "y.v")}, 6) DESC, n.dst ASC) AS rnk
           |    FROM nd${r}_$l n JOIN mem x ON x.vec_id = n.src
           |      JOIN mem y ON y.vec_id = n.dst) nds${r}_$l
           |  WHERE rnk <= $HnswM)""".stripMargin
      }
      (bucketed +: rounds).mkString(",\n")
    }
    (Seq(mem, mb) ++ perLayer).mkString(",\n")
  }

  /** hg1's oracle over any corpus CTE named `c` — the s3 twin swaps
    * in the sliced corpus; `nb` always measures the UNSLICED table so
    * the twin builds at the full-size operating point. */
  private def hg1SqlFrom(corpusCte: String): String =
    s"""WITH $corpusCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswEdgeCtesS
       |${HnswBits.indices.map(l =>
          s"SELECT $l AS layer, src, dst, score, rnk FROM ed_$l")
         .mkString("\nUNION ALL\n")}""".stripMargin

  lazy val hg1Sql: String = hg1SqlFrom(cCte)

  lazy val hg1SSql: String = hg1SqlFrom(
    s"c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings" +
      s" WHERE vec_id >= $QN AND vec_id % $NearDupMpSliceMod = 0)")

  /** The unrolled greedy walk: s0 = entry point; two steps per layer
    * 3→1; s_z0 is the cursor entering layer 0, s_z1/s_z2 its layer-0
    * steps. Returns (cteSql, finalStateNamesByHop). */
  private lazy val hnswWalkCtesS: (String, IndexedSeq[String]) =
    hnswWalkCtesFor(HnswProbes, HnswBeam, HnswHopsZero)

  /** The walk CTE builder with explicit serving knobs — hg2/hg3 use
    * the Hnsw* constants; hg6's planted arm serves at (probes=0,
    * beam=8, hopsZero=3), the weak-seed operating point where hop
    * value is measurable (PlantedTune: probes>=1 seed sets already
    * saturate what the graph can reach, the same mechanism behind
    * hg3's flat curve). */
  private def hnswWalkCtesFor(probes: Int, beam: Int,
                              hopsZero: Int): (String, IndexedSeq[String]) = {
    def stepCte(prev: String, out: String, l: Int, k: Int): String =
      s"""$out AS MATERIALIZED (
         |  SELECT query_id, qv, cand AS node FROM (
         |    SELECT u.query_id, u.qv, u.cand,
         |      row_number() OVER (PARTITION BY u.query_id
         |        ORDER BY round(${cosS("u.qv", "m.v")}, 6) DESC, u.cand ASC) AS rn
         |    FROM (SELECT DISTINCT query_id, qv, cand FROM (
         |          SELECT p.query_id, p.qv, p.node AS cand FROM $prev p
         |          UNION ALL
         |          SELECT p.query_id, p.qv, e.dst AS cand FROM $prev p
         |          JOIN ed_$l e ON e.src = p.node) uu_$out) u
         |    JOIN mem m ON m.vec_id = u.cand) t_$out
         |  WHERE rn <= $k)""".stripMargin
    val s0 =
      s"""s0 AS MATERIALIZED (SELECT q.query_id, q.qv,
         |  (SELECT vec_id FROM mem ORDER BY lvl DESC, vec_id ASC LIMIT 1) AS node
         |FROM q)""".stripMargin
    // query-adaptive seeds: the query's top-B over the same adaptive-
    // width pair-weight buckets, MULTI-PROBE (v13's shape generalized:
    // each table probes every bucket within hamming radius HnswProbes
    // of the query's own — probe expansion on the query side only;
    // max-dedup over (table, probe), rank on the unrounded score,
    // vec_id tie-break). The mask set enumerates XOR masks of ≤
    // HnswProbes of the ADAPTIVE width's bits — generated with
    // range(nb.bits) arms per radius, mirroring the Spark side's
    // (0 until 1<<bits).filter(bitCount ≤ r) over the same width.
    require(probes <= 2,
      "seed-mask SQL generation is written for probe radius <= 2")
    // range() only takes constant bounds in DuckDB — enumerate to the
    // max width and cut to the adaptive width with a WHERE filter
    val maskArms = Seq("SELECT 0::BIGINT AS m") ++
      (if (probes >= 1) Seq(
        s"""SELECT (1::BIGINT << i.range) AS m
           |   FROM range(0, $RpBitsPairMax) i WHERE i.range < $nbBitsS"""
          .stripMargin)
       else Nil) ++
      (if (probes >= 2) Seq(
        s"""SELECT xor(1::BIGINT << i.range, 1::BIGINT << j.range) AS m
           |   FROM range(0, $RpBitsPairMax) i, range(0, $RpBitsPairMax) j
           |   WHERE i.range < j.range AND j.range < $nbBitsS""".stripMargin)
       else Nil)
    val seedCtes =
      s"""pm AS MATERIALIZED (
         |  ${maskArms.mkString("\n  UNION ALL\n  ")}),
         |qb2 AS MATERIALIZED (
         |  SELECT s.query_id, w.tbl,
         |    CAST(sum(CASE WHEN list_dot_product(s.qv, w.wv) >= 0
         |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM q s, w
         |  WHERE w.bit < $nbBitsS
         |  GROUP BY s.query_id, w.tbl),
         |qprob AS MATERIALIZED (
         |  SELECT DISTINCT query_id, tbl, xor(bucket, pm.m) AS bucket
         |  FROM qb2, pm),
         |scand AS MATERIALIZED (
         |  SELECT query_id, vec_id, max(score) AS score FROM (
         |    SELECT b.query_id, cb.vec_id, ${cosS("qq.qv", "mm.v")} AS score
         |    FROM qprob b JOIN mb cb ON cb.tbl = b.tbl AND cb.bucket = b.bucket
         |      JOIN q qq ON qq.query_id = b.query_id
         |      JOIN mem mm ON mm.vec_id = cb.vec_id) sx
         |  GROUP BY 1, 2),
         |seed AS MATERIALIZED (
         |  SELECT sr.query_id, qq2.qv, sr.vec_id AS node FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, vec_id ASC) AS rn
         |    FROM scand) sr JOIN q qq2 ON qq2.query_id = sr.query_id
         |  WHERE rn <= $beam)""".stripMargin
    var prev = "s0"; var i = 0
    val ctes = scala.collection.mutable.ArrayBuffer(s0)
    for (l <- HnswMaxLevel to 1 by -1; _ <- 1 to HnswHopsUpper) {
      i += 1; ctes += stepCte(prev, s"s$i", l, 1); prev = s"s$i"
    }
    ctes += seedCtes
    ctes +=
      s"""sz AS MATERIALIZED (SELECT DISTINCT query_id, qv, node FROM (
         |    SELECT query_id, qv, node FROM $prev
         |    UNION ALL
         |    SELECT query_id, qv, node FROM seed) zz)""".stripMargin
    prev = "sz"
    val zeroStates = scala.collection.mutable.ArrayBuffer(prev)
    for (_ <- 1 to hopsZero) {
      i += 1; ctes += stepCte(prev, s"s$i", 0, beam); prev = s"s$i"
      zeroStates += prev
    }
    (ctes.mkString(",\n"), zeroStates.toIndexedSeq)
  }

  /** vis/cand/result CTEs for `hops` layer-0 steps; result CTE is
    * res_<hops>. */
  private def hnswResCtesS(hops: Int): String =
    hnswResCtesFor(hnswWalkCtesS._2)(hops)

  /** Same result CTEs over an explicit walk-state list (hg6). */
  private def hnswResCtesFor(allStates: IndexedSeq[String])(hops: Int): String = {
    val states = allStates.take(hops + 1)
    s"""vis_$hops AS MATERIALIZED (SELECT DISTINCT query_id, qv, node FROM (
       |    ${states.map(st => s"SELECT query_id, qv, node FROM $st")
          .mkString("\n    UNION ALL\n    ")}) uv_$hops),
       |cd_$hops AS MATERIALIZED (SELECT DISTINCT query_id, qv, cand FROM (
       |    SELECT query_id, qv, node AS cand FROM vis_$hops
       |    UNION ALL
       |    SELECT v.query_id, v.qv, e.dst AS cand FROM vis_$hops v
       |    JOIN ed_0 e ON e.src = v.node) uc_$hops),
       |res_$hops AS MATERIALIZED (
       |  SELECT query_id, vec_id, score, rnk FROM (
       |    SELECT u.query_id, u.cand AS vec_id,
       |      round(${cosS("u.qv", "m.v")}, 6) AS score,
       |      row_number() OVER (PARTITION BY u.query_id
       |        ORDER BY round(${cosS("u.qv", "m.v")}, 6) DESC, u.cand ASC) AS rnk
       |    FROM cd_$hops u JOIN mem m ON m.vec_id = u.cand) tr_$hops
       |  WHERE rnk <= $K)""".stripMargin
  }

  /** The hg4 delta CTEs (merged corpus `mrg`, its buckets `mb3`, and
    * per-layer fresh batch edges `ued_l`) — shared by the hg4 oracle
    * and the hg5 compaction oracle. */
  private lazy val hnswDeltaCtesS: String = {
    val perLayer = HnswBits.indices.map { l =>
      val mask = hnswMaskS(l)
      s"""mbm3_$l AS MATERIALIZED (
         |  SELECT vec_id, tbl, CAST(bucket % $mask AS BIGINT) AS mbk
         |  FROM mb3 WHERE lvl >= $l AND tbl < ${hnswTblCapS(l)}),
         |ucand_$l AS MATERIALIZED (
         |  SELECT DISTINCT b.vec_id AS src, m2.vec_id AS dst
         |  FROM mbm3_$l b JOIN mbm3_$l m2
         |    ON b.tbl = m2.tbl AND b.mbk = m2.mbk AND b.vec_id != m2.vec_id
         |  WHERE b.vec_id % 10 = 0),
         |ued_$l AS MATERIALIZED (
         |  SELECT src, dst, score, rnk FROM (
         |    SELECT p.src, p.dst, round(${cosS("x.v", "y.v")}, 6) AS score,
         |      row_number() OVER (PARTITION BY p.src
         |        ORDER BY round(${cosS("x.v", "y.v")}, 6) DESC, p.dst ASC) AS rnk
         |    FROM ucand_$l p JOIN mrg x ON x.vec_id = p.src
         |      JOIN mrg y ON y.vec_id = p.dst) us_$l
         |  WHERE rnk <= $HnswM)""".stripMargin
    }
    s"""mrg AS MATERIALIZED (
       |  SELECT vec_id, v, ${hnswLvlS("vec_id")} AS lvl FROM (
       |    SELECT vec_id, v FROM c WHERE vec_id % 10 != 0
       |    UNION ALL
       |    SELECT vec_id, list_transform(v, __ux -> -__ux) AS v
       |    FROM c WHERE vec_id % 10 = 0) m0),
       |mb3 AS MATERIALIZED (
       |  SELECT s.vec_id, any_value(s.lvl) AS lvl, w.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(s.v, w.wv) >= 0
       |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM mrg s, w
       |  WHERE w.bit < $nbBitsS
       |  GROUP BY s.vec_id, w.tbl),
       |${perLayer.mkString(",\n")}""".stripMargin
  }

  lazy val hg4Sql: String =
    s"""WITH $cCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswDeltaCtesS
       |${HnswBits.indices.map(l =>
          s"SELECT $l AS layer, src, dst, score, rnk FROM ued_$l")
         .mkString("\nUNION ALL\n")}""".stripMargin

  /** hg5 oracle: merged candidate set (surviving old edges + delta +
    * reversed delta) rescored against the merged vectors, re-capped. */
  lazy val hg5Sql: String = {
    val perLayer = HnswBits.indices.map { l =>
      s"""cin_$l AS MATERIALIZED (
         |  SELECT src, dst FROM ed_$l WHERE src % 10 != 0
         |  UNION
         |  SELECT src, dst FROM ued_$l
         |  UNION
         |  SELECT dst AS src, src AS dst FROM ued_$l),
         |cmp_$l AS MATERIALIZED (
         |  SELECT src, dst, score, rnk FROM (
         |    SELECT c2.src, c2.dst, round(${cosS("x.v", "y.v")}, 6) AS score,
         |      row_number() OVER (PARTITION BY c2.src
         |        ORDER BY round(${cosS("x.v", "y.v")}, 6) DESC, c2.dst ASC) AS rnk
         |    FROM (SELECT src, dst FROM cin_$l WHERE src != dst) c2
         |      JOIN mrg x ON x.vec_id = c2.src
         |      JOIN mrg y ON y.vec_id = c2.dst) cs_$l
         |  WHERE rnk <= $HnswM)""".stripMargin
    }
    s"""WITH $cCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswEdgeCtesS,
       |$hnswDeltaCtesS,
       |${perLayer.mkString(",\n")}
       |${HnswBits.indices.map(l =>
          s"SELECT $l AS layer, src, dst, score, rnk FROM cmp_$l")
         .mkString("\nUNION ALL\n")}""".stripMargin
  }

  lazy val hg2Sql: String =
    s"""WITH $qCte, $cCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswEdgeCtesS,
       |${hnswWalkCtesS._1},
       |${hnswResCtesS(HnswHopsZero)}
       |SELECT query_id, vec_id, score, rnk FROM res_$HnswHopsZero""".stripMargin

  /** hg2's oracle verbatim, over the sliced corpus CTE (nb still
    * measures the UNSLICED table, so the twin walks the graph built at
    * the full-size operating point — same rule as hg1SSql). */
  lazy val hg2SSql: String =
    s"""WITH $qCte,
       |c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
       |      WHERE vec_id >= $QN AND vec_id % $NearDupMpSliceMod = 0),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswEdgeCtesS,
       |${hnswWalkCtesS._1},
       |${hnswResCtesS(HnswHopsZero)}
       |SELECT query_id, vec_id, score, rnk FROM res_$HnswHopsZero""".stripMargin

  lazy val hg3Sql: String =
    s"""WITH $qCte, $cCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswEdgeCtesS,
       |${hnswWalkCtesS._1},
       |${(0 to HnswHopsZero).map(hnswResCtesS).mkString(",\n")},
       |exact AS (SELECT query_id, vec_id FROM ($v1Sql))
       |$hg3RecallTail""".stripMargin

  /** hg3's hop-sweep tail over `exact` + the res_h CTEs — shared by
    * the full oracle, the sliced twin, and (at hg6's hop count) the
    * planted arm. */
  private lazy val hg3RecallTail: String = hgRecallTailFor(HnswHopsZero)

  /** hg3's oracle over the sliced corpus CTE (hg2SSql's `c`; nb still
    * measures the UNSLICED table) with the exact arm inlined over the
    * SAME sliced `c` — ground truth and walk share the slice. */
  lazy val hg3SSql: String =
    s"""WITH $qCte,
       |c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
       |      WHERE vec_id >= $QN AND vec_id % $NearDupMpSliceMod = 0),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswEdgeCtesS,
       |${hnswWalkCtesS._1},
       |${(0 to HnswHopsZero).map(hnswResCtesS).mkString(",\n")},
       |exact AS (SELECT query_id, vec_id FROM (
       |  ${topkSql(s"SELECT query_id, vec_id, ${cosS("qv", "v")} AS score FROM c, q", desc = true)}))
       |$hg3RecallTail""".stripMargin

  /** hg6's oracle: the identical edge/walk machinery over the PLANTED
    * corpus/query CTEs — (1−alpha)·own + alpha·anchor elementwise in
    * DOUBLE (list_zip mirrors Spark's zip_with exactly: float→double
    * casts then one multiply-add per element, same order) — with the
    * walk unrolled at hg6's weak-seed knobs (probes=0, beam=8, 3
    * layer-0 hops) and the exact arm inlined over the same planted
    * vectors. */
  lazy val hg6Sql: String = hg6SqlFrom(s"e.vec_id >= $QN")

  /** hg6's oracle over the SLICED planted corpus (the s3 twin: walk,
    * graph, and exact arm all share the vec_id % 3 slice; nb still
    * measures the unsliced table so widths stay full-N). */
  lazy val hg6SSql: String = hg6SqlFrom(
    s"e.vec_id >= $QN AND e.vec_id % $NearDupMpSliceMod = 0")

  private def hg6SqlFrom(corpusWhere: String): String = {
    val mixS = s"${1.0 - PlantedAlpha} * __z[1] + $PlantedAlpha * __z[2]"
    val pcCte =
      s"""c AS (SELECT e.vec_id,
         |  list_transform(list_zip(e.embedding::DOUBLE[], a.embedding::DOUBLE[]),
         |    __z -> $mixS) AS v
         |FROM embeddings e JOIN embeddings a
         |  ON a.vec_id = $QN + (e.vec_id % $PlantedClusters)
         |WHERE $corpusWhere)""".stripMargin
    val pqCte =
      s"""q AS (SELECT e.vec_id AS query_id,
         |  list_transform(list_zip(e.embedding::DOUBLE[], a.embedding::DOUBLE[]),
         |    __z -> $mixS) AS qv
         |FROM embeddings e JOIN embeddings a
         |  ON a.vec_id = $QN + (e.vec_id % $PlantedClusters)
         |WHERE e.vec_id < $QN)""".stripMargin
    val (walk, states) =
      hnswWalkCtesFor(PlantedProbes, PlantedBeam, PlantedHopsZero)
    s"""WITH $pqCte,
       |$pcCte,
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |$hnswEdgeCtesS,
       |$walk,
       |${(0 to PlantedHopsZero).map(hnswResCtesFor(states)).mkString(",\n")},
       |exact AS (SELECT query_id, vec_id FROM (
       |  ${topkSql(s"SELECT query_id, vec_id, ${cosS("qv", "v")} AS score FROM c, q", desc = true)}))
       |${hgRecallTailFor(PlantedHopsZero)}""".stripMargin
  }

  /** The hop-sweep tail over `exact` + the res_h CTEs, to `hops`. */
  private def hgRecallTailFor(hops: Int): String =
    (0 to hops).map { h =>
      s"""SELECT $h AS hops, CAST(sum(hit) AS BIGINT) AS n_overlap,
         |  round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
         |FROM (SELECT CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM exact e LEFT JOIN res_$h a
         |        ON e.query_id = a.query_id AND e.vec_id = a.vec_id) j_$h""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---- vq2 / v11: product quantization (8 subspaces × 16 codes) -------

  private def pqCorpus(s: SparkSession, d: String): DataFrame =
    corpusVecs(s, d).select("vec_id", "v")

  /** Exploded (vec_id, subspace, code) PQ codes — all-integer output,
    * hash-exact across engines. Codebook = the 16 corpus vectors with
    * the smallest mixed hash (deterministic, oracle-replicable). */
  def vq2PqCodes(s: SparkSession, d: String): DataFrame = {
    val corpus = pqCorpus(s, d)
    val cb = graft.operators.Pq.codebook(corpus)
    graft.operators.Pq.encode(corpus, cb)
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").as("subspace"), col("col").as("code"))
  }

  /** Shared PQ oracle CTEs: seed selection (mixed-hash order), the
    * codebook as one list-of-vectors row, and the per-subspace argmin
    * encode. Lambda vars are __-prefixed and unique per nesting level —
    * DuckDB lexically shadows reused names (see polyhashS). */
  private def pqEncCtes: String = pqEncCtesFrom(QN)

  /** Same CTEs with the PQ corpus parameterized (v14 trains/encodes on
    * the IVF corpus, vec_id >= CN). */
  private def pqEncCtesFrom(minId: Int): String = {
    val mh = s"(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length(CAST(vec_id AS VARCHAR)) + 1), " +
      s"__pi -> CAST(ascii(substring(CAST(vec_id AS VARCHAR), __pi, 1)) AS BIGINT))), " +
      s"(__ph, __pc) -> (__ph * 31 + __pc) % ${Embed.HashMod}) " +
      s"* ${graft.operators.Sampling.mixedHashSqlConst}) % ${Embed.HashMod}"
    val sub = EmbedDim / graft.operators.Pq.NumSubspaces
    s"""c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= $minId),
       |hk AS (SELECT vec_id, v, $mh AS hk FROM c),
       |seeds AS (SELECT row_number() OVER (ORDER BY hk ASC, vec_id ASC) - 1 AS code, v
       |          FROM hk ORDER BY hk ASC, vec_id ASC LIMIT ${graft.operators.Pq.Codes}),
       |book AS (SELECT list(v ORDER BY code) AS bk FROM seeds),
       |enc AS (
       |  SELECT c.vec_id, r.range AS subspace,
       |    CAST(list_reduce(list_prepend([1e308, -1.0],
       |      list_transform(range(0, ${graft.operators.Pq.Codes}), __cc ->
       |        [list_reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), __j ->
       |           (v[r.range*$sub + __j] - bk[__cc+1][r.range*$sub + __j])
       |         * (v[r.range*$sub + __j] - bk[__cc+1][r.range*$sub + __j]))),
       |           (__a, __x) -> __a + __x),
       |         CAST(__cc AS DOUBLE)])),
       |      (__p, __q) -> CASE WHEN __q[1] < __p[1] THEN __q ELSE __p END)[2] AS INT) AS code
       |  FROM c, book, range(0, ${graft.operators.Pq.NumSubspaces}) r)""".stripMargin
  }

  def vq2Sql: String =
    s"""WITH $pqEncCtes
       |SELECT vec_id, subspace, code FROM enc""".stripMargin

  /** ADC top-k dot search over the PQ codes (score = sum of per-subspace
    * codebook dot products, identical sequential fold both engines). */
  def v11PqAdc(s: SparkSession, d: String): DataFrame = {
    val corpus = pqCorpus(s, d)
    val cb = graft.operators.Pq.codebook(corpus)
    graft.operators.Pq.searchDot(
      queryVecs(s, d), graft.operators.Pq.encode(corpus, cb), cb, K)
  }

  def v11Sql: String = {
    val sub = EmbedDim / graft.operators.Pq.NumSubspaces
    s"""WITH $pqEncCtes,
       |enc2 AS (SELECT vec_id, list(code ORDER BY subspace) AS codes FROM enc GROUP BY vec_id),
       |$qCte,
       |sc AS (SELECT q.query_id, e.vec_id,
       |  round(list_reduce(list_prepend(0.0, list_transform(range(0, ${graft.operators.Pq.NumSubspaces}), __s ->
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), __j ->
       |      qv[__s*$sub + __j] * bk[codes[__s+1] + 1][__s*$sub + __j])),
       |      (__b, __y) -> __b + __y))),
       |    (__a, __x) -> __a + __x), 6) AS score
       |  FROM enc2 e, q, book)
       |SELECT query_id, vec_id, score, rnk FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM sc) WHERE rnk <= $K""".stripMargin
  }

  // ---- v14: IVF + PQ (FAISS-IVFADC composition) -----------------------

  /** IVF cell probing over PQ codes — the billion-scale ANN shape:
    * candidates are bounded by the probed cells AND scored via 8 table
    * lookups each; float vectors are never read. Same fixed centroids
    * as v6, same deterministic seed codebook policy as vq2 (trained on
    * the IVF corpus), so the full composition is oracle-replicable. */
  def v14IvfPq(s: SparkSession, d: String): DataFrame = {
    val corpus = ivfCorpus(s, d)
    val cb = graft.operators.Pq.codebook(corpus)
    val codes = graft.operators.Pq.encode(corpus, cb)
    val withCell = VectorSearch.assignCells(corpus, centroids(s, d))
      .select("vec_id", "cell_id").join(codes, "vec_id")
    graft.operators.Pq.searchDotIvf(queryVecs(s, d), withCell,
      centroids(s, d), cb, K, NProbe)
  }

  def v14Sql: String =
    s"""WITH $ivfPqScoredCtes
       |SELECT query_id, vec_id, score, rnk FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM sc) WHERE rnk <= $K""".stripMargin

  /** CTE list ending in `sc` = per-(query, candidate) rounded ADC score
    * over the probed cells — shared by v14 (top-k directly) and v15
    * (top-m candidates then exact rescore). */
  private def ivfPqScoredCtes: String = {
    val sub = EmbedDim / graft.operators.Pq.NumSubspaces
    val centCte =
      s"cent AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $CN)"
    s"""${pqEncCtesFrom(CN)},
       |enc2 AS (SELECT vec_id, list(code ORDER BY subspace) AS codes FROM enc GROUP BY vec_id),
       |$qCte, $centCte,
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT c.vec_id, cent.cell_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${l2S("c.v", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM c, cent) WHERE crnk = 1),
       |probed AS (
       |  SELECT query_id, qv, cell_id FROM (
       |    SELECT q.query_id, q.qv, cent.cell_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2S("q.qv", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM q, cent) WHERE crnk <= $NProbe),
       |sc AS (SELECT p.query_id, e.vec_id,
       |  round(list_reduce(list_prepend(0.0, list_transform(range(0, ${graft.operators.Pq.NumSubspaces}), __s ->
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), __j ->
       |      p.qv[__s*$sub + __j] * bk[codes[__s+1] + 1][__s*$sub + __j])),
       |      (__b, __y) -> __b + __y))),
       |    (__a, __x) -> __a + __x), 6) AS score
       |  FROM enc2 e JOIN assigned a USING (vec_id) JOIN probed p USING (cell_id), book)""".stripMargin
  }

  // ---- v15: IVF+PQ candidates + exact rescore -------------------------

  /** Candidates kept from the ADC pass before the exact rescore. */
  val RescoreM = 20

  /** The COMPLETE production ANN recipe (FAISS search pipeline): IVF
    * probe → ADC top-m candidate generation in the compressed domain →
    * exact dot rescore of only those m float vectors → top-k. The
    * expensive float reads are bounded at m per query regardless of
    * corpus size; everything upstream never touches a float vector. */
  def v15IvfPqRescore(s: SparkSession, d: String): DataFrame = {
    val corpus = ivfCorpus(s, d)
    val cb = graft.operators.Pq.codebook(corpus)
    val codes = graft.operators.Pq.encode(corpus, cb)
    val withCell = VectorSearch.assignCells(corpus, centroids(s, d))
      .select("vec_id", "cell_id").join(codes, "vec_id")
    val cand = graft.operators.Pq.searchDotIvf(queryVecs(s, d), withCell,
      centroids(s, d), cb, RescoreM, NProbe).select("query_id", "vec_id")
    val rescored = cand
      .join(corpus, "vec_id")
      .join(broadcast(queryVecs(s, d)), "query_id")
      .withColumn("score", round(Vec.dot(col("qv"), col("v")), 6))
      .select("query_id", "vec_id", "score")
    graft.plans.TopK.perKey(rescored, Seq("query_id"),
      Seq(col("score").desc, col("vec_id").asc), K)
  }

  def v15Sql: String =
    s"""WITH $ivfPqScoredCtes,
       |cand AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS crnk2
       |  FROM sc) WHERE crnk2 <= $RescoreM)
       |SELECT query_id, vec_id, score, rnk FROM (
       |  SELECT cand.query_id, cand.vec_id,
       |    round(${dotS("q.qv", "c.v")}, 6) AS score,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY round(${dotS("q.qv", "c.v")}, 6) DESC, cand.vec_id ASC) AS rnk
       |  FROM cand JOIN c ON cand.vec_id = c.vec_id
       |            JOIN q ON cand.query_id = q.query_id)
       |WHERE rnk <= $K""".stripMargin

  // ---- d10: multi-probe LSH near-dup pairs ----------------------------

  def d10NearDupLshMp(s: SparkSession, d: String): DataFrame =
    VectorSearch.nearDupPairsLshRpMultiProbe(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")),
      NearDupMinCos, pairWeightsFor(s, d))

  /** The multiset (N·occ·L·(bits+1) rows — 2.1G at sf30) must never
    * reach an aggregate: score each candidate row in the join
    * pipeline against per-id precomputed norms, filter at the
    * threshold FIRST, and DISTINCT only the tiny survivor set —
    * the exact mirror of the engine's score-in-stage shape
    * (VectorSearch.scorePairsInline). Duplicate candidates score
    * bit-identically, so filter→distinct ≡ max()-dedup→filter. */
  val d10Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |en AS MATERIALIZED (SELECT vec_id, v,
       |        sqrt(${dotS("v", "v")}) AS vn FROM e),
       |${rpBucketSlimCteNS("b", "e", "vec_id", "v")},
       |bp AS (SELECT vec_id, tbl,
       |         xor(bucket, CASE WHEN m.range < 0 THEN 0
       |                          ELSE (1::BIGINT << m.range) END) AS bucket
       |       FROM b, range(-1, $RpBitsPairMax) m
       |       WHERE m.range < (SELECT bits FROM nb))
       |SELECT DISTINCT id_a, id_b, round(score, 6) AS score FROM (
       |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |         ${dotS("ea.v", "eb.v")} / (ea.vn * eb.vn) AS score
       |  FROM bp a
       |  JOIN b b2
       |    ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       |  JOIN en ea ON ea.vec_id = a.vec_id
       |  JOIN en eb ON eb.vec_id = b2.vec_id)
       |WHERE score >= $NearDupMinCos""".stripMargin

  // ---- d10_s3: the multi-probe attestation slice ----------------------

  /** Slice modulus for d10's attestation twin. Copy offsets are
    * c*10^8 ≡ c (mod 3), so vec_id % 3 == 0 keeps a deterministic
    * third of the corpus (one copy in three of every base vector) —
    * candidate volume drops ~9x while corpus-level constants (the
    * N-adaptive width measures the unsliced table) stay at full
    * size. */
  val NearDupMpSliceMod = 3

  /** d10_neardup_s3 — d10's exact multi-probe pipeline on the
    * deterministic vec_id % 3 slice, probed at the FULL corpus's
    * N-adaptive width (pairWeightsFor/`nb` both measure the unsliced
    * table, so the operating point is sf30's, only the pair mass
    * shrinks). Kept as the oracle-cost attestation twin for big
    * rungs: the full multi-probe candidate multiset is inherently
    * N·occ·L·(bits+1) rows (~2.1G at sf30 on ANY fixture — measured
    * identical on verbatim and rotated copies), which the engine
    * streams through the score-in-stage shape but the single-node
    * oracle must still enumerate. */
  def d10NearDupLshMpS(s: SparkSession, d: String): DataFrame =
    VectorSearch.nearDupPairsLshRpMultiProbe(
      Tables.embeddings(s, d)
        .filter(col("vec_id") % NearDupMpSliceMod === 0)
        .select(col("vec_id"), col("embedding").as("v")),
      NearDupMinCos, pairWeightsFor(s, d))

  val d10SSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE vec_id % $NearDupMpSliceMod = 0),
       |w(tbl, bit, wv) AS (VALUES
       |    $rpWeightRowsPairExtS),
       |${pairNbCteS()},
       |en AS MATERIALIZED (SELECT vec_id, v,
       |        sqrt(${dotS("v", "v")}) AS vn FROM e),
       |${rpBucketSlimCteNS("b", "e", "vec_id", "v")},
       |bp AS (SELECT vec_id, tbl,
       |         xor(bucket, CASE WHEN m.range < 0 THEN 0
       |                          ELSE (1::BIGINT << m.range) END) AS bucket
       |       FROM b, range(-1, $RpBitsPairMax) m
       |       WHERE m.range < (SELECT bits FROM nb))
       |SELECT DISTINCT id_a, id_b, round(score, 6) AS score FROM (
       |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |         ${dotS("ea.v", "eb.v")} / (ea.vn * eb.vn) AS score
       |  FROM bp a
       |  JOIN b b2
       |    ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       |  JOIN en ea ON ea.vec_id = a.vec_id
       |  JOIN en eb ON eb.vec_id = b2.vec_id)
       |WHERE score >= $NearDupMinCos""".stripMargin

  // ---- v0: deterministic hashing-TF embedder over documents -----------


  /** Driver-facing shape is exploded (doc_id, dim_idx, value): the
    * checker sorts+hashes columns and cannot hash an array cell (round-1
    * `v0_embed` erred with pandas "unhashable type: numpy.ndarray").
    * Library users call Embed.embedDocs directly for the array column.
    */
  def v0Embed(s: SparkSession, d: String): DataFrame =
    Embed.embedDocsExploded(Tables.documents(s, d), "text", EmbedDim)

  val v0Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS tokens
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, list_transform(tokens, t ->
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(t) + 1), i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % ${Embed.HashMod}) % $EmbedDim) AS buckets
       |  FROM toks),
       |cnts AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $EmbedDim), bb -> CAST(len(list_filter(buckets, x -> x = bb)) AS DOUBLE)) AS counts
       |  FROM b),
       |n AS (SELECT doc_id, counts, sqrt(list_dot_product(counts, counts)) AS nrm FROM cnts)
       |SELECT doc_id, r.range AS dim_idx, round(counts[r.range + 1] / nrm, 6) AS value
       |FROM n, range(0, $EmbedDim) r""".stripMargin

  // ---- dr1: Johnson-Lindenstrauss random projection -------------------

  def dr1RandomProjection(s: SparkSession, d: String): DataFrame =
    graft.operators.RandomProjection.project(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "embedding", EmbedDim)

  /** Oracle regenerates the ±1 sign matrix from the same (j, k)
    * formula: x = j·131 + k + 17; h = (x² mod p)·2654435761 mod p;
    * sign = +1 iff h even. list_dot_product folds in index order like
    * the codegen'd DotProduct; √16 = 4 divides exactly. */
  val dr1Sql: String = {
    val p = graft.operators.RandomProjection.Mod
    val mx = graft.operators.RandomProjection.Mixer
    val od = graft.operators.RandomProjection.OutDim
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (SELECT k.range AS out_dim, list_transform(range(0, $EmbedDim), __j ->
       |        CASE WHEN (((__j*131 + k.range + 17) * (__j*131 + k.range + 17)) % $p) * $mx % $p % 2 = 0
       |             THEN 1.0 ELSE -1.0 END) AS sg
       |      FROM range(0, $od) k)
       |SELECT vec_id, out_dim,
       |  round(list_dot_product(v, sg) / ${math.sqrt(od.toDouble)}, 6) AS value
       |FROM e CROSS JOIN s""".stripMargin
  }

  // ---- ix1: IVF index health stats ------------------------------------

  /** Per-cell population of the v6 IVF index plus share-of-corpus and
    * load factor (multiple of the balanced per-cell average) — the
    * index-health report that decides when to re-learn centroids or
    * split hot cells. Counts are exact integers; share/load are one
    * double division each. */
  def ix1IndexStats(s: SparkSession, d: String): DataFrame = {
    val counts = VectorSearch.assignCells(ivfCorpus(s, d), centroids(s, d))
      .groupBy("cell_id").agg(count(lit(1)).as("n_vectors"))
    val tot = counts.agg(sum("n_vectors").as("__total"),
      count(lit(1)).as("__cells"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell_id"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("__total").cast("double"), 6)
          .as("share"),
        round((col("n_vectors") * col("__cells")).cast("double")
          / col("__total").cast("double"), 6).as("load_factor"))
  }

  val ix1Sql: String = {
    val centCte =
      s"cent AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $CN)"
    val corpCte =
      s"corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= $CN)"
    s"""WITH $centCte, $corpCte,
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT corp.vec_id, cent.cell_id,
       |      row_number() OVER (PARTITION BY corp.vec_id
       |        ORDER BY ${l2S("corp.v", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM corp, cent) WHERE crnk = 1),
       |counts AS (SELECT cell_id, count(*) AS n_vectors FROM assigned GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
       |               count(*) AS cells FROM counts)
       |SELECT cell_id, n_vectors,
       |  round(CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
       |  round(CAST(n_vectors * cells AS DOUBLE) / CAST(total AS DOUBLE), 6) AS load_factor
       |FROM counts, tot""".stripMargin
  }

  // ---- ns1: hard-negative mining --------------------------------------

  /** Per query: the top-k most-similar corpus vectors whose label
    * DIFFERS from the query's — the hard negatives a contrastive
    * training pipeline pairs with each anchor. The label predicate is
    * cross-side (query label vs candidate label), applied before the
    * dot fold. */
  def ns1HardNegatives(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d).filter(col("vec_id") < QN)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("q_label"))
    VectorSearch.knnCosineWhere(q, corpusVecs(s, d), K,
      col("label") =!= col("q_label"))
  }

  val ns1Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS q_label
       |           FROM embeddings WHERE vec_id < $QN),
       |     $cCte
       |${topkSql(
        s"SELECT query_id, vec_id, ${cosS("qv", "v")} AS score FROM c, q WHERE c.label <> q.q_label",
        desc = true)}""".stripMargin

  // ---- vq3: binary (sign-bit) quantization ----------------------------

  /** 64-bit sign-bit code per embedding, as two positive 32-bit halves
    * (see VectorSearch.signBits32 for the cross-engine rationale). */
  def vq3BinaryQuant(s: SparkSession, d: String): DataFrame =
    VectorSearch.binaryQuantize(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), "embedding")
      .select("vec_id", "code_lo", "code_hi", "n_pos")

  val vq3Sql: String =
    s"""SELECT vec_id,
       |  bit_or(CASE WHEN i < 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END) AS code_lo,
       |  bit_or(CASE WHEN i >= 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << (i - 32) ELSE 0::BIGINT END) AS code_hi,
       |  CAST(sum(CASE WHEN embedding[i + 1] > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |FROM embeddings, generate_series(0, ${EmbedDim - 1}) t(i)
       |GROUP BY vec_id""".stripMargin

  // ---- v16: Hamming kNN over binary codes -----------------------------

  /** Whole-corpus ANN over the vq3 codes: per-candidate cost is
    * XOR+popcount and the scan is 16 bytes/vector — the cheapest
    * first-pass retrieval tier (rescore survivors with v15's exact
    * tail when float precision matters). */
  def v16KnnHamming(s: SparkSession, d: String): DataFrame = {
    val codes = VectorSearch.binaryQuantize(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), "embedding")
    val q = codes.filter(col("vec_id") < QN)
      .select(col("vec_id").as("query_id"),
        col("code_lo").as("ql"), col("code_hi").as("qh"))
    val c = codes.filter(col("vec_id") >= QN).select("vec_id", "code_lo", "code_hi")
    VectorSearch.knnHamming(q, c, K)
  }

  val v16Sql: String =
    s"""WITH codes AS (
       |  SELECT vec_id,
       |    bit_or(CASE WHEN i < 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END) AS code_lo,
       |    bit_or(CASE WHEN i >= 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << (i - 32) ELSE 0::BIGINT END) AS code_hi
       |  FROM embeddings, generate_series(0, ${EmbedDim - 1}) t(i)
       |  GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, code_lo AS ql, code_hi AS qh FROM codes WHERE vec_id < $QN),
       |c AS (SELECT vec_id, code_lo, code_hi FROM codes WHERE vec_id >= $QN)
       |SELECT query_id, vec_id, hamming, rnk FROM (
       |  SELECT query_id, vec_id,
       |    CAST(bit_count(xor(ql, code_lo)) + bit_count(xor(qh, code_hi)) AS BIGINT) AS hamming,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY bit_count(xor(ql, code_lo)) + bit_count(xor(qh, code_hi)) ASC, vec_id ASC) AS rnk
       |  FROM c, q) WHERE rnk <= $K""".stripMargin

  // ---- v17: Hamming shortlist + exact rescore -------------------------

  val HammingShortlist = 20

  /** The binary-tier production recipe (v15's shape one compression
    * level down): Hamming top-m over 16-byte codes shortlists
    * candidates — XOR+popcount, integer ranking — then ONLY those m
    * float vectors are read for the exact cosine top-k. Float I/O is
    * bounded at m per query regardless of corpus size; the first pass
    * touches 6% of the bytes a float scan would. */
  def v17HammingRescore(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val codes = VectorSearch.binaryQuantize(
      emb.select(col("vec_id"), col("embedding")), "embedding")
    val q = codes.filter(col("vec_id") < QN)
      .select(col("vec_id").as("query_id"),
        col("code_lo").as("ql"), col("code_hi").as("qh"))
    val c = codes.filter(col("vec_id") >= QN)
      .select("vec_id", "code_lo", "code_hi")
    val shortlist = VectorSearch.knnHamming(q, c, HammingShortlist)
      .select("query_id", "vec_id")
    val rescored = shortlist
      .join(emb.select(col("vec_id"), col("embedding").as("v")), "vec_id")
      .join(broadcast(emb.filter(col("vec_id") < QN)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        "query_id")
      .withColumn("score", graft.functions.Vec.cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "score")
    graft.plans.TopK.perKey(rescored, Seq("query_id"),
      Seq(col("score").desc, col("vec_id").asc), K)
      .withColumn("score", round(col("score"), 6))
  }

  val v17Sql: String =
    s"""WITH codes AS (
       |  SELECT vec_id,
       |    bit_or(CASE WHEN i < 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END) AS code_lo,
       |    bit_or(CASE WHEN i >= 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << (i - 32) ELSE 0::BIGINT END) AS code_hi
       |  FROM embeddings, generate_series(0, ${EmbedDim - 1}) t(i)
       |  GROUP BY vec_id),
       |cq AS (SELECT vec_id AS query_id, code_lo AS ql, code_hi AS qh FROM codes WHERE vec_id < $QN),
       |cc AS (SELECT vec_id, code_lo, code_hi FROM codes WHERE vec_id >= $QN),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY bit_count(xor(ql, code_lo)) + bit_count(xor(qh, code_hi)) ASC,
       |                 vec_id ASC) AS hrnk
       |    FROM cc, cq) WHERE hrnk <= $HammingShortlist),
       |$qCte,
       |cv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT query_id, vec_id, round(score, 6) AS score, rnk FROM (
       |  SELECT s.query_id, s.vec_id, ${cosS("q.qv", "cv.v")} AS score,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY ${cosS("q.qv", "cv.v")} DESC, s.vec_id ASC) AS rnk
       |  FROM short s JOIN cv ON s.vec_id = cv.vec_id
       |               JOIN q ON s.query_id = q.query_id)
       |WHERE rnk <= $K""".stripMargin

  // ---- km1_lloyd_quantized --------------------------------------------

  val LloydIters = 2

  /** km1_lloyd_quantized — a k-means FIT that is hash-exact by
    * construction (v8's MLlib fit is rows-only because float centroid
    * averages are engine/order-dependent; this variant designs the
    * floats out): coordinates quantize ONCE to the 1e-6 integer grid,
    * assignment is argmin of the ALL-INTEGER squared L2 on that grid
    * (ties to the smaller cell), and each centroid update is an
    * integer mean (DIV — floor semantics, deterministic; empty cells
    * keep their centroid). Two declared Lloyd iterations (g1's
    * unrolled-rounds rule). Centroids live on the driver between
    * rounds (16×64 longs — the Pq codebook pattern); per round the
    * corpus does one broadcast argmin + one (cell, dim) aggregation.
    * Output: per cell, final member count + an integer digest of the
    * centroid (Σ qc_d·(d+1)) — the whole fit, compactly checkable. */
  def km1LloydQuantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1e6).cast("long")).as("qv"))
      .localCheckpoint() // scanned once per Lloyd round
    // deterministic seeds: the CN smallest-mixed-hash vectors, cell id
    // in seed order
    val seeds = graft.plans.TopK.perKey(
      vecs.withColumn("__h",
        graft.operators.Sampling.mixedHash(col("vec_id"))),
      Seq(), Seq(col("__h").asc, col("vec_id").asc), CN)
      .orderBy(col("__h").asc, col("vec_id").asc)
      .select("qv").as[Seq[Long]].collect()
    var qc: Array[Array[Long]] = seeds.map(_.toArray).toArray
    def assigned(qcNow: Array[Array[Long]]) = {
      val bc = s.sparkContext.broadcast(qcNow)
      vecs.mapPartitions { it =>
        val cents = bc.value
        it.map { r =>
          val v = r.getSeq[Long](1)
          var best = 0; var bestD = Long.MaxValue
          var c = 0
          while (c < cents.length) {
            var dist = 0L; var j = 0
            while (j < v.length) {
              val df = v(j) - cents(c)(j); dist += df * df; j += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          (r.getLong(0), best, v)
        }
      }.toDF("vec_id", "cell_id", "qv")
    }
    for (_ <- 1 to LloydIters) {
      val sums = assigned(qc)
        .select(col("cell_id"), posexplode(col("qv")).as(Seq("dim", "x")))
        .groupBy("cell_id", "dim")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = qc.map(_.clone())
      sums.foreach { r =>
        val (cell, dim) = (r.getInt(0), r.getInt(1))
        next(cell)(dim) = Math.floorDiv(r.getLong(2), r.getLong(3))
      }
      qc = next
    }
    val digests = qc.zipWithIndex.map { case (cv, cell) =>
      (cell, cv.zipWithIndex.map { case (x, d) => x * (d + 1) }.sum)
    }.toSeq.toDF("cell_id", "centroid_digest")
    assigned(qc).groupBy("cell_id").agg(count(lit(1)).as("n_members"))
      .join(broadcast(digests), Seq("cell_id"), "right")
      .select(col("cell_id").cast("long").as("cell_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("centroid_digest"))
  }

  lazy val km1Sql: String = {
    val mh = s"(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length(CAST(vec_id AS VARCHAR)) + 1), " +
      s"__ki -> CAST(ascii(substring(CAST(vec_id AS VARCHAR), __ki, 1)) AS BIGINT))), " +
      s"(__kh, __kc) -> (__kh * 31 + __kc) % ${Embed.HashMod}) " +
      s"* ${graft.operators.Sampling.mixedHashSqlConst}) % ${Embed.HashMod}"
    // argmin over the centroid list: fold [dist, cell] pairs, strict <
    // keeps the earlier (smaller) cell on ties — matching the Scala loop
    def assignCte(out: String, centsCte: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT v.vec_id, CAST(list_reduce(list_prepend([9223372036854775807, -1],
         |    list_transform(range(1, $CN + 1), __cc ->
         |      [list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(range(1, $EmbedDim + 1), __dj ->
         |           (v.qv[__dj] - $centsCte.cents[__cc][__dj])
         |         * (v.qv[__dj] - $centsCte.cents[__cc][__dj]))),
         |         (__da, __dx) -> __da + __dx),
         |       CAST(__cc - 1 AS BIGINT)])),
         |    (__p2, __q2) -> CASE WHEN __q2[1] < __p2[1] THEN __q2 ELSE __p2 END)[2]
         |    AS INT) AS cell_id, v.qv
         |  FROM qx v, $centsCte)""".stripMargin
    def updateCte(asg: String, prev: String, out: String): String =
      s"""${out}_sums AS (
         |  SELECT cell_id, d.range AS dim,
         |    CAST(sum(qv[CAST(d.range + 1 AS INT)]) AS BIGINT) AS sx,
         |    count(*) AS n
         |  FROM $asg, range(0, $EmbedDim) d GROUP BY 1, 2),
         |$out AS (
         |  SELECT list(cv ORDER BY c1) AS cents FROM (
         |    SELECT g.c1, list(
         |        coalesce(CAST(floor(CAST(s.sx AS DOUBLE) / s.n) AS BIGINT),
         |                 g.x) ORDER BY g.dim) AS cv
         |    FROM (SELECT t.c1, d.range AS dim,
         |            p.cents[t.c1][CAST(d.range + 1 AS INT)] AS x
         |          FROM (SELECT unnest(range(1, $CN + 1)) AS c1) t,
         |               range(0, $EmbedDim) d, $prev p) g
         |    LEFT JOIN ${out}_sums s ON s.cell_id = g.c1 - 1 AND s.dim = g.dim
         |    GROUP BY g.c1))""".stripMargin
    s"""WITH qx AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], __qx ->
       |      CAST(floor(__qx * 1000000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |hk AS (SELECT vec_id, $mh AS h FROM embeddings),
       |c0 AS (SELECT list(qv ORDER BY rnk) AS cents FROM (
       |    SELECT q.qv, row_number() OVER (ORDER BY h ASC, hk.vec_id ASC) AS rnk
       |    FROM hk JOIN qx q USING (vec_id)
       |    ORDER BY h ASC, hk.vec_id ASC LIMIT $CN)),
       |${assignCte("a1", "c0")},
       |${updateCte("a1", "c0", "c1")},
       |${assignCte("a2", "c1")},
       |${updateCte("a2", "c1", "c2")},
       |${assignCte("af", "c2")},
       |counts AS (SELECT cell_id, count(*) AS n_members FROM af GROUP BY 1),
       |dig AS (SELECT t.c1 - 1 AS cell_id,
       |          CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(range(1, $EmbedDim + 1), __dd ->
       |              p.cents[t.c1][__dd] * __dd)),
       |            (__ga, __gx) -> __ga + __gx) AS BIGINT) AS centroid_digest
       |        FROM (SELECT unnest(range(1, $CN + 1)) AS c1) t, c2 p)
       |SELECT CAST(d2.cell_id AS BIGINT) AS cell_id,
       |  CAST(coalesce(c.n_members, 0) AS BIGINT) AS n_members,
       |  d2.centroid_digest
       |FROM dig d2 LEFT JOIN counts c ON c.cell_id = d2.cell_id""".stripMargin
  }

  // ---- v24_cascade ----------------------------------------------------

  val CascadeM1 = 40 // binary-tier shortlist
  val CascadeM2 = 15 // ADC-tier survivors

  /** v24_cascade — the full THREE-stage serving cascade (v17 is the
    * two-stage version): Hamming over 16-byte binary codes shortlists
    * m1=40 (XOR+popcount, cheapest possible scan), PQ ADC reranks
    * ONLY those 40 down to m2=15 (8 table lookups each, still no
    * float vector read), and exact cosine touches just 15 float
    * vectors per query for the final top-k. Each stage's cost is the
    * previous stage's output size — the corpus is scanned once, at
    * 16 bytes/vector, no matter how large it grows. The standard
    * production recipe (binary prefilter → ADC → exact) end-to-end as
    * ONE declarative plan, oracle-matched through all three stages. */
  def v24Cascade(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val codes = VectorSearch.binaryQuantize(
      emb.select(col("vec_id"), col("embedding")), "embedding")
    val qb = codes.filter(col("vec_id") < QN)
      .select(col("vec_id").as("query_id"),
        col("code_lo").as("ql"), col("code_hi").as("qh"))
    val cbn = codes.filter(col("vec_id") >= QN)
      .select("vec_id", "code_lo", "code_hi")
    val short = VectorSearch.knnHamming(qb, cbn, CascadeM1)
      .select("query_id", "vec_id")
    val corpus = pqCorpus(s, d)
    val book = graft.operators.Pq.codebook(corpus)
    val adc = graft.operators.Pq.rerankDot(short,
      graft.operators.Pq.encode(corpus, book), queryVecs(s, d), book,
      CascadeM2).select("query_id", "vec_id")
    val rescored = adc
      .join(emb.select(col("vec_id"), col("embedding").as("v")), "vec_id")
      .join(broadcast(emb.filter(col("vec_id") < QN)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        "query_id")
      .withColumn("score", graft.functions.Vec.cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "score")
    graft.plans.TopK.perKey(rescored, Seq("query_id"),
      Seq(col("score").desc, col("vec_id").asc), K)
      .withColumn("score", round(col("score"), 6))
  }

  lazy val v24Sql: String = {
    val sub = EmbedDim / graft.operators.Pq.NumSubspaces
    s"""WITH codes AS (
       |  SELECT vec_id,
       |    bit_or(CASE WHEN i < 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END) AS code_lo,
       |    bit_or(CASE WHEN i >= 32 AND embedding[i + 1] > 0 THEN 1::BIGINT << (i - 32) ELSE 0::BIGINT END) AS code_hi
       |  FROM embeddings, generate_series(0, ${EmbedDim - 1}) t(i)
       |  GROUP BY vec_id),
       |hq AS (SELECT vec_id AS query_id, code_lo AS ql, code_hi AS qh FROM codes WHERE vec_id < $QN),
       |hc AS (SELECT vec_id, code_lo, code_hi FROM codes WHERE vec_id >= $QN),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY bit_count(xor(ql, code_lo)) + bit_count(xor(qh, code_hi)) ASC,
       |                 vec_id ASC) AS hrnk
       |    FROM hc, hq) WHERE hrnk <= $CascadeM1),
       |$pqEncCtes,
       |enc2 AS (SELECT vec_id, list(code ORDER BY subspace) AS codes FROM enc GROUP BY vec_id),
       |$qCte,
       |adc0 AS (SELECT s.query_id, s.vec_id,
       |  round(list_reduce(list_prepend(0.0, list_transform(range(0, ${graft.operators.Pq.NumSubspaces}), __s ->
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), __j ->
       |      qv[__s*$sub + __j] * bk[codes[__s+1] + 1][__s*$sub + __j])),
       |      (__b, __y) -> __b + __y))),
       |    (__a, __x) -> __a + __x), 6) AS score
       |  FROM short s JOIN enc2 e ON s.vec_id = e.vec_id
       |               JOIN q ON s.query_id = q.query_id
       |               CROSS JOIN book),
       |adc AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, vec_id ASC) AS arnk
       |    FROM adc0) WHERE arnk <= $CascadeM2),
       |cv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT query_id, vec_id, round(score, 6) AS score, rnk FROM (
       |  SELECT a.query_id, a.vec_id, ${cosS("q.qv", "cv.v")} AS score,
       |    row_number() OVER (PARTITION BY a.query_id
       |      ORDER BY ${cosS("q.qv", "cv.v")} DESC, a.vec_id ASC) AS rnk
       |  FROM adc a JOIN cv ON a.vec_id = cv.vec_id
       |             JOIN q ON a.query_id = q.query_id)
       |WHERE rnk <= $K""".stripMargin
  }

  // ---- sem1: SemDeDup semantic dedup ----------------------------------

  val SemTau = 0.4

  def sem1SemDedup(s: SparkSession, d: String): DataFrame =
    VectorSearch.semDedup(ivfCorpus(s, d), centroids(s, d), SemTau)

  /** Oracle reuses v6's assignment semantics (nearest centroid by L2,
    * ties to smaller cell_id) and flags via a correlated EXISTS over
    * same-cell lower-id members. */
  val sem1Sql: String = {
    val centCte =
      s"cent AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $CN)"
    val corpCte =
      s"corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= $CN)"
    s"""WITH $centCte, $corpCte,
       |assigned AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT corp.vec_id, corp.v, cent.cell_id,
       |      row_number() OVER (PARTITION BY corp.vec_id
       |        ORDER BY ${l2S("corp.v", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM corp, cent) WHERE crnk = 1)
       |SELECT a.vec_id, a.cell_id,
       |  CASE WHEN EXISTS (SELECT 1 FROM assigned b
       |                    WHERE b.cell_id = a.cell_id AND b.vec_id < a.vec_id
       |                      AND ${cosS("a.v", "b.v")} >= $SemTau)
       |       THEN 1 ELSE 0 END AS is_dup
       |FROM assigned a""".stripMargin
  }

  // ---- ev1: ANN recall evaluation as a first-class query --------------

  /** Recall@k of the v6 IVF index against the exact v1 answer,
    * computed AS A DISTRIBUTED QUERY (the index-quality regression
    * check a serving stack runs after every rebuild): per query the
    * overlap of the two top-k sets over k — integer counts, one
    * double division. */
  def ev1AnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = v1KnnCos(s, d).select("query_id", "vec_id")
    val approx = v6KnnIvf(s, d).select(col("query_id"), col("vec_id"))
      .withColumn("__hit", lit(1L))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        round(col("n_overlap").cast("double") / K, 6).as("recall"))
  }

  // ---- v20: metadata-filtered IVF -------------------------------------

  /** Filtered ANN at scale — v4's metadata predicate composed with the
    * v6 IVF probe: the label filter applies to the assignment table
    * BEFORE any scoring (pre-filtering inside the probed cells), so
    * candidate work is bounded by cell population × selectivity, and a
    * fully-filtered-out cell costs nothing. The pre-vs-post-filter
    * choice is THE serving decision for filtered vector search; this
    * is the pre-filter shape. */
  def v20FilteredIvf(s: SparkSession, d: String): DataFrame = {
    val corpusWithLabel = Tables.embeddings(s, d).filter(col("vec_id") >= CN)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
    val assigned = VectorSearch.assignCells(corpusWithLabel, centroids(s, d))
      .filter(col("label").isin(2, 3, 4))
    VectorSearch.knnIvfAssigned(queryVecs(s, d), assigned,
      centroids(s, d), K, NProbe)
  }

  val v20Sql: String = {
    val centCte =
      s"cent AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $CN)"
    val corpCte =
      s"corp AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings WHERE vec_id >= $CN)"
    s"""WITH $qCte, $centCte, $corpCte,
       |assigned AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT corp.vec_id, corp.v, corp.label, cent.cell_id,
       |      row_number() OVER (PARTITION BY corp.vec_id
       |        ORDER BY ${l2S("corp.v", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM corp, cent) WHERE crnk = 1 AND label IN (2, 3, 4)),
       |probed AS (
       |  SELECT query_id, qv, cell_id FROM (
       |    SELECT q.query_id, q.qv, cent.cell_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2S("q.qv", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM q, cent) WHERE crnk <= $NProbe)
       |${topkSql(s"SELECT p.query_id, a.vec_id, ${cosS("p.qv", "a.v")} AS score FROM assigned a JOIN probed p USING (cell_id)", desc = true)}""".stripMargin
  }

  // ---- del1: index deletion with tombstones ---------------------------

  /** Index lifecycle: build → tombstone-delete every 7th vector →
    * re-upsert every 14th at a higher version (resurrection). The
    * merge-on-read live view must show exactly: all non-deleted
    * version-0 rows plus the resurrected version-2 rows. */
  def del1IndexDelete(s: SparkSession, d: String): DataFrame = {
    val path = indexPath(d, "del1")
    // fresh build each run: stale tombstones from a previous run would
    // otherwise stack onto the new epoch
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    graft.operators.IndexStore.build(ivfCorpus(s, d), centroids(s, d), path)
    graft.operators.IndexStore.delete(s, path,
      ivfCorpus(s, d).filter(col("vec_id") % 7 === 0).select("vec_id"), 1)
    val resurrect = ivfCorpus(s, d).filter(col("vec_id") % 14 === 0)
      .select(col("vec_id"), col("v"), lit(2).as("version"))
    graft.operators.IndexStore.upsert(s, path, resurrect)
    graft.operators.IndexStore.liveAssignments(s, path)
      .select("vec_id", "cell_id", "version")
  }

  val del1Sql: String = {
    val centCte =
      s"cent AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $CN)"
    val corpCte =
      s"corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= $CN)"
    s"""WITH $centCte, $corpCte,
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT corp.vec_id, cent.cell_id,
       |      row_number() OVER (PARTITION BY corp.vec_id
       |        ORDER BY ${l2S("corp.v", "cent.cv")} ASC, cent.cell_id ASC) AS crnk
       |    FROM corp, cent) WHERE crnk = 1)
       |SELECT vec_id, cell_id, 0 AS version FROM assigned WHERE vec_id % 7 <> 0
       |UNION ALL
       |SELECT vec_id, cell_id, 2 AS version FROM assigned WHERE vec_id % 14 = 0""".stripMargin
  }

  // ---- v18: nprobe tuning curve ---------------------------------------

  /** Recall@k vs nprobe (1..4) as ONE query — the knob-tuning
    * measurement behind every IVF deployment: how much recall each
    * extra probed cell buys. Four IVF runs of increasing width, each
    * overlapped against the exact answer; the serving system reads
    * this table to pick its operating point. */
  def v18TuningCurve(s: SparkSession, d: String): DataFrame = {
    // the exact arm and the corpus→cell assignment are IDENTICAL across
    // the four probe widths — checkpoint both so each extra nprobe pays
    // only its own probe join, not a fresh brute-force pass plus a
    // fresh corpus×centroids assignment (4 of each → 1 of each)
    val exact = v1KnnCos(s, d).select("query_id", "vec_id").localCheckpoint()
    val assigned = VectorSearch.assignCells(ivfCorpus(s, d), centroids(s, d))
      .localCheckpoint()
    (1 to 4).map { p =>
      val approx = VectorSearch.knnIvfAssigned(queryVecs(s, d), assigned,
        centroids(s, d), K, p)
        .select(col("query_id"), col("vec_id")).withColumn("__hit", lit(1L))
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("__n"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
        .select(lit(p.toLong).as("nprobe"), col("n_overlap"),
          round(col("n_overlap").cast("double") / col("__n").cast("double"), 6)
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  // lazy: interpolates v1Sql (declared above) per arm at first use
  lazy val v18Sql: String =
    (1 to 4).map { p =>
      s"""SELECT $p AS nprobe, CAST(sum(hit) AS BIGINT) AS n_overlap,
         |  round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
         |FROM (
         |  WITH exact AS (SELECT query_id, vec_id FROM ($v1Sql)),
         |  approx AS (SELECT query_id, vec_id FROM (${ivfSqlWithProbe(p)}))
         |  SELECT CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM exact e LEFT JOIN approx a
         |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n")

  // defined after v1Sql/v6Sql: interpolating them from an earlier val
  // would embed null at object-init time (same pitfall as sp1Sql)
  val ev1Sql: String =
    s"""WITH exact AS (SELECT query_id, vec_id FROM ($v1Sql)),
       |approx AS (SELECT query_id, vec_id FROM ($v6Sql)),
       |j AS (SELECT e.query_id,
       |        CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |      FROM exact e LEFT JOIN approx a
       |        ON e.query_id = a.query_id AND e.vec_id = a.vec_id)
       |SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_overlap,
       |  round(CAST(sum(hit) AS DOUBLE) / $K, 6) AS recall
       |FROM j GROUP BY query_id""".stripMargin

  // ---- v21: Matryoshka truncated-dimension retrieval --------------------

  val MatDim = 16

  /** Matryoshka-style dimension-truncated retrieval evaluation
    * (Kusupati et al.): kNN over only the FIRST 16 of 64 dims — 4×
    * less I/O and compute per candidate, the cheap first tier of a
    * truncate→rescore serving cascade (the dimension analogue of the
    * vq3/v16 bit tier) — overlapped per query against the full-
    * dimension exact answer. The slice happens in the projection, so
    * the truncated scan never touches the remaining 48 floats. */
  def v21Matryoshka(s: SparkSession, d: String): DataFrame = {
    val q16 = queryVecs(s, d)
      .select(col("query_id"), slice(col("qv"), 1, MatDim).as("qv"))
    val c16 = corpusVecs(s, d)
      .select(col("vec_id"), slice(col("v"), 1, MatDim).as("v"))
    val exact = v1KnnCos(s, d).select("query_id", "vec_id")
    val approx = VectorSearch.knnCosine(q16, c16, K)
      .select(col("query_id"), col("vec_id")).withColumn("__hit", lit(1L))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        round(col("n_overlap").cast("double") / K, 6).as("recall"))
  }

  lazy val v21Sql: String =
    s"""WITH $qCte, $cCte,
       |q16 AS (SELECT query_id, qv[1:$MatDim] AS qv FROM q),
       |c16 AS (SELECT vec_id, v[1:$MatDim] AS v FROM c),
       |trunc AS (
       |${topkSql(s"SELECT query_id, vec_id, ${cosS("qv", "v")} AS score FROM c16, q16", desc = true)}),
       |exact AS (SELECT query_id, vec_id FROM ($v1Sql)),
       |j AS (SELECT e.query_id,
       |        CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |      FROM exact e LEFT JOIN trunc a
       |        ON e.query_id = a.query_id AND e.vec_id = a.vec_id)
       |SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_overlap,
       |  round(CAST(sum(hit) AS DOUBLE) / $K, 6) AS recall
       |FROM j GROUP BY query_id""".stripMargin

  // ---- emb1: per-dimension embedding statistics --------------------------

  /** Per-dimension corpus statistics of the embedding column — the
    * drift-detection input (compare per-dim means/variances between
    * two snapshots to catch encoder or pipeline regressions; a shifted
    * dimension is invisible to whole-vector norms). Values quantize to
    * floor(x·1e6) INTEGERS first (declared semantics): the sums become
    * exact integers — order-independent and mergeable at any scale —
    * and mean/var are single double divisions at the end (stat1's
    * recipe without decimal columns; at 100 TB row counts the long
    * accumulators widen to decimal(38,0)). min/max stay exact doubles
    * (order-independent by definition). */
  def emb1DimStats(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim_idx", "x0")))
      .select(col("dim_idx"), col("x0").cast("double").as("x"))
      .withColumn("sx", floor(col("x") * 1e6).cast("long"))
    rows.groupBy("dim_idx")
      .agg(count(lit(1)).as("n"),
        round(min("x"), 6).as("min_v"),
        round(max("x"), 6).as("max_v"),
        sum("sx").as("__s"),
        sum(col("sx") * col("sx")).as("__q"))
      .select(col("dim_idx").cast("long").as("dim_idx"), col("n"),
        col("min_v"), col("max_v"),
        round(col("__s").cast("double") / col("n").cast("double") / 1e6, 6)
          .as("mean_v"),
        round((col("__q").cast("double") * col("n").cast("double")
            - col("__s").cast("double") * col("__s").cast("double"))
          / (col("n").cast("double") * col("n").cast("double")) / 1e12, 6)
          .as("var_v"))
  }

  val emb1Sql: String =
    s"""WITH e AS (SELECT r.range AS dim_idx,
       |             embedding[CAST(r.range + 1 AS INT)]::DOUBLE AS x
       |           FROM embeddings, range(0, $EmbedDim) r),
       |s AS (SELECT dim_idx, x, CAST(floor(x * 1000000.0) AS BIGINT) AS sx FROM e)
       |SELECT dim_idx, count(*) AS n,
       |  round(min(x), 6) AS min_v, round(max(x), 6) AS max_v,
       |  round(CAST(sum(sx) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean_v,
       |  round((CAST(sum(sx * sx) AS DOUBLE) * CAST(count(*) AS DOUBLE)
       |         - CAST(sum(sx) AS DOUBLE) * CAST(sum(sx) AS DOUBLE))
       |        / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) / 1000000000000.0, 6) AS var_v
       |FROM s GROUP BY 1""".stripMargin
}
