package graft.queries

import graft.Tables
import graft.operators.{IrMetrics, Pcts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relevancy + IR-metric query bindings (SURVEY §2.6). The kNN under
  * m2/m3 is the v1 cosine search; ground-truth relevance is label
  * equality between query and corpus vector (the deterministic stand-in
  * for the reference's LLM relevance judgment ≥ 4,
  * /root/reference/src/queries.py:24-29).
  */
object MetricQueries {

  /** v1 kNN results annotated with 0/1 relevance. */
  def labeledKnn(s: SparkSession, d: String): DataFrame = {
    val knn = VectorQueries.v1KnnCos(s, d)
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    knn
      .join(lab.withColumnRenamed("label", "c_label"), "vec_id")
      .join(broadcast(lab.select(col("vec_id").as("query_id"), col("label").as("q_label"))),
        "query_id")
      .withColumn("rel", when(col("c_label") === col("q_label"), 1).otherwise(0))
  }

  /** CTE prefix shared by the m-query oracles: the v1 kNN + relevance. */
  private val relCtes: String = {
    s"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 8),
       |knn AS (
       |  SELECT query_id, vec_id, rnk FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk
       |    FROM (SELECT query_id, vec_id,
       |            list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS score
       |          FROM c, q)) WHERE rnk <= ${VectorQueries.K}),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |rel AS (
       |  SELECT k.query_id, k.vec_id, k.rnk,
       |    CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END AS rel
       |  FROM knn k
       |  JOIN lab cl ON k.vec_id = cl.vec_id
       |  JOIN lab ql ON k.query_id = ql.vec_id)""".stripMargin
  }

  // ---- m1_latency_pcts ------------------------------------------------

  def m1LatencyPcts(s: SparkSession, d: String): DataFrame =
    Pcts.p50p95p99(Tables.events(s, d), Seq("event_type"), "value")
      .select("event_type", "p50", "p95", "p99")

  val m1Sql: String =
    s"""WITH g AS (SELECT event_type, list_sort(list(value)) AS s, count(*) AS n
       |           FROM events WHERE value IS NOT NULL GROUP BY 1)
       |SELECT event_type,
       |  round(${Pcts.sql(0.50)}, 6) AS p50,
       |  round(${Pcts.sql(0.95)}, 6) AS p95,
       |  round(${Pcts.sql(0.99)}, 6) AS p99
       |FROM g""".stripMargin

  // ---- m11_global_pcts ------------------------------------------------

  /** EXACT global P50/P95/P99 over the whole value column — the shape
    * m4's sketch only approximates: Pcts.p50p95p99 with no group
    * columns (one global group, its running count range-partitioned),
    * unpivoted to one (pct, value) row per percentile. */
  def m11GlobalPcts(s: SparkSession, d: String): DataFrame =
    Pcts.p50p95p99(Tables.events(s, d), Nil, "value")
      .select("p50", "p95", "p99")
      .unpivot(Array.empty[Column], "pct", "value")

  val m11Sql: String =
    s"""WITH g AS (SELECT list_sort(list(value)) AS s, count(*) AS n FROM events
       |           WHERE value IS NOT NULL)
       |SELECT 'p50' AS pct, round(${Pcts.sql(0.50)}, 6) AS value FROM g
       |UNION ALL SELECT 'p95' AS pct, round(${Pcts.sql(0.95)}, 6) AS value FROM g
       |UNION ALL SELECT 'p99' AS pct, round(${Pcts.sql(0.99)}, 6) AS value FROM g""".stripMargin

  // ---- m7_mad ---------------------------------------------------------

  /** Per-event-type robust outliers: exact median, exact MAD, count of
    * |x − med| > 3·1.4826·mad. See IrMetrics.madOutliers. */
  def m7Mad(s: SparkSession, d: String): DataFrame =
    IrMetrics.madOutliers(Tables.events(s, d), "event_type", "value")

  // med/mad stay unrounded: they feed the threshold comparison
  val m7Sql: String =
    s"""WITH g AS (SELECT event_type, list_sort(list(value)) AS s, count(*) AS n
       |           FROM events WHERE value IS NOT NULL GROUP BY 1),
       |med AS (SELECT event_type, ${Pcts.sql(0.5)} AS med FROM g),
       |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev
       |      FROM events e JOIN med m USING (event_type)),
       |g2 AS (SELECT event_type, list_sort(list(dev)) AS s, count(*) AS n
       |       FROM d WHERE dev IS NOT NULL GROUP BY 1),
       |mad AS (SELECT event_type, ${Pcts.sql(0.5)} AS mad FROM g2)
       |SELECT d.event_type, round(min(me.med), 6) AS med, round(min(ma.mad), 6) AS mad,
       |  CAST(sum(CASE WHEN d.dev > 3.0 * 1.4826 * ma.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM d JOIN mad ma USING (event_type) JOIN med me USING (event_type)
       |GROUP BY d.event_type""".stripMargin

  // ---- m10_winsorize --------------------------------------------------

  /** Per-event-type winsorization at the exact [p05, p95] cuts. */
  def m10Winsorize(s: SparkSession, d: String): DataFrame =
    IrMetrics.winsorize(
      Tables.events(s, d).select("event_id", "event_type", "value"),
      "event_type", "value", 0.05, 0.95)
      .select("event_id", "event_type", "value", "w_value", "is_clamped")

  val m10Sql: String =
    s"""WITH g AS (SELECT event_type, list_sort(list(value)) AS s, count(*) AS n
       |           FROM events WHERE value IS NOT NULL GROUP BY 1),
       |cuts AS (SELECT event_type, ${Pcts.sql(0.05)} AS lo, ${Pcts.sql(0.95)} AS hi FROM g)
       |SELECT e.event_id, e.event_type, e.value,
       |  round(least(greatest(e.value, c.lo), c.hi), 6) AS w_value,
       |  CASE WHEN e.value < c.lo OR e.value > c.hi THEN 1 ELSE 0 END AS is_clamped
       |FROM events e JOIN cuts c USING (event_type)""".stripMargin

  // ---- qd1_quartile_depth ---------------------------------------------

  /** Equi-depth quartile banding of event values per type. */
  def qd1QuartileDepth(s: SparkSession, d: String): DataFrame =
    IrMetrics.quartileDepth(
      Tables.events(s, d).select("event_type", "value"), "event_type", "value")

  val qd1Sql: String =
    s"""WITH g AS (SELECT event_type, list_sort(list(value)) AS s, count(*) AS n
       |           FROM events WHERE value IS NOT NULL GROUP BY 1),
       |cuts AS (SELECT event_type, ${Pcts.sql(0.25)} AS c1, ${Pcts.sql(0.50)} AS c2,
       |                ${Pcts.sql(0.75)} AS c3 FROM g)
       |SELECT e.event_type,
       |  CASE WHEN e.value <= c.c1 THEN 0
       |       WHEN e.value <= c.c2 THEN 1
       |       WHEN e.value <= c.c3 THEN 2
       |       ELSE 3 END AS band,
       |  count(*) AS n_rows
       |FROM events e JOIN cuts c USING (event_type)
       |GROUP BY 1, 2""".stripMargin

  // ---- st2_ks_test ----------------------------------------------------

  /** Two-sample KS statistic between click and view value
    * distributions (drift detection between cohorts / data versions).
    * See IrMetrics.ksTest. */
  def st2KsTest(s: SparkSession, d: String): DataFrame =
    IrMetrics.ksTest(Tables.events(s, d), "event_type", "value",
      "click", "view")

  val st2Sql: String =
    """WITH f AS (
      |  SELECT value AS v,
      |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ca,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS cb
      |  FROM events WHERE event_type IN ('click', 'view')),
      |p AS (SELECT v, CAST(sum(ca) AS BIGINT) AS na_v,
      |        CAST(sum(cb) AS BIGINT) AS nb_v FROM f GROUP BY v),
      |c AS (SELECT v, sum(na_v) OVER (ORDER BY v) AS ca_c,
      |        sum(nb_v) OVER (ORDER BY v) AS cb_c FROM p),
      |t AS (SELECT CAST(sum(na_v) AS BIGINT) AS na,
      |        CAST(sum(nb_v) AS BIGINT) AS nb FROM p)
      |SELECT na AS n_a, nb AS n_b,
      |  CAST(max(abs(ca_c * nb - cb_c * na)) AS BIGINT) AS d_num,
      |  round(CAST(max(abs(ca_c * nb - cb_c * na)) AS DOUBLE)
      |        / CAST(na * nb AS DOUBLE), 6) AS ks
      |FROM c, t GROUP BY na, nb""".stripMargin

  // ---- m2_recall_at_k -------------------------------------------------

  def m2Recall(s: SparkSession, d: String): DataFrame =
    IrMetrics.recallPerQuery(labeledKnn(s, d))

  // NB: DuckDB sum(INTEGER) yields HUGEINT (int128); Spark emits int64.
  // The driver's typed hash distinguishes them, so every integer sum in
  // an oracle MUST be cast to BIGINT (round-1 hash failures m2/t3).
  val m2Sql: String =
    s"""WITH $relCtes
       |SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_relevant,
       |  round(sum(rel)::DOUBLE / count(*), 6) AS recall
       |FROM rel GROUP BY query_id""".stripMargin

  // ---- m3_ndcg_at_k ---------------------------------------------------

  def m3Ndcg(s: SparkSession, d: String): DataFrame =
    IrMetrics.ndcgPerQuery(labeledKnn(s, d))

  val m3Sql: String =
    s"""WITH $relCtes,
       |ideal AS (
       |  SELECT query_id, rnk, rel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rnk ASC) AS ideal_rnk
       |  FROM rel),
       |agg AS (
       |  SELECT query_id,
       |    sum(rel::DOUBLE / log2(rnk + 1)) AS dcg,
       |    sum(rel::DOUBLE / log2(ideal_rnk + 1)) AS idcg
       |  FROM ideal GROUP BY query_id)
       |SELECT query_id,
       |  round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
       |FROM agg""".stripMargin

  // ---- m8_mrr ---------------------------------------------------------

  /** Per-query reciprocal rank of the first relevant hit in the v1
    * top-k (0.0 when none) — MRR's per-query term. */
  def m8Mrr(s: SparkSession, d: String): DataFrame =
    IrMetrics.mrrPerQuery(labeledKnn(s, d))

  val m8Sql: String =
    s"""WITH $relCtes
       |SELECT query_id,
       |  round(coalesce(1.0::DOUBLE / min(CASE WHEN rel = 1 THEN rnk END),
       |                 0.0), 6) AS rr
       |FROM rel GROUP BY query_id""".stripMargin

  // ---- m9_map ---------------------------------------------------------

  /** Per-query average precision over the v1 top-k (MAP's per-query
    * term). The lcm(1..5)=60 trick keeps the numerator integral — see
    * IrMetrics.apPerQuery. */
  def m9Map(s: SparkSession, d: String): DataFrame =
    IrMetrics.apPerQuery(labeledKnn(s, d), VectorQueries.K)

  // lcm(1..K) computed ONCE and interpolated into the oracle text — a
  // hardcoded literal would silently diverge from apPerQuery if K changes
  private val m9Lcm: Long = IrMetrics.lcmTo(VectorQueries.K)

  val m9Sql: String =
    s"""WITH $relCtes,
       |cum AS (
       |  SELECT query_id, rnk, rel,
       |    sum(rel) OVER (PARTITION BY query_id ORDER BY rnk) AS cum
       |  FROM rel)
       |SELECT query_id,
       |  CASE WHEN sum(rel) > 0
       |    THEN round(CAST(sum(CASE WHEN rel = 1 THEN cum * ($m9Lcm // rnk) END) AS DOUBLE)
       |               / CAST($m9Lcm * sum(rel) AS DOUBLE), 6)
       |    ELSE 0.0 END AS ap
       |FROM cum GROUP BY query_id""".stripMargin

  // ---- m0_ir_summary --------------------------------------------------

  def m0IrSummary(s: SparkSession, d: String): DataFrame = {
    // both metrics read the same kNN result — materialize it once
    val lk = labeledKnn(s, d).cache()
    IrMetrics.irSummary(IrMetrics.recallPerQuery(lk), IrMetrics.ndcgPerQuery(lk))
  }

  val m0Sql: String =
    s"""WITH $relCtes,
       |recall AS (
       |  SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_relevant,
       |    round(sum(rel)::DOUBLE / count(*), 6) AS recall
       |  FROM rel GROUP BY query_id),
       |ideal AS (
       |  SELECT query_id, rnk, rel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rnk ASC) AS ideal_rnk
       |  FROM rel),
       |ndcg AS (
       |  SELECT query_id,
       |    round(CASE WHEN sum(rel::DOUBLE / log2(ideal_rnk + 1)) > 0
       |          THEN sum(rel::DOUBLE / log2(rnk + 1)) / sum(rel::DOUBLE / log2(ideal_rnk + 1))
       |          ELSE 0.0 END, 6) AS ndcg
       |  FROM ideal GROUP BY query_id)
       |SELECT
       |  (SELECT coalesce(round(avg(recall), 6), 0.0) FROM recall WHERE n_relevant > 0) AS avg_recall,
       |  (SELECT round(avg(ndcg), 6) FROM ndcg) AS avg_ndcg""".stripMargin

  // ---- r1_relevancy ---------------------------------------------------

  /** Deterministic 1-5 relevancy over the d2 near-dup candidate pairs:
    * score = min(5, 1 + floor(10·jaccard)); relevant iff score ≥ 4
    * (the reference's threshold, queries.py:29). */
  def r1Relevancy(s: SparkSession, d: String): DataFrame =
    r1FromPairs(CorpusQueries.d2NgramJaccard(s, d))

  /** r1's scoring over a precomputed d2 pair table — the share point
    * for r3, which otherwise runs the full d2 pipeline once per arm. */
  private def r1FromPairs(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("relevancy_score",
        least(lit(5L), lit(1L) + floor(col("jaccard") * 10)))
      .withColumn("is_relevant",
        when(col("relevancy_score") >= 4, 1).otherwise(0))
      .select("id_a", "id_b", "relevancy_score", "is_relevant")

  val r1Sql: String =
    s"""WITH pairs AS (${CorpusQueries.d2Sql})
       |SELECT id_a, id_b,
       |  least(5, 1 + CAST(floor(jaccard * 10) AS BIGINT)) AS relevancy_score,
       |  CASE WHEN least(5, 1 + CAST(floor(jaccard * 10) AS BIGINT)) >= 4 THEN 1 ELSE 0 END AS is_relevant
       |FROM pairs""".stripMargin

  // ---- r2_relevancy_judge ---------------------------------------------

  /** The BATCHED-JUDGE relevancy path (queries.py:160-240): the d2
    * candidate pairs joined back to their texts and scored through the
    * pluggable Relevancy.scorePairs seam — per-partition judge init,
    * size-32 request batches, the exact shape an Ollama/LLM endpoint
    * is driven with; here the default deterministic JaccardScorer (so
    * DuckDB can replicate it) — a real deployment swaps ONLY the
    * factory. Distinct-token jaccard banded to 1-5 with all-integer
    * arithmetic: score = min(5, 1 + (10·|∩|) div |∪|). */
  def r2RelevancyJudge(s: SparkSession, d: String): DataFrame =
    r2FromPairs(s, d, CorpusQueries.d2NgramJaccard(s, d))

  /** r2's judge over a precomputed d2 pair table (share point for r3). */
  private def r2FromPairs(s: SparkSession, d: String,
                          idPairs: DataFrame): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val pairs = idPairs.select("id_a", "id_b")
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .select("id_a", "id_b", "text_a", "text_b")
      .as[graft.operators.Relevancy.PairRow]
    graft.operators.Relevancy.scorePairs(pairs).toDF()
  }

  /** r3_relevancy_ensemble — the two relevancy scorers side by side
    * (r1's jaccard scale, r2's pluggable judge) with exact-agreement
    * and AND-consensus flags per pair: the ensemble step the
    * reference's relevancy loop converges to once more than one judge
    * exists (queries.py:160-240's 1-5 scale), and the disagreement
    * surface a human reviews. Integer scores; mean is one division. */
  def r3RelevancyEnsemble(s: SparkSession, d: String): DataFrame = {
    // ONE d2 run feeds both arms: the pair table is queries-output-
    // sized (tiny next to the corpus), so checkpointing it replaces a
    // second full tokenize→shingle→self-join pipeline with a re-read
    val pairs = CorpusQueries.d2NgramJaccard(s, d).localCheckpoint()
    val a = r1FromPairs(pairs)
      .select(col("id_a"), col("id_b"), col("relevancy_score").as("score_jac"))
    val b = r2FromPairs(s, d, pairs)
      .select(col("id_a"), col("id_b"), col("relevancy_score").as("score_judge"))
    a.join(b, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("score_jac"), col("score_judge"),
        round((col("score_jac") + col("score_judge")).cast("double") / 2.0, 1)
          .as("mean_score"),
        (col("score_jac") === col("score_judge")).cast("long").as("exact_agree"),
        (col("score_jac") >= 4 && col("score_judge") >= 4).cast("long")
          .as("consensus_relevant"))
  }

  lazy val r3Sql: String =
    s"""WITH ra AS ($r1Sql),
       |rb AS ($r2Sql)
       |SELECT ra.id_a, ra.id_b,
       |  ra.relevancy_score AS score_jac, rb.relevancy_score AS score_judge,
       |  round(CAST(ra.relevancy_score + rb.relevancy_score AS DOUBLE) / 2.0, 1)
       |    AS mean_score,
       |  CASE WHEN ra.relevancy_score = rb.relevancy_score THEN 1 ELSE 0 END
       |    AS exact_agree,
       |  CASE WHEN ra.relevancy_score >= 4 AND rb.relevancy_score >= 4
       |       THEN 1 ELSE 0 END AS consensus_relevant
       |FROM ra JOIN rb ON ra.id_a = rb.id_a AND ra.id_b = rb.id_b""".stripMargin

  val r2Sql: String =
    s"""WITH pairs AS (SELECT id_a, id_b FROM (${CorpusQueries.d2Sql})),
       |tk AS (SELECT DISTINCT doc_id, tok FROM (
       |         SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |         FROM documents) WHERE tok <> ''),
       |n AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY 1),
       |i AS (SELECT p.id_a, p.id_b, count(*) AS i
       |      FROM pairs p
       |      JOIN tk a ON a.doc_id = p.id_a
       |      JOIN tk b ON b.doc_id = p.id_b AND b.tok = a.tok
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b, relevancy_score,
       |  CASE WHEN relevancy_score >= 4 THEN 1 ELSE 0 END AS is_relevant
       |FROM (
       |  SELECT p.id_a, p.id_b,
       |    least(5, 1 + (10 * coalesce(i.i, 0))
       |                 // (na.n + nb.n - coalesce(i.i, 0))) AS relevancy_score
       |  FROM pairs p
       |  JOIN n na ON na.doc_id = p.id_a
       |  JOIN n nb ON nb.doc_id = p.id_b
       |  LEFT JOIN i ON i.id_a = p.id_a AND i.id_b = p.id_b)""".stripMargin
}
