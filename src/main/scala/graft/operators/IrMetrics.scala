package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IR metrics (SURVEY §2.6), replicating the reference's semantics:
  *  - Recall@K = relevant_in_topk / k, averaged ONLY over queries with
  *    ≥1 relevant result (/root/reference/src/queries.py:262-294 skips
  *    zero-relevant queries before averaging);
  *  - NDCG@K = DCG/IDCG with rel/log2(pos+1), zero-IDCG queries counted
  *    as 0 in the average (the reference's src/queries.py:296-352).
  *
  * The percentile-based statistics here (quartile banding,
  * winsorization, MAD) take their exact interpolated cuts from
  * Pcts.cuts; the latency P50/P95/P99 summary is Pcts.p50p95p99.
  */
object IrMetrics {

  /** Per-query recall@k from ranked results carrying a 0/1 `rel` column. */
  def recallPerQuery(ranked: DataFrame): DataFrame =
    ranked.groupBy("query_id")
      .agg(sum("rel").as("n_relevant"), count(lit(1)).as("k"))
      .select(col("query_id"), col("n_relevant"),
        round(col("n_relevant").cast("double") / col("k"), 6).as("recall"))

  /** Per-query NDCG@k from ranked results with 0/1 `rel` and rank `rnk`.
    * IDCG places the relevant results at the top ranks (rel desc). */
  def ndcgPerQuery(ranked: DataFrame): DataFrame = {
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("rnk").asc)
    val scored = ranked
      .withColumn("ideal_rnk", row_number().over(wIdeal))
      .groupBy("query_id")
      .agg(sum(col("rel").cast("double") / log2(col("rnk") + 1)).as("dcg"),
           sum(col("rel").cast("double") / log2(col("ideal_rnk") + 1)).as("idcg"))
    scored.select(col("query_id"),
      round(when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(0.0), 6).as("ndcg"))
  }

  /** Per-query reciprocal rank of the first relevant result (0 when the
    * top-k holds none) — the MRR building block. One map-side-combined
    * min() per query; no sort. */
  def mrrPerQuery(ranked: DataFrame): DataFrame =
    ranked.groupBy("query_id")
      .agg(min(when(col("rel") === 1, col("rnk"))).as("first_rel"))
      .select(col("query_id"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("rr"))

  /** Per-group equi-depth quartile banding: rows bucket by the exact
    * interpolated q25/q50/q75 cuts (UNROUNDED in the comparisons, so
    * band membership is bit-deterministic), then per-(group, band)
    * counts — the equi-depth histogram m5's fixed-width version
    * can't give on skewed values. */
  def quartileDepth(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val cuts = Pcts.cuts(df, Seq(groupCol), valueCol,
      Seq(0.25 -> "__c1", 0.50 -> "__c2", 0.75 -> "__c3")).drop("n")
    df.join(broadcast(cuts), groupCol)
      .withColumn("band",
        when(col(valueCol) <= col("__c1"), 0)
          .when(col(valueCol) <= col("__c2"), 1)
          .when(col(valueCol) <= col("__c3"), 2)
          .otherwise(3))
      .groupBy(groupCol, "band").agg(count(lit(1)).as("n_rows"))
  }

  /** Distributed two-sample Kolmogorov–Smirnov test: D = max over the
    * pooled support of |ECDF_a − ECDF_b|, computed as the EXACT
    * integer max |cumA·n_b − cumB·n_a| over per-value cumulative
    * counts (one double division at the end — no float ECDFs to
    * drift). The cumulative counts run through Dist.runningTotal, so
    * the ECDF is range-partitioned and parallel, never a one-task
    * window over the pooled sample. */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             groupA: String, groupB: String): DataFrame = {
    val flagged = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .select(col(valueCol).as("v"),
        when(col(groupCol) === groupA, 1).otherwise(0).as("ca"),
        when(col(groupCol) === groupB, 1).otherwise(0).as("cb"))
    val perValue = flagged.groupBy("v")
      .agg(sum("ca").as("na_v"), sum("cb").as("nb_v"))
    val c1 = graft.Dist.runningTotal(perValue, Seq(col("v").asc), "na_v")
    val c2 = graft.Dist.runningTotal(c1, Seq(col("v").asc), "nb_v")
    val tot = perValue.agg(sum("na_v").as("__na"), sum("nb_v").as("__nb"))
    c2.crossJoin(broadcast(tot))
      .agg(min("__na").as("n_a"), min("__nb").as("n_b"),
        max(abs(col("na_v_end") * col("__nb") - col("nb_v_end") * col("__na")))
          .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        round(col("d_num").cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 6).as("ks"))
  }

  /** Per-row winsorization at the exact interpolated [qLo, qHi]
    * group percentiles: values clamp to the cut points instead of
    * being dropped (the heavy-tail taming that keeps row counts —
    * and joins downstream — intact). Cut points stay UNROUNDED inside
    * the clamp so the flagged set is bit-deterministic; the emitted
    * winsorized value is rounded at output only.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                qLo: Double, qHi: Double): DataFrame = {
    val cuts = Pcts.cuts(df, Seq(groupCol), valueCol,
      Seq(qLo -> "__lo", qHi -> "__hi")).drop("n")
    df.join(broadcast(cuts), groupCol)
      .withColumn("w_value",
        round(least(greatest(col(valueCol), col("__lo")), col("__hi")), 6))
      .withColumn("is_clamped",
        when(col(valueCol) < col("__lo") || col(valueCol) > col("__hi"), 1)
          .otherwise(0))
      .drop("__lo", "__hi")
  }

  /** Per-group robust outlier statistics: exact interpolated median,
    * exact MAD (median of absolute deviations from the median), and the
    * count of values with |x − med| > 3·1.4826·mad (the
    * normal-consistency 3σ rule — MAD·1.4826 estimates σ robustly, so
    * outliers can't inflate their own threshold the way m6's
    * stddev-based z-score lets them). Two grouped passes over the
    * input; med/mad are UNROUNDED inside the threshold comparison and
    * rounded only at output, and the oracle replays the identical
    * double operation order, so the counts are bit-deterministic.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val med = Pcts.cuts(df, Seq(groupCol), valueCol, Seq(0.5 -> "med")).drop("n")
    val d = df.join(broadcast(med), groupCol)
      .withColumn("dev", abs(col(valueCol) - col("med")))
    val mad = Pcts.cuts(d, Seq(groupCol), "dev", Seq(0.5 -> "mad")).drop("n")
    d.join(broadcast(mad), groupCol)
      .groupBy(groupCol)
      .agg(min("med").as("raw_med"), min("mad").as("raw_mad"),
        sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col(groupCol), round(col("raw_med"), 6).as("med"),
        round(col("raw_mad"), 6).as("mad"), col("n_outliers"))
  }

  /** Per-query average precision AP@k = (1/R)·Σ_{rel positions p}
    * precision(p), computed with an exact-rational numerator:
    * Σ cum_p·(L div p) where L = lcm(1..k), so every term is an
    * integer and only ONE double division happens at the end — the
    * value is bit-identical in any engine regardless of the order the
    * per-position terms are summed in (a plain double Σ cum/p is not).
    * Queries with no relevant results score 0.
    */
  def apPerQuery(ranked: DataFrame, k: Int): DataFrame = {
    val l = lcmTo(k)
    val w = Window.partitionBy("query_id").orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.withColumn("cum", sum("rel").over(w))
      .groupBy("query_id")
      .agg(sum(when(col("rel") === 1, col("cum") * expr(s"$l div rnk"))).as("num"),
           sum("rel").as("r"))
      .select(col("query_id"),
        when(col("r") > 0,
          round(col("num").cast("double") / (col("r") * l).cast("double"), 6))
          .otherwise(0.0).as("ap"))
  }

  /** lcm(1..k) — the integer scale apPerQuery's numerator uses. Shared
    * with the m9 oracle text so the two engines can never silently
    * diverge if k changes. */
  def lcmTo(k: Int): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to k.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** Corpus-level averages with the reference's inclusion rules. */
  def irSummary(recall: DataFrame, ndcg: DataFrame): DataFrame = {
    val avgRecall = recall.filter(col("n_relevant") > 0)
      .agg(coalesce(round(avg("recall"), 6), lit(0.0)).as("avg_recall"))
    val avgNdcg = ndcg.agg(round(avg("ndcg"), 6).as("avg_ndcg"))
    avgRecall.crossJoin(avgNdcg)
  }
}
