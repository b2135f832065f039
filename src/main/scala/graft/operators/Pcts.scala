package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one exact percentile: numpy-style linear interpolation on the
  * sorted values (the reference's src/metrics.py:13-42, the
  * numpy.percentile default), in Spark and in the DuckDB oracle text.
  *
  * One algorithm, never sorting rows: the distribution collapses to a
  * VALUE HISTOGRAM (groups, value, count) — cardinality = distinct
  * values, not rows — a running count over it places every rank, and
  * one conditional aggregate per group picks the values at the ranks
  * each quantile needs. Any numeric value column works.
  *
  * Null values are ignored: they form no histogram bucket and `n`
  * counts only non-null values.
  *
  * No group columns means one global group. Its running count goes
  * through Dist.runningTotal — the range-partitioned prefix scan —
  * because a window with no partition key drags the whole value
  * histogram through one task (millions of distinct ms durations at
  * scale). The prefix sums are exact integers over the same total
  * order, so both forms give identical ranks.
  *
  * The interpolation is bit-identical to the oracle's: pos =
  * (n − 1)·q in double, frac = pos − floor(pos), and the value is
  * v_lo when frac = 0, else v_lo + (v_hi − v_lo)·frac with the
  * subtraction in the column's own type.
  */
object Pcts {
  val Quantiles: Seq[(Double, String)] =
    Seq(0.50 -> "p50", 0.95 -> "p95", 0.99 -> "p99")

  /** Unrounded cut values: one row per group with the group columns,
    * one double column per `(quantile, name)` pair, then `n`. The
    * cuts stay unrounded so comparisons against them (banding,
    * clamping, thresholds) are bit-deterministic. */
  def cuts(df: DataFrame, groups: Seq[String], valueCol: String,
           qs: Seq[(Double, String)]): DataFrame = {
    val gs = groups.map(col)
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(gs :+ col(valueCol).as("__v"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val cum =
      if (groups.isEmpty) {
        val c = graft.Dist.runningTotal(hist, Seq(col("__v").asc), "__cnt")
          .withColumnRenamed("__cnt_end", "__cum")
        c.crossJoin(broadcast(c.agg(max("__cum").as("__n"))))
      } else {
        val w = Window.partitionBy(gs: _*).orderBy(col("__v").asc)
        hist
          .withColumn("__cum", sum("__cnt")
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("__n", sum("__cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      }
    def pos(n: Column, q: Double): Column = (n - 1).cast("double") * q
    // the value at 1-based rank r, read from the one bucket holding it
    def at(r: Column): Column = max(when(
      col("__cum") - col("__cnt") < r && r <= col("__cum"), col("__v")))
    val picked = cum.groupBy(gs: _*).agg(
      // an empty global input still gives its one row: n = 0, null
      // cuts, as the oracle's count(*) over an empty list
      coalesce(max("__n"), lit(0L)).as("n"),
      qs.zipWithIndex.flatMap { case ((q, _), i) =>
        val lo = floor(pos(col("__n"), q))
        Seq(at(lo + 1).as(s"__lo$i"), at(lo + 2).as(s"__hi$i"))
      }: _*)
    picked.select(gs ++ qs.zipWithIndex.map { case ((q, nm), i) =>
      val frac = pos(col("n"), q) - floor(pos(col("n"), q)).cast("double")
      val (lo, hi) = (col(s"__lo$i"), col(s"__hi$i"))
      when(frac === 0.0, lo).otherwise(lo + (hi - lo) * frac).as(nm)
    } :+ col("n"): _*)
  }

  /** P50/P95/P99 rounded to 6 dp: groups, p50, p95, p99, n. */
  def p50p95p99(df: DataFrame, groups: Seq[String],
                valueCol: String): DataFrame =
    cuts(df, groups, valueCol, Quantiles).select(groups.map(col) ++
      Quantiles.map { case (_, nm) => round(col(nm), 6).as(nm) } :+
      col("n"): _*)

  /** The oracle's unrounded interpolation at quantile `q` over a
    * sorted DuckDB list `s` of `n` values — the same op order as
    * `cuts`. Callers round it where their Spark side rounds. */
  def sql(q: Double): String =
    s"""CASE WHEN (n - 1)::DOUBLE * $q - floor((n - 1)::DOUBLE * $q) = 0.0
       |  THEN CAST(s[CAST(floor((n - 1)::DOUBLE * $q) AS INT) + 1] AS DOUBLE)
       |  ELSE s[CAST(floor((n - 1)::DOUBLE * $q) AS INT) + 1]
       |     + (s[CAST(floor((n - 1)::DOUBLE * $q) AS INT) + 2]
       |        - s[CAST(floor((n - 1)::DOUBLE * $q) AS INT) + 1])
       |       * ((n - 1)::DOUBLE * $q - floor((n - 1)::DOUBLE * $q))
       |  END""".stripMargin
}
