package graft.queries

import graft.Tables
import graft.operators.Pcts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational / OLAP core (SURVEY §2.7 + §2.1 e1).
  *
  * Conventions shared with the DuckDB oracle (SURVEY §6):
  *  - every computed column is aliased identically in both engines;
  *  - floating aggregates are rounded (2-4 dp) in both, so last-ulp
  *    differences from partial-aggregation order can't flip the hash;
  *  - dimension tables are broadcast explicitly (tiny at every scale);
  *    fact-fact joins shuffle on the key once and rely on AQE for skew.
  */
object Relational {

  /** q1_pricing — TPC-H Q1 shape: multi-key grouped aggregation over the
    * fact table with a pushed-down timestamp filter. Map-side partial agg
    * reduces 6 rows out of every partition regardless of input size.
    *
    * The money sums accumulate fixed-point cents in a decimal, not
    * float64: at sf10 a per-group sum reaches ~4.6e11 over 8.7M rows,
    * where double addition is order-dependent by more than the 2-dp
    * rounding (measured ±0.07 Spark vs DuckDB), so a float sum makes the
    * result plan- and partitioning-dependent. l_extendedprice and
    * l_discount are exact 2-dp values; scaling to integers makes the
    * aggregation exactly associative in both engines at any scale.
    */
  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame = {
    val cents    = round(col("l_extendedprice") * 100, 0).cast("decimal(18,0)")
    val discPct  = round(col("l_discount") * 100, 0).cast("decimal(18,0)")
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(cents).cast("double") / 100.0, 2).as("sum_base_price"),
        round(sum(cents * (lit(100).cast("decimal(18,0)") - discPct)).cast("double") / 10000.0, 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::DOUBLE / 100.0, 2) AS sum_base_price,
      |  round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |            * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))::DOUBLE / 10000.0, 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** q2_filter_agg — TPC-H Q6 shape: highly selective scan-filter-agg.
    * The three predicates and the 2-column projection must reach the
    * parquet reader (PushedFilters / ReadSchema) — at 100 TB this query
    * is pure scan bandwidth.
    */
  def q2FilterAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.08) &&
        col("l_quantity") < 25)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_items"))

  val q2Sql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.08
      |  AND l_quantity < 25""".stripMargin

  /** q3_join5 — 5-way star join: fact shuffles once per fact-fact edge;
    * nation/region are broadcast (constant-size at any scale factor).
    */
  def q3Join5(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o  = Tables.orders(spark, sfDir)
    val c  = Tables.customer(spark, sfDir)
    val n  = broadcast(Tables.nation(spark, sfDir))
    val r  = broadcast(Tables.region(spark, sfDir))
    // exact cents accumulation (q1's sf10 lesson, caught for q3 by the
    // sf30 rung): revenue per (region, nation) sums ~7M doubles at
    // sf30, where float addition is order-dependent past the 2-dp
    // rounding — the decimal sum is exactly associative in both engines
    val cents   = round(col("l_extendedprice") * 100, 0).cast("decimal(18,0)")
    val discPct = round(col("l_discount") * 100, 0).cast("decimal(18,0)")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum(cents * (lit(100).cast("decimal(18,0)") - discPct))
          .cast("double") / 10000.0, 2).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  val q3Sql: String =
    """SELECT r_name, n_name,
      |  round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |            * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))::DOUBLE / 10000.0, 2) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** q4_exists — semi-join: orders having at least one returned line.
    * left_semi never duplicates or widens rows — the shuffle carries
    * only the order key.
    */
  def q4Exists(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val returned = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority""".stripMargin

  /** q5_window — rank per partition: one shuffle on o_custkey, then a
    * sort within partitions; ties broken on o_orderkey for determinism.
    */
  def q5Window(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
  }

  val q5Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders) WHERE rnk <= 3""".stripMargin

  /** q6_rollup — hierarchical aggregate; Spark expands grouping sets in
    * a single shuffle pass. */
  def q6Rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total_price"))

  val q6Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** q7_topk_per_group — top-3 users by spend per event type. Pre-agg
    * (user, type) first so the window sorts grouped rows, not raw events.
    */
  def q7TopkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(spark, sfDir)
      .groupBy("event_type", "user_id")
      .agg(round(sum("value"), 2).as("total_value"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("total_value").desc, col("user_id").asc)
    perUser.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  val q7Sql: String =
    """SELECT event_type, user_id, total_value, rnk FROM (
      |  SELECT event_type, user_id, total_value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY total_value DESC, user_id ASC) AS rnk
      |  FROM (
      |    SELECT event_type, user_id, round(sum(value), 2) AS total_value
      |    FROM events GROUP BY event_type, user_id))
      |WHERE rnk <= 3""".stripMargin

  /** q8_topk_native — q7's semantics executed by the custom TopKPerKey
    * physical operator (partial per-partition heaps + bounded shuffle +
    * merge, graft.plans) instead of a full window sort. Same oracle SQL
    * as q7 — the DuckDB gate proves operator equivalence.
    */
  def q8TopkNative(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy("event_type", "user_id")
      .agg(round(sum("value"), 2).as("total_value"))
    graft.plans.TopK.perKey(perUser, Seq("event_type"),
      Seq(col("total_value").desc, col("user_id").asc), 3)
  }

  /** q9_running_total — cumulative windowed aggregate: running order
    * spend per customer in date order. */
  def q9RunningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum("o_totalprice").over(w), 2).as("running_spend"))
  }

  val q9Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS UNBOUNDED PRECEDING), 2) AS running_spend
      |FROM orders""".stripMargin

  /** j1_json_extract — schema-on-read JSON: pull `k` out of the props
    * payload and aggregate on it. The scan is spread BEFORE the parse:
    * the sf tables are single-file/single-split, so without it every
    * get_json_object call serializes onto one task (17 s at sf0.1 in
    * round 1); a real deployment's multi-split scans parallelize this
    * for free, and `Dist.spread` is the local stand-in (SURVEY §5). */
  def j1JsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    graft.Dist.spread(Tables.events(spark, sfDir).select("props", "value"))
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  val j1Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1""".stripMargin

  // ---- js2_typed_json -------------------------------------------------

  /** js2_typed_json — schema-on-read TYPED JSON parsing (j1 is the
    * per-path string extraction; this is the production variant): ONE
    * from_json with an explicit schema parses the whole document into
    * a struct — no schema inference job at 100 TB, malformed rows
    * surface as a NULL struct instead of killing the pipeline (counted
    * here as the data-quality signal). Decile stats over the typed
    * field; parse once, never re-extract per path. */
  def js2TypedJson(spark: SparkSession, sfDir: String): DataFrame =
    graft.Dist.spread(Tables.events(spark, sfDir).select("props"))
      .select(from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("p"))
      // PERMISSIVE mode surfaces malformed input as a null STRUCT or a
      // struct of null fields depending on the failure — the contract
      // check is the extracted field itself
      .select(col("p.k").as("k"), col("p.k").isNull.cast("long").as("bad"))
      .groupBy((col("k") % 10).as("k_decile"))
      .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"),
        sum("bad").as("n_malformed"))

  val js2Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_decile,
      |  count(*) AS n,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  CAST(sum(CASE WHEN props IS NULL OR json_valid(props) = false
      |                OR json_extract_string(props, '$.k') IS NULL
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed
      |FROM events GROUP BY 1""".stripMargin

  // ---- ta1_typed_aggregator -------------------------------------------

  /** ta1_typed_aggregator — revenue per order priority through a
    * custom TYPED `Aggregator` (graft.operators.TypedAggs.revenueAgg),
    * the Dataset-native custom-aggregate API (the third typed surface
    * beside flatMapGroups/e2 and cogroup/cg1): integer-cents buffer so
    * partial merges commute under any scheduling, one terminal
    * division in finish(). Same single-shuffle plan as the untyped
    * groupBy — the typed API costs nothing. */
  def ta1TypedAggregator(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .agg(graft.operators.TypedAggs.revenueAgg[(String, Long)](_._2)
        .toColumn.name("rev"))
      .select(col("key").as("priority"),
        round(col("rev._1"), 2).as("revenue"), col("rev._2").as("n_orders"))
  }

  val ta1Sql: String =
    """SELECT o_orderpriority AS priority,
      |  round(CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS DOUBLE)
      |        / 100.0, 2) AS revenue,
      |  count(*) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin

  /** o1_anti_join — customers who never placed an urgent order
    * (NOT EXISTS with a pushed-down predicate on the anti side). */
  def o1AntiJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")

  val o1Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  /** q10_distinct — exact distinct aggregation: users and days active
    * per event type. */
  def q10Distinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"))

  val q10Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT CAST(ts AS DATE)) AS n_days
      |FROM events GROUP BY event_type""".stripMargin

  /** p1_pivot — event counts pivoted to one column per type, per user
    * bucket; oracle uses the equivalent conditional aggregation. */
  val PivotTypes = Seq("click", "view", "purchase", "signup", "error")

  def p1Pivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("user_bucket", col("user_id") % 10)
      .groupBy("user_bucket")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L)

  val p1Sql: String = {
    val cols = PivotTypes.map(t =>
      s"""count(*) FILTER (WHERE event_type = '$t') AS "$t"""").mkString(",\n  ")
    s"""SELECT user_id % 10 AS user_bucket,
       |  $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  /** b1_range_join — interval (theta) join turned into an equi-join:
    * each size band is exploded to its discrete member keys, so parts
    * hash-join on p_size instead of nested-looping over BETWEEN
    * predicates. Works whenever the banded domain is small-discrete;
    * the oracle states the same semantics as a BETWEEN join.
    */
  val SizeBands: Seq[(String, Int, Int)] = Seq(
    ("tiny", 1, 10), ("small", 11, 25), ("medium", 26, 40), ("large", 41, 50))

  def b1RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = SizeBands.toDF("band", "lo", "hi")
      .withColumn("p_size", explode(sequence(col("lo"), col("hi"))))
      .select("band", "p_size")
    Tables.part(spark, sfDir)
      .join(broadcast(bands), "p_size")
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"),
        round(sum("p_retailprice"), 2).as("sum_price"))
  }

  val b1Sql: String = {
    val bandRows = SizeBands.map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")
    s"""WITH bands(band, lo, hi) AS (VALUES $bandRows)
       |SELECT band, count(*) AS n_parts, round(sum(p_retailprice), 2) AS sum_price
       |FROM part JOIN bands ON p_size BETWEEN lo AND hi
       |GROUP BY band""".stripMargin
  }

  /** c1_cube — full grouping-sets cube over two dimensions. */
  def c1Cube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))

  val c1Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** q11_above_avg — correlated scalar comparison: orders above their
    * customer's average order value (decorrelated via a window). The
    * average stays OUT of the output: avg over a 2-element group
    * terminates on a half-cent where Spark's and the oracle's rounding
    * modes legitimately disagree; the >-filter itself is stable (exact
    * ties only arise from identical-price groups, where both engines
    * compute the identical average).
    */
  def q11AboveAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
    Tables.orders(spark, sfDir)
      .withColumn("cust_avg", avg("o_totalprice").over(w))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  val q11Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
      |        avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
      |      FROM orders)
      |WHERE o_totalprice > cust_avg""".stripMargin

  /** u2_set_ops — INTERSECT/EXCEPT: customers active in both halves of
    * the order horizon, minus any with an open order. */
  def u2SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val firstHalf = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_custkey")
    val secondHalf = o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select("o_custkey")
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    firstHalf.intersect(secondHalf).except(open)
      .select(col("o_custkey").as("custkey"))
  }

  val u2Sql: String =
    """SELECT o_custkey AS custkey FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin

  /** The raw 100 TB percentile path: approx_percentile (t-digest-style
    * sketch, mergeable map-side) instead of the exact sort+interpolate
    * in m1. Production callers use THIS; sketch values are
    * engine-specific, so the gate entry below attests the bound
    * instead of hashing them. */
  def m4ApproxRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(round(expr("approx_percentile(value, 0.5, 10000)"), 6).as("p50"),
           round(expr("approx_percentile(value, 0.95, 10000)"), 6).as("p95"),
           round(expr("approx_percentile(value, 0.99, 10000)"), 6).as("p99"))

  /** m4_approx_pcts — gate entry: the sketch percentiles joined against
    * exact per-group order statistics, emitting the pinned-convention
    * EXACT percentile values (oracle-hash-checked numbers, not just
    * flags) plus RANK-bracket attestation flags. The sketch's actual
    * contract is a rank bound (±n/accuracy ranks), not a value bound —
    * tail quantiles of a spread-out distribution can differ >5% in
    * VALUE between adjacent ranks, so a value-relative check would
    * flake on exactly the data shapes sketches exist for. The flag
    * asserts approx ∈ [orderstat(pos−slack), orderstat(pos+slack)]
    * with slack = 1 rank (interpolation/convention) + n·ε (sketch);
    * exact_pXX is orderstat(floor(pos)+1) — the LOWER order statistic,
    * a convention both engines compute without interpolation
    * arithmetic, so the r11-ADVICE gap (an oracle that cross-checked
    * nothing numeric) is closed with a value DuckDB independently
    * derives. Order statistics come from a per-group rank window
    * joined to the ≤9 target ranks per group — no collect_list of the
    * group (the r11 entry materialized every group's full value set
    * into one row: an OOM hazard above sf10). The oracle expects every
    * flag = 1 → a sketch past its rank bound is a HASH failure in the
    * driver gate. (The exact arm is the verification harness; at
    * 100 TB you run m4ApproxRaw alone — Bench measures that path via
    * SparkEntry.benchQueries.) */
  def m4ApproxPcts(spark: SparkSession, sfDir: String): DataFrame = {
    // NULL values are excluded on BOTH sides (r12 ADVICE): Spark's asc
    // window sorts NULLs first while DuckDB defaults NULLS LAST, so a
    // single NULL event value would shift every rank cross-engine.
    // approx_percentile skips NULLs anyway, so the filter also keeps
    // the exact-arm ranks aligned with what the sketch measured.
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val qs = Seq("50" -> 0.50, "95" -> 0.95, "99" -> 0.99)
    // per-group target ranks (1-based): bracket [lo, hi] and the exact
    // lower order statistic ex, all doubles-deterministic in both
    // engines (pos/slack arithmetic is IEEE double in DuckDB too — the
    // oracle casts its literals to DOUBLE so DECIMAL exactness can't
    // shift a floor)
    val targets = counts.select(col("event_type") +: qs.flatMap { case (t, q) =>
      val pos = (col("n") - 1) * lit(q)
      val slack = lit(1.0) + col("n") / lit(10000.0) // convention + eps*n
      Seq(greatest(lit(1L), (floor(pos - slack) + 1).cast("long")).as(s"lo$t"),
        least(col("n"), (ceil(pos + slack) + 1).cast("long")).as(s"hi$t"),
        (floor(pos) + 1).cast("long").as(s"ex$t"))
    }: _*)
    val kinds = qs.flatMap { case (t, _) => Seq(s"lo$t", s"hi$t", s"ex$t") }
    val want = targets.select(col("event_type"), explode(array(kinds.map(k =>
      struct(lit(k).as("kind"), col(k).as("rn"))): _*)).as("w"))
      .select(col("event_type"), col("w.kind").as("kind"), col("w.rn").as("rn"))
    val ranked = ev.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value").asc)))
    // ties rank arbitrarily but the VALUE at a given rank is invariant
    // under any tie order — the only thing read downstream
    val vals = ranked.join(broadcast(want), Seq("event_type", "rn"))
      .groupBy("event_type")
      .agg(kinds.map(k => max(when(col("kind") === k, col("value"))).as(s"v_$k"))
        .head, kinds.tail.map(k =>
        max(when(col("kind") === k, col("value"))).as(s"v_$k")): _*)
    def ok(t: String) = when(col(s"p$t").between(
      col(s"v_lo$t") - lit(1e-6), col(s"v_hi$t") + lit(1e-6)), 1).otherwise(0)
    m4ApproxRaw(spark, sfDir).join(vals, "event_type")
      .select(col("event_type"),
        col("v_ex50").as("exact_p50"), col("v_ex95").as("exact_p95"),
        col("v_ex99").as("exact_p99"),
        ok("50").as("ok_p50"), ok("95").as("ok_p95"), ok("99").as("ok_p99"))
  }

  val m4Sql: String =
    """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |n AS (SELECT event_type, count(*) AS n FROM ev GROUP BY 1),
      |r AS (SELECT event_type, value,
      |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
      |      FROM ev)
      |SELECT n.event_type,
      |  max(CASE WHEN r.rn = CAST(floor((n.n - 1) * CAST(0.50 AS DOUBLE)) + 1 AS BIGINT)
      |      THEN r.value END) AS exact_p50,
      |  max(CASE WHEN r.rn = CAST(floor((n.n - 1) * CAST(0.95 AS DOUBLE)) + 1 AS BIGINT)
      |      THEN r.value END) AS exact_p95,
      |  max(CASE WHEN r.rn = CAST(floor((n.n - 1) * CAST(0.99 AS DOUBLE)) + 1 AS BIGINT)
      |      THEN r.value END) AS exact_p99,
      |  1 AS ok_p50, 1 AS ok_p95, 1 AS ok_p99
      |FROM n JOIN r USING (event_type) GROUP BY 1""".stripMargin

  /** a1_asof — as-of join: each purchase event matched to the user's
    * latest click at or before it (graft.operators.AsOfJoin, the linear
    * union-carry-forward shape). Oracle: DuckDB's native ASOF JOIN.
    */
  def a1Asof(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(max("event_id").as("click_id"))
      .select("user_id", "cts", "click_id")
    graft.operators.AsOfJoin
      .leftAsOf(purchases, clicks, "user_id", "ts", "cts", Seq("click_id"))
      .filter(col("click_id").isNotNull)
      .select("event_id", "user_id", "ts", "click_id")
  }

  val a1Sql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts, max(event_id) AS click_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts, c.click_id
      |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts""".stripMargin

  /** a2_asof_forward — FORWARD as-of join: each purchase matched to the
    * user's EARLIEST click at-or-after it ("next action after
    * purchase" — the post-conversion behavior question). Same linear
    * union-carry plan as a1 scanned in descending time; one shuffle.
    * Oracle uses the portable row_number formulation (not DuckDB's
    * ASOF, whose inequality-direction support varies by version). */
  def a2AsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(max("event_id").as("click_id"))
      .select("user_id", "cts", "click_id")
    graft.operators.AsOfJoin
      .leftAsOf(purchases, clicks, "user_id", "ts", "cts", Seq("click_id"),
        forward = true)
      .filter(col("click_id").isNotNull)
      .select("event_id", "user_id", "ts", "click_id")
  }

  val a2Sql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts, max(event_id) AS click_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT event_id, user_id, ts, click_id FROM (
      |  SELECT p.event_id, p.user_id, p.ts, c.click_id,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY c.cts ASC) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id AND c.cts >= p.ts)
      |WHERE rn = 1""".stripMargin

  /** a3_asof_tolerance — as-of join with a MAX-GAP tolerance: the
    * latest click at-or-before each purchase counts only if it is
    * within 10 minutes; an older one means NO match (not next-best) —
    * the standard sensor/attribution semantics where a stale reading
    * is worse than none. Same linear union-carry plan as a1 (the right
    * ts rides along as a carried column); the tolerance is a post-pass
    * filter on exact integer epoch-ms deltas, so no extra join and no
    * float time arithmetic. */
  def a3AsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(max("event_id").as("click_id"))
      .select(col("user_id"), col("cts"), col("click_id"),
        col("cts").as("click_ts"))
    graft.operators.AsOfJoin
      .leftAsOf(purchases, clicks, "user_id", "ts", "cts",
        Seq("click_id", "click_ts"))
      .filter(col("click_ts").isNotNull)
      .withColumn("gap_ms", unix_millis(col("ts")) - unix_millis(col("click_ts")))
      .filter(col("gap_ms") <= 600000L)
      .select("event_id", "user_id", "ts", "click_id", "gap_ms")
  }

  val a3Sql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts, max(event_id) AS click_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT event_id, user_id, ts, click_id, gap_ms FROM (
      |  SELECT p.event_id, p.user_id, p.ts, c.click_id,
      |    epoch_ms(p.ts) - epoch_ms(c.cts) AS gap_ms
      |  FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts)
      |WHERE gap_ms <= 600000""".stripMargin

  /** sk1_skew_profile — key-skew diagnostics for shuffle planning (the
    * report that tells you WHICH keys need q13's salting or an AQE
    * skew split): per-key event counts → global top-10 hottest keys
    * via the custom TopK operator (bounded heaps, no global sort),
    * each with its share of all rows and its multiple of the average
    * key load. One aggregation + a TopK; the totals are one extra
    * scalar aggregate, broadcast-joined back. */
  def sk1SkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val totals = cnt.agg(sum("n_events").as("total"),
      count(lit(1)).as("n_keys"))
    graft.plans.TopK.perKey(cnt, Seq(),
        Seq(col("n_events").desc, col("user_id").asc), 10, "rank")
      .crossJoin(broadcast(totals))
      .select(col("rank"), col("user_id"), col("n_events"),
        round(col("n_events").cast("double") / col("total"), 6).as("share"),
        round(col("n_events").cast("double") * col("n_keys") / col("total"), 4)
          .as("x_avg"))
  }

  val sk1Sql: String =
    """WITH cnt AS (SELECT user_id, count(*) AS n_events
      |             FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total,
      |             count(*) AS n_keys FROM cnt)
      |SELECT rank, user_id, n_events,
      |  round(n_events::DOUBLE / total, 6) AS share,
      |  round(n_events::DOUBLE * n_keys / total, 4) AS x_avg
      |FROM (SELECT user_id, n_events,
      |        row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS rank
      |      FROM cnt), t
      |WHERE rank <= 10""".stripMargin

  /** e3_attribution — the stream-stream interval join
    * (EventStream.purchaseAttribution) run in BATCH mode: purchases
    * joined to the same user's clicks in the preceding 30 minutes.
    * Identical transform object as the streaming path, so the driver's
    * oracle now covers the join semantics the streaming spec exercises. */
  val AttributionWindowSec = 1800L

  def e3Attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    graft.streaming.EventStream.purchaseAttribution(
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts"),
      AttributionWindowSec)
  }

  val e3Sql: String =
    s"""SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_id, c.ts AS click_ts
       |FROM events p JOIN events c ON p.user_id = c.user_id
       |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
       |  AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND ${AttributionWindowSec}000000""".stripMargin

  /** pw1_partitioned_write — partitionBy parquet sink + partition-pruned
    * read-back, surfaced as a driver-checkable aggregate: the round trip
    * must reproduce the direct aggregation exactly. */
  def pw1PartitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pw1_" +
      graft.Dist.pathTag(sfDir)
    Tables.events(spark, sfDir).select("event_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    spark.read.parquet(dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  val pw1Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events WHERE event_type IN ('click', 'purchase')
      |GROUP BY 1""".stripMargin

  /** The raw HyperLogLog++ distinct counts per group (the 100 TB path
    * for q10's exact multi-distinct: one pass, fixed-size sketch
    * state, no distinct shuffle). Production path; estimates are
    * engine-specific so the gate entry attests the bound. */
  def q12ApproxRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))

  /** q12_approx_distinct — gate entry: HLL++ estimates joined against
    * the exact multi-distinct twin; emits the exact counts (cross-
    * engine hash-checkable) plus within-8% attestation flags. A sketch
    * past the bound flips a flag and fails the driver's hash compare —
    * the error bound is gate-enforced, not just spec-enforced. The
    * bound is 4σ of the configured rsd=0.02 (r11 ADVICE: the previous
    * 5% was only 2.5σ — a legitimate HLL++ estimate on an unlucky
    * cardinality could present as a hard hash FAIL); the test spec
    * keeps the tighter 5% check as the advisory layer on the known
    * fixtures. */
  def q12ApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(count_distinct(col("l_orderkey")).as("exact_orders"),
        count_distinct(col("l_partkey")).as("exact_parts"))
    def ok(a: String, e: String) =
      when(abs(col(a) - col(e)) <= lit(0.08) * col(e), 1).otherwise(0)
    q12ApproxRaw(spark, sfDir).join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        ok("approx_orders", "exact_orders").as("orders_ok"),
        ok("approx_parts", "exact_parts").as("parts_ok"))
  }

  val q12Sql: String =
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  1 AS orders_ok, 1 AS parts_ok
      |FROM lineitem GROUP BY 1""".stripMargin

  /** pw2_temporal_write — DATE-partitioned parquet layout + range-pruned
    * read-back: the standard 100 TB event-table layout (partition by
    * day; time-range queries read only matching partitions). The
    * round trip must reproduce the direct aggregation exactly. */
  def pw2TemporalWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pw2_" +
      graft.Dist.pathTag(sfDir)
    Tables.events(spark, sfDir).select(col("ts"), col("event_type"), col("value"))
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    spark.read.parquet(dir)
      .filter(col("day").between(lit("2024-01-10"), lit("2024-01-12")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  val pw2Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
      |GROUP BY 1""".stripMargin

  /** m5_histogram — fixed-width value histogram per group: exact
    * integer bucketing (floor(value/width)), the building block for
    * distribution dashboards at scale (one map-side-combined shuffle,
    * versus percentile sketches when quantiles are needed — m4). */
  def m5Histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        floor(col("value") / 10.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))

  val m5Sql: String =
    """SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** e1_events_window — tumbling 1-hour event-time window (batch parity
    * of the streaming path in graft.streaming.EventStream). */
  def e1EventsWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum("value"), 2).as("sum_value"))

  val e1Sql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n_events,
      |  round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** e5_sliding_window — 10-minute windows sliding every 5 (each event
    * in exactly two windows): the batch parity of the streaming
    * sliding-window aggregation, via Spark's native window() —
    * map-side the event is duplicated into its window assignments, so
    * the shuffle carries (window, type) partials, never raw events
    * twice. The oracle replays the same window algebra with integer
    * epoch-ms floor arithmetic. */
  def e5SlidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.slidingAgg(
      Tables.events(spark, sfDir).select("ts", "event_type", "value"))

  val e5Sql: String =
    """WITH x AS (
      |  SELECT event_type, value,
      |    make_timestamp((CAST(floor(epoch_ms(ts) / 300000) AS BIGINT) * 300000
      |                    - 300000 * k.k) * 1000) AS window_start
      |  FROM events, (SELECT unnest([0, 1]) AS k) k)
      |SELECT window_start, event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY 1, 2""".stripMargin

  /** bf1_backfill — the AvailableNow backfill pattern as a DRIVER-
    * CHECKED row (the streaming specs prove termination; this proves
    * the VALUES): the STREAMING hourly aggregation — the exact
    * transform a live tail runs, watermark and all — pointed at a
    * parquet backlog of historical events, drained by
    * Trigger.AvailableNow into a sink table that is the result. One
    * code path for backfill and live tailing; decimal sums make the
    * streaming partial-state merges order-independent, so the
    * backfilled aggregate hash-matches the batch oracle exactly. */
  def bf1Backfill(spark: SparkSession, sfDir: String): DataFrame = {
    val batch = Tables.events(spark, sfDir).select("ts", "event_type", "value")
    // deterministic per-dataset paths: repeated bench/spec runs reuse
    // (and overwrite) one backlog + one result dir instead of leaking
    // a fresh tempdir + in-memory sink table per invocation
    val tag = graft.Dist.pathTag(sfDir)
    val tmp = System.getProperty("java.io.tmpdir")
    val dir = s"$tmp/graft_bf1_backlog_$tag"
    // State-partition width derived from the KEY-SPACE BOUND, the al1
    // policy: the stateful hourly agg is keyed by (hour, event_type),
    // so its parallelism is bounded by span-hours × type count — every
    // state partition beyond that pays pure per-micro-batch store
    // open/commit overhead. Unlike al1's fixed type vocabulary, this
    // bound GROWS with the backlog's time span, so it is derived per
    // run — observed ON the backlog-write pass itself (zero extra
    // scans: the span min/max and an HLL type-count ride the write
    // action; an approximate type count only sizes a partition width,
    // it never touches a result value). The stream captures the conf
    // at start; restore it right after the drain.
    val obs = org.apache.spark.sql.Observation(s"bf1_span_$tag")
    batch.observe(obs,
        min(unix_seconds(col("ts"))).as("lo"),
        max(unix_seconds(col("ts"))).as("hi"),
        approx_count_distinct(col("event_type")).as("nt"))
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val sink = s"bf1_out_${tag.replaceAll("[^A-Za-z0-9_]", "_")}"
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    val m = obs.get
    val keyBound =
      if (m("lo") == null || m("hi") == null) 1L
      else (m("hi").asInstanceOf[Long] / 3600L
        - m("lo").asInstanceOf[Long] / 3600L + 1L) *
        math.max(1L, m("nt").asInstanceOf[Long])
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(1L, math.min(sessionParts.toLong, keyBound)).toString)
    try {
      val q = graft.streaming.EventStream.hourlyAgg(stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
    drainSink(spark, sink, dir, s"$tmp/graft_bf1_result_$tag")
  }

  /** Materialize a memory-sink table to a deterministic parquet dir,
    * then drop the sink view and delete the backlog dir: the returned
    * frame holds no reference to either, so streaming parity rows
    * leave behind exactly one (overwritten) result dir per dataset. */
  private def drainSink(spark: SparkSession, sink: String,
                        backlogDir: String, resultDir: String): DataFrame = {
    spark.table(sink).write.mode("overwrite").parquet(resultDir)
    spark.catalog.dropTempView(sink)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(backlogDir))
    spark.read.parquet(resultDir)
  }

  val bf1Sql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- al1_alert_backfill ---------------------------------------------

  val AlertThreshold = 50.0
  val AlertRunLen = 3

  /** Number of ts-range chunks the al1 backlog replays as — i.e. the
    * minimum micro-batch count the driver row must survive. */
  val AlertChunks = 4

  /** al1_alert_backfill — the streaming consecutive-threshold alerter
    * (EventStream.alertStream, flatMapGroupsWithState) given the bf1
    * treatment: the LIVE transform drained over a parquet backlog by
    * Trigger.AvailableNow, result hash-compared to the batch oracle.
    * The backlog spans MULTIPLE micro-batches (maxFilesPerTrigger=1
    * over AlertChunks files), so the run counter genuinely carries
    * across batch boundaries — the production shape, not a one-shot
    * fold. Cross-batch correctness needs per-type event-time order
    * ACROSS batches (within a batch the fold sorts); the backlog is
    * written as ts-range chunk files whose modification times are
    * forced into range order, the file-source replay rule (oldest
    * file first) — the parquet-backlog analog of a Kafka source's
    * per-partition order. (event_type, ts) is unique in the fixture,
    * making the per-type order total. */
  def al1AlertBackfill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val batch = Tables.events(spark, sfDir).select("event_type", "ts", "value")
    val tag = graft.Dist.pathTag(sfDir)
    val tmp = System.getProperty("java.io.tmpdir")
    val dir = s"$tmp/graft_al1_backlog_$tag"
    batch.repartitionByRange(AlertChunks, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    // part-file lexical order == range-partition order == ts order;
    // stamp strictly increasing mod-times so the file source (which
    // sorts by mod-time, oldest first) replays chunks in ts order
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = parts.map(_.lastModified).max
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + (i + 1) * 2000L): Unit
    }
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[graft.streaming.EventStream.AlertEvent]
    val sink = s"al1_out_${tag.replaceAll("[^A-Za-z0-9_]", "_")}"
    // State-partition width derived from KEY CARDINALITY, not the
    // session default: the stateful fold is keyed by event_type (a
    // fixed small vocabulary at any scale factor), and a stateful
    // stream's parallelism is bounded by its key count — every state
    // partition beyond that pays pure per-micro-batch store overhead
    // (open/commit/checkpoint × partitions × batches; measured 6.97 →
    // 5.5 s at sf0.1 where 32 partitions held ~5 keys). The stream
    // captures the conf at start; restore it right after.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    val nKeys = batch.select("event_type").distinct().count()
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(1L, math.min(sessionParts.toLong, nKeys)).toString)
    try {
      val q = graft.streaming.EventStream
        .alertStream(stream, AlertThreshold, AlertRunLen)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val fedBatches = q.recentProgress.count(_.numInputRows > 0)
      require(fedBatches >= 2,
        s"al1 must span micro-batches (saw $fedBatches with input rows)")
    } finally spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
    drainSink(spark, sink, dir, s"$tmp/graft_al1_result_$tag")
  }

  val al1Sql: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
       |b AS (SELECT event_type, us,
       |        CASE WHEN value > $AlertThreshold THEN 1 ELSE 0 END AS br,
       |        row_number() OVER (PARTITION BY event_type ORDER BY us) AS rn
       |      FROM e),
       |g AS (SELECT event_type, us, rn - row_number() OVER (
       |        PARTITION BY event_type ORDER BY us) AS grp
       |      FROM b WHERE br = 1),
       |runs AS (SELECT event_type, us, row_number() OVER (
       |           PARTITION BY event_type, grp ORDER BY us) AS pos
       |         FROM g)
       |SELECT event_type, $AlertRunLen AS run_length, us AS last_us
       |FROM runs WHERE pos % $AlertRunLen = 0""".stripMargin

  // ---- fl1_funnel_resolve ---------------------------------------------

  /** fl1_funnel_resolve — batch parity for the streaming funnel: the
    * SAME per-user resolution the stateful stream runs at timeout
    * (FunnelStream.resolve — first view, first click strictly after,
    * first purchase strictly after that) executed as a batch
    * groupByKey over the events table. The streaming arm emits on
    * event-time timeout, which a drained backlog never fires; running
    * the shared fold in batch puts the VALUES under the driver's
    * hash gate while StreamingSpec keeps proving the streaming
    * emission path. */
  def fl1FunnelResolve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[graft.streaming.FunnelStream.FunnelEvent]
      .groupByKey(_.user_id)
      .mapGroups { (uid, it) =>
        graft.streaming.FunnelStream.resolve(uid,
          it.map(e => (e.event_type,
            graft.streaming.Sessionize.micros(e.ts))).toSeq)
      }.toDF()
  }

  val fl1Sql: String =
    """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS view_us
       |           FROM events WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
       |      FROM events e JOIN v ON v.user_id = e.user_id
       |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.view_us
       |      GROUP BY 1),
       |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
       |      FROM events e JOIN c ON c.user_id = e.user_id
       |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
       |      GROUP BY 1)
       |SELECT u.user_id, v.view_us, c.click_us, p.purchase_us
       |FROM (SELECT DISTINCT user_id FROM events) u
       |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
       |LEFT JOIN p USING (user_id)""".stripMargin

  /** q13_salted_agg — two-phase salted aggregation (Dist.saltedSum):
    * the skew-safe shape for a hot grouping key — partials on
    * (key, salt) spread one hot key over `salts` reducers, then the
    * bare-key combine sees `salts` rows per key. Results must equal
    * the plain one-phase aggregation exactly (sums rounded: partial
    * order differs between the paths). */
  def q13SaltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.Dist.saltedSum(
      Tables.events(spark, sfDir).select("event_type", "value"),
      "event_type", "value", 8)
      .select(col("event_type"), round(col("sum_value"), 2).as("sum_value"),
        col("n_rows"))

  val q13Sql: String =
    """SELECT event_type, round(sum(value), 2) AS sum_value,
      |  count(*) AS n_rows
      |FROM events GROUP BY 1""".stripMargin

  // ---- sk2/sk3: planted-Zipf skew, salted vs plain (r8 verdict task 4)

  /** A deterministic PLANTED-skew key over events: h spreads event_ids
    * uniformly over [0, 1000003); the geometric CASE ladder then lands
    * 50% of all rows on key 0, 25% on key 1, ... — a Zipf-like
    * distribution with one melting-hot key, the shape a single-domain/
    * single-template training corpus produces. Integer-only (both
    * engines compute identical keys). */
  private val SkewLadder: Seq[(Long, Int)] = {
    val mod = 1000003L
    (0 until 9).map(k => (mod - mod / (1L << (k + 1)), k))
  }

  private def skewKeyCol: org.apache.spark.sql.Column = {
    // reduce mod 1000003 BEFORE multiplying: (a*M) mod m == ((a mod m)*M)
    // mod m, and the reduced product stays <= 1e6 * 2.7e9 ~ 2.7e15 —
    // signed-64 safe for ANY event_id (the unreduced form silently wraps
    // past event_id ~3.4e9 while DuckDB raises, diverging at scale)
    val h = pmod(pmod(col("event_id"), lit(1000003L)) * lit(2654435761L),
      lit(1000003L))
    // fold hottest-last so key 0's (smallest) threshold lands OUTERMOST
    // — in a when-chain the outermost condition wins
    SkewLadder.reverse.foldLeft(lit(9): org.apache.spark.sql.Column) {
      case (acc, (thr, k)) => when(h < thr, lit(k)).otherwise(acc)
    }
  }

  private val skewKeyS: String = {
    val h = "(((event_id % 1000003) * 2654435761) % 1000003)"
    SkewLadder.reverse.foldLeft("9") { case (acc, (thr, k)) =>
      s"CASE WHEN $h < $thr THEN $k ELSE $acc END"
    }
  }

  /** sk2_skew_salted_agg — two-phase salted aggregation on the planted
    * hot key: phase 1 aggregates on (key, salt) so the 50%-of-table key
    * spreads over 8 reducers, phase 2 combines bare-key partials.
    * sk3 is the UNSALTED twin; the pair's bench delta measures what
    * salting buys on a genuinely skewed distribution (on a real
    * cluster the plain form puts half the table through one reducer —
    * the salted plan's max reducer load is 1/8 of that). */
  def sk2SkewSaltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.Dist.saltedSum(
      Tables.events(spark, sfDir)
        // sum integer cents, not doubles: float addition is non-associative
        // and the salt assignment is plan-dependent, so a double partial-sum
        // could drift past round(_,2) at scale; floor(value*100) is
        // per-row deterministic in both engines and integer sums are
        // exactly associative under ANY grouping
        .select(skewKeyCol.as("skew_key"),
          floor(col("value") * 100).as("cents")),
      "skew_key", "cents", 8)
      .select(col("skew_key"), col("sum_cents"), col("n_rows"))

  /** sk3_skew_plain_agg — the unsalted control for sk2 (same planted
    * key, single-phase groupBy): row-identical output, one hot reducer. */
  def sk3SkewPlainAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(skewKeyCol.as("skew_key"), floor(col("value") * 100).as("cents"))
      .groupBy("skew_key")
      .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n_rows"))

  lazy val sk2Sql: String =
    s"""SELECT $skewKeyS AS skew_key,
       |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       |  count(*) AS n_rows
       |FROM events GROUP BY 1""".stripMargin

  lazy val sk3Sql: String = sk2Sql

  /** fj1_fuzzy_join — blocked edit-distance join (entity resolution on
    * dirty keys): deterministically misspelled nation names (3rd char
    * dropped) joined back within Levenshtein <= 2. Blocking =
    * first-char + length band, mirrored in the oracle. */
  val FuzzyMaxDist = 2

  def fj1FuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val dirty = nat.select(col("n_nationkey").as("q_key"),
      concat(substring(col("n_name"), 1, 2), expr("substring(n_name, 4)"))
        .as("qname"))
    graft.operators.FuzzyJoin.joinByEditDistance(dirty, "qname", nat,
      "n_name", FuzzyMaxDist)
      .select("q_key", "qname", "n_nationkey", "n_name", "dist")
  }

  val fj1Sql: String =
    s"""WITH dirty AS (
       |  SELECT n_nationkey AS q_key,
       |    substring(n_name, 1, 2) || substring(n_name, 4) AS qname
       |  FROM nation)
       |SELECT q_key, qname, n_nationkey, n_name,
       |  levenshtein(qname, n_name) AS dist
       |FROM dirty JOIN nation
       |  ON substring(qname, 1, 1) = substring(n_name, 1, 1)
       | AND abs(length(qname) - length(n_name)) <= $FuzzyMaxDist
       |WHERE levenshtein(qname, n_name) <= $FuzzyMaxDist""".stripMargin

  /** q14_range_window — interval rolling aggregate: per user, events in
    * the preceding 10 minutes (rangeBetween on epoch seconds — a RANGE
    * frame, not ROWS: simultaneous events are peers). One shuffle on
    * user_id; frames never materialize beyond the running window. */
  val RangeWindowSec = 600L

  def q14RangeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").cast("long"))
      .rangeBetween(-RangeWindowSec, 0)
    Tables.events(spark, sfDir).select("event_id", "user_id", "ts", "value")
      .withColumn("n_10min", count(lit(1)).over(w))
      .withColumn("sum_10min", round(sum("value").over(w), 2))
      .select("event_id", "user_id", "ts", "n_10min", "sum_10min")
  }

  val q14Sql: String =
    s"""SELECT event_id, user_id, ts,
       |  count(*) OVER w AS n_10min,
       |  round(sum(value) OVER w, 2) AS sum_10min
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
       |             RANGE BETWEEN $RangeWindowSec PRECEDING AND CURRENT ROW)""".stripMargin

  /** m6_zscore — per-group standardization (outlier scoring): value
    * z-score against the event_type mean/stddev. Emits EVERY row with
    * its rounded z plus a flag on the rounded value — no
    * boundary-sensitive filter, so last-ulp stddev differences between
    * engines can't change the row set. Group moments ride in via one
    * map-side-combined aggregate + broadcast join. */
  val ZscoreFlag = 2.5

  def m6Zscore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("m"), stddev_samp("value").as("sd"))
    // + 0.0 canonicalizes IEEE -0.0 to +0.0: a z just under zero rounds
    // to -0.0 in one engine and +0.0 in the other — equal by ==, but
    // the driver hashes bits. The sd>0 guard nulls z for constant
    // groups instead of emitting engine-dependent Infinity.
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", when(col("sd") > 0.0,
        round((col("value") - col("m")) / col("sd"), 3) + lit(0.0)))
      // when().otherwise(0) mirrors the oracle's CASE ... ELSE 0 END:
      // a singleton group has NULL stddev_samp, where a bare boolean
      // cast would emit NULL while the oracle emits 0
      .withColumn("is_outlier",
        when(col("sd") > 0.0 && abs(col("z")) > ZscoreFlag, 1).otherwise(0))
      .select("event_id", "event_type", "z", "is_outlier")
  }

  val m6Sql: String =
    s"""WITH s AS (SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
       |           FROM events GROUP BY 1)
       |SELECT event_id, e.event_type,
       |  CASE WHEN s.sd > 0.0
       |       THEN round((e.value - s.m) / s.sd, 3) + 0.0 END AS z,
       |  CASE WHEN s.sd > 0.0
       |        AND abs(round((e.value - s.m) / s.sd, 3) + 0.0) > $ZscoreFlag
       |       THEN 1 ELSE 0 END AS is_outlier
       |FROM events e JOIN s USING (event_type)""".stripMargin

  /** q15_gapfill — time-series gap filling: densify each event_type's
    * daily series over its own [min, max] day span (sequence + explode
    * — generation is distributed, one array per key) and forward-fill
    * missing days with the last observed value (last() IGNORE NULLS
    * over an ordered window). The standard feature-engineering step
    * before any rolling computation on sparse series. */
  def q15Gapfill(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 2).as("day_value"))
    val spans = daily.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val allDays = spans.select(col("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    allDays.join(daily, Seq("event_type", "day"), "left")
      .withColumn("filled_value", last("day_value", ignoreNulls = true).over(w))
      .withColumn("is_gap", col("day_value").isNull.cast("int"))
      .select("event_type", "day", "filled_value", "is_gap")
  }

  val q15Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         round(sum(value), 2) AS day_value
      |  FROM events GROUP BY 1, 2),
      |spans AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |          FROM daily GROUP BY 1),
      |alldays AS (SELECT event_type,
      |              unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      |            FROM spans)
      |SELECT a.event_type, a.day,
      |  last_value(d.day_value IGNORE NULLS) OVER (
      |    PARTITION BY a.event_type ORDER BY a.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
      |  CASE WHEN d.day_value IS NULL THEN 1 ELSE 0 END AS is_gap
      |FROM alldays a LEFT JOIN daily d USING (event_type, day)""".stripMargin

  /** q16_window_suite — the analytic-window family in one pass: lag /
    * lead (session deltas), percent_rank (exact rational — (rank−1)/
    * (n−1), engine-portable), and ntile quartiles, all over ONE
    * (user_id, ordered-by-ts) window spec so Catalyst evaluates them in
    * a single Window operator — one shuffle, one sort. Tie-broken on
    * event_id for a total order. */
  def q16WindowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir).select("event_id", "user_id", "ts", "value")
      .withColumn("prev_value", round(lag("value", 1).over(w), 2))
      .withColumn("next_value", round(lead("value", 1).over(w), 2))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("quartile", ntile(4).over(w))
      .select("event_id", "user_id", "prev_value", "next_value",
        "pct_rank", "quartile")
  }

  val q16Sql: String =
    """SELECT event_id, user_id,
      |  round(lag(value, 1) OVER w, 2) AS prev_value,
      |  round(lead(value, 1) OVER w, 2) AS next_value,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  ntile(4) OVER w AS quartile
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /** pr1_profile — column profiling (the ANALYZE/data-quality pass):
    * null count, distinct count, min/max/avg per column, all from ONE
    * scan (a single multi-aggregate row, inline()-unpivoted to one row
    * per column — never one scan per column). */
  val ProfileCols = Seq("l_quantity", "l_discount", "l_tax")

  def pr1Profile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val aggs = count(lit(1)).as("n") +: ProfileCols.flatMap { c =>
      Seq(sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_nd"),
        round(min(col(c)), 4).as(s"${c}_min"),
        round(max(col(c)), 4).as(s"${c}_max"),
        round(avg(col(c)), 4).as(s"${c}_avg"))
    }
    val structs = ProfileCols.map(c =>
      s"struct('$c' AS column, ${c}_nulls AS n_nulls, ${c}_nd AS n_distinct, " +
        s"${c}_min AS min_v, ${c}_max AS max_v, ${c}_avg AS avg_v)")
      .mkString("array(", ", ", ")")
    li.agg(aggs.head, aggs.tail: _*)
      .select(col("n"), expr(s"inline($structs)"))
  }

  val pr1Sql: String = {
    val aggs = ProfileCols.map { c =>
      s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nulls, " +
        s"count(DISTINCT $c) AS ${c}_nd, round(min($c), 4) AS ${c}_min, " +
        s"round(max($c), 4) AS ${c}_max, round(avg($c), 4) AS ${c}_avg"
    }.mkString(",\n|    ")
    val rows = ProfileCols.map { c =>
      s"SELECT n, '$c' AS column, ${c}_nulls AS n_nulls, ${c}_nd AS n_distinct, " +
        s"${c}_min AS min_v, ${c}_max AS max_v, ${c}_avg AS avg_v FROM a"
    }.mkString("\n|UNION ALL\n|")
    s"""WITH a AS (SELECT count(*) AS n,
       |    $aggs
       |  FROM lineitem)
       |$rows""".stripMargin
  }

  /** e2_sessions — gap-based sessionization per user via the typed
    * flatMapGroups fold (graft.streaming.Sessionize); oracle is the
    * gaps-and-islands SQL. 12-hour gap. */
  val SessionGapUs: Long = 12L * 3600 * 1000000

  def e2Sessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.streaming.Sessionize.batch(
      Tables.events(spark, sfDir).select("user_id", "ts", "value")
        .as[graft.streaming.Sessionize.EventIn],
      SessionGapUs).toDF()
  }

  val e2Sql: String =
    s"""WITH g AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), value)),
       |s AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
       |    ORDER BY epoch_us(ts), value ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM g)
       |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |  count(*) AS n_events, round(sum(value), 2) AS sum_value
       |FROM s GROUP BY user_id, sid""".stripMargin

  // ---- ses1_session_pcts ----------------------------------------------

  /** ses1_session_pcts — session-DURATION percentiles over the NATIVE
    * session_window sessionization (sw1's declarative arm, which
    * Catalyst merges in-partition before the shuffle — the typed
    * flatMapGroups fold it previously composed cost 6× the wall for
    * the same histogram): exact integer epoch-ms durations through
    * Pcts.p50p95p99 with no group columns (one global group whose
    * running count is range-partitioned over the collapsed duration
    * histogram, so one group is NOT one task over the data).
    * Boundary edge follows session_window
    * (a gap of exactly 12 h starts a new session); the oracle composes
    * sw1's `>=` SQL accordingly. */
  def ses1SessionPcts(spark: SparkSession, sfDir: String): DataFrame = {
    val dur = sw1NativeSession(spark, sfDir)
      .select((unix_millis(col("session_end"))
        - unix_millis(col("session_start"))).as("dur_ms"))
    Pcts.p50p95p99(dur, Nil, "dur_ms")
      .select(col("n").as("n_sessions"), col("p50"), col("p95"), col("p99"))
  }

  // lazy: composes sw1Sql, which is defined later in this object
  lazy val ses1Sql: String =
    s"""WITH ses AS ($sw1Sql),
       |d AS (SELECT epoch_ms(session_end) - epoch_ms(session_start) AS dur_ms
       |      FROM ses),
       |gg AS (SELECT list_sort(list(dur_ms)) AS s, CAST(count(*) AS BIGINT) AS n
       |       FROM d)
       |SELECT n AS n_sessions,
       |  round(${Pcts.sql(0.50)}, 6) AS p50,
       |  round(${Pcts.sql(0.95)}, 6) AS p95,
       |  round(${Pcts.sql(0.99)}, 6) AS p99
       |FROM gg""".stripMargin

  // ---- sw1_native_session ---------------------------------------------

  /** sw1_native_session — Spark's NATIVE session_window beside e2's
    * typed-fold sessionizer (same 12-hour gap): the declarative
    * spelling Catalyst can optimize (UpdatingSessionsExec merges
    * in-partition before the shuffle) vs the imperative escape hatch.
    * Boundary semantics differ from e2 by one edge: session_window
    * starts a NEW session at gap == 12h exactly (window end is
    * exclusive) where e2's `>` keeps it — the oracle mirrors
    * session_window's `>=`. Sum as exact DECIMAL, cast once. */
  def sw1NativeSession(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "12 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("session_end"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_end"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))

  val sw1Sql: String =
    s"""WITH g AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= ${SessionGapUs}
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), value)),
       |s AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
       |    ORDER BY epoch_us(ts), value ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM g)
       |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |  count(*) AS n_events,
       |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
       |FROM s GROUP BY user_id, sid""".stripMargin

  /** f1_bloom_join — Bloom-prefiltered semi-join: lineitem rows for
    * urgent orders. The Bloom pass prunes the fact scan before any
    * shuffle; the exact semi-join removes false positives, so the
    * result equals the plain semi-join the oracle runs. */
  def f1BloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    graft.operators.BloomJoin.semiJoin(
        Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_returnflag", "l_quantity"),
        "l_orderkey", urgent, "o_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  }

  val f1Sql: String =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  /** j2_salted_join — skew-safe fact-fact equi-join (Dist.saltedJoin):
    * orders replicated ×salts, lineitem rows spread by a deterministic
    * pseudo-random salt. Row-identical to the plain join, so the
    * oracle is the plain join aggregate. */
  def j2SaltedJoin(spark: SparkSession, sfDir: String): DataFrame =
    graft.Dist.saltedJoin(
        Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
        "o_orderkey", 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))

  val j2Sql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** cdc1_merge — change-data-capture MERGE INTO: one deterministic
    * I/U/D batch applied to orders (deletes %11, updates %7 of the
    * rest at +500, inserts re-keyed %13 at +7). Emits the post-merge
    * table with each row's provenance op ('=' untouched). */
  def cdc1Merge(spark: SparkSession, sfDir: String): DataFrame = {
    // five consumers (delete/update/insert slices, the max-key probe,
    // and the merge base) — materialize the projection once
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
      .localCheckpoint()
    val k = col("o_orderkey")
    val del = o.filter(k % 11 === 0)
      .select(k, lit("D").as("op"), lit(null).cast("double").as("o_totalprice"))
    val upd = o.filter(k % 11 =!= 0 && k % 7 === 0)
      .select(k, lit("U").as("op"),
        (col("o_totalprice") + 500.0).as("o_totalprice"))
    // Inserts are re-keyed above max(o_orderkey) so they can never
    // collide with an existing base key at any scale factor (a fixed
    // +10M offset would collide once orders exceeds ~10M keys, and the
    // engines would diverge by raise_error vs silent overwrite).
    val ins = o.filter(k % 13 === 0)
      .crossJoin(broadcast(o.agg(max(k).as("__mx"))))
      .select((col("__mx") + 1L + k).as("o_orderkey"), lit("I").as("op"),
        (col("o_totalprice") + 7.0).as("o_totalprice"))
    graft.operators.Upsert.cdcMerge(
      o, del.unionAll(upd).unionAll(ins), "o_orderkey", "o_totalprice")
  }

  val cdc1Sql: String =
    """WITH ch AS (
      |  SELECT o_orderkey, 'D' AS op, CAST(NULL AS DOUBLE) AS p
      |  FROM orders WHERE o_orderkey % 11 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'U', o_totalprice + 500.0
      |  FROM orders WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 1 + (SELECT max(o_orderkey) FROM orders),
      |    'I', o_totalprice + 7.0
      |  FROM orders WHERE o_orderkey % 13 = 0)
      |SELECT coalesce(b.o_orderkey, ch.o_orderkey) AS o_orderkey,
      |  CASE WHEN ch.op IS NULL THEN b.o_totalprice ELSE ch.p END AS o_totalprice,
      |  coalesce(ch.op, '=') AS op
      |FROM orders b FULL OUTER JOIN ch ON b.o_orderkey = ch.o_orderkey
      |WHERE ch.op IS NULL OR ch.op <> 'D'""".stripMargin

  /** u5_compact — small-file compaction (the OPTIMIZE maintenance pass
    * every partitioned 100 TB table needs): a fragmented write (every
    * shuffle task leaves a file in every partition dir) is rewritten
    * with one hash partition per partition value → one file each. The
    * driver-checked output is the aggregate round trip (must equal the
    * direct aggregation); the spec asserts the file counts actually
    * collapse. */
  def u5Compact(spark: SparkSession, sfDir: String): DataFrame = {
    val frag = s"${System.getProperty("java.io.tmpdir")}/graft_u5f_" +
      graft.Dist.pathTag(sfDir)
    val compact = s"${System.getProperty("java.io.tmpdir")}/graft_u5c_" +
      graft.Dist.pathTag(sfDir)
    graft.Dist.spread(
        Tables.events(spark, sfDir).select("event_id", "event_type", "value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(frag)
    spark.read.parquet(frag)
      .repartition(col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(compact)
    spark.read.parquet(compact)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  val u5Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** zm1_zorder_scan — Z-order layout + zone-map pruned 2-D box scan:
    * events clustered on (user_id, day-offset), per-block min/max zone
    * map, then a user×day box query that reads only intersecting block
    * directories (real partition pruning) before the exact filter. The
    * driver-checked result is the box aggregate — it must equal the
    * plain filtered aggregation regardless of layout. */
  def zm1ZorderScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_zm1_" +
      graft.Dist.pathTag(sfDir)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), col("value"),
        datediff(to_date(col("ts")), lit("2024-01-01")).as("yday"))
    graft.operators.ZOrder.writeLayout(ev, "user_id", "yday", dir)
    val stats = graft.operators.ZOrder.blockStats(spark, dir, "user_id", "yday")
    graft.operators.ZOrder.prunedScan(spark, dir, stats,
        "user_id", "yday", 100L, 199L, 9L, 18L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  val zm1Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE user_id BETWEEN 100 AND 199
      |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-19'
      |GROUP BY 1""".stripMargin

  /** pw3_merge_schema — schema-evolution read: an early batch written
    * WITHOUT a column that a later batch adds (the normal life of any
    * long-lived 100 TB table), read back as one table via mergeSchema
    * with NULLs for the pre-evolution rows. The driver-checked result
    * proves the merged read loses nothing: per-type counts/sums over
    * both batches plus the count of pre-evolution (null-column) rows.
    * Schema merging is a read-option, not a rewrite — no 100 TB
    * backfill to add a column. */
  def pw3MergeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pw3_" +
      graft.Dist.pathTag(sfDir)
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
    val cut = lit("2024-01-15").cast("date")
    // v1 schema: no user_id column yet
    ev.filter(col("day") < cut).select("event_type", "value")
      .write.mode("overwrite").parquet(dir)
    // v2 schema adds user_id; appended to the same table location
    ev.filter(col("day") >= cut).select("event_type", "value", "user_id")
      .write.mode("append").parquet(dir)
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
        sum(col("user_id").isNull.cast("long")).as("n_pre_evolution"))
  }

  val pw3Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
      |  CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
      |               THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_evolution
      |FROM events GROUP BY 1""".stripMargin

  /** dq1_checks — Deequ-style data-quality validation: a declarative
    * rule set (completeness, range, set-membership, uniqueness)
    * evaluated in ONE scan of the table — every rule is a conditional
    * aggregate in the same agg, unpivoted to (rule, n_violations,
    * passed) rows (pr1's single-scan shape). At 100 TB the alternative
    * — one pass per rule — multiplies the scan cost by the rule count;
    * this stays one pass no matter how many rules the contract has.
    * Uniqueness is n − countDistinct, exact (the approx path at
    * extreme cardinality is q12's HLL). */
  def dq1Checks(spark: SparkSession, sfDir: String): DataFrame =
    dqChecksOn(Tables.documents(spark, sfDir))

  /** The rule evaluation over any documents-shaped frame (spec entry). */
  def dqChecksOn(d: DataFrame): DataFrame = {
    val agg = d.agg(
      count(lit(1)).as("n"),
      sum(col("text").isNull.cast("long")).as("v_text_null"),
      sum((col("n_chars") <= 0 || col("n_chars") > 100000)
        .cast("long")).as("v_chars_range"),
      sum((!col("lang").isin("en", "de", "fr", "es", "zh"))
        .cast("long")).as("v_lang_set"),
      sum((length(col("text")) =!= col("n_chars")).cast("long"))
        .as("v_chars_consistent"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("v_id_unique"))
    val rules = Seq(
      "text_not_null" -> "v_text_null",
      "n_chars_in_range" -> "v_chars_range",
      "lang_in_set" -> "v_lang_set",
      "n_chars_matches_text" -> "v_chars_consistent",
      "doc_id_unique" -> "v_id_unique")
    val structs = rules.map { case (name, c) =>
      s"struct('$name' AS rule, $c AS n_violations, $c = 0 AS passed)"
    }.mkString("array(", ", ", ")")
    agg.select(col("n"), expr(s"inline($structs)"))
  }

  val dq1Sql: String = {
    val checks = Seq(
      "text_not_null" ->
        "CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)",
      "n_chars_in_range" ->
        "CAST(sum(CASE WHEN n_chars <= 0 OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT)",
      "lang_in_set" ->
        "CAST(sum(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh') THEN 1 ELSE 0 END) AS BIGINT)",
      "n_chars_matches_text" ->
        "CAST(sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT)",
      "doc_id_unique" -> "count(*) - count(DISTINCT doc_id)")
    val aggs = checks.map { case (name, e) => s"$e AS __$name" }
      .mkString(",\n|    ")
    val rows = checks.map { case (name, _) =>
      s"SELECT n, '$name' AS rule, __$name AS n_violations, __$name = 0 AS passed FROM a"
    }.mkString("\n|UNION ALL\n|")
    s"""WITH a AS (SELECT count(*) AS n,
       |    $aggs
       |  FROM documents)
       |$rows""".stripMargin
  }

  /** bk1_bucketed_join — bucketed co-located fact-fact join: both
    * tables are written `bucketBy(8, key) + sortBy(key)`, so the
    * sort-merge join consumes the bucket layout directly — NO shuffle
    * exchange on either side (plan asserted in ScaleTechniquesSpec).
    * The bucketed write is paid once; every subsequent join on the key
    * is exchange-free — the standard 100 TB answer to repeated
    * fact-fact joins on one key. Driver-checked result is the join
    * aggregate, which must equal the plain join (j2's oracle). */
  def bk1BucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = graft.Dist.pathTag(sfDir).replaceAll("[^A-Za-z0-9_]", "_")
    val lt = s"graft_bk1_li_$tag"
    val ot = s"graft_bk1_o_$tag"
    // a fresh session's in-memory catalog forgets the tables but their
    // warehouse directories survive — clear both or saveAsTable fails
    Seq(lt, ot).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File("spark-warehouse", t)
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    }
    // repartition on the bucket key at the bucket count BEFORE the
    // bucketed write: Spark's bucket id is the same HashPartitioning
    // hash, so each write task then holds exactly one bucket and emits
    // ONE file — without it every scan task emits a file per bucket it
    // touches (scan-tasks × 8 small files per table, the guide §6
    // small-files trap; at cluster scale that is thousands of files
    // per bucket and a listing/open cost every later join pays)
    Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
      .repartition(8, col("l_orderkey"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(lt)
    Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
      .repartition(8, col("o_orderkey"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(ot)
    spark.table(lt).hint("merge")
      .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  }

  /** stat1_corr — distributed second-moment statistics (covariance,
    * correlation, stddev) from EXACT decimal accumulators: the five
    * sums (Σx, Σy, Σx², Σy², Σxy) are decimal — order-independent and
    * mergeable (the same property inc1 exploits), so the shuffle can
    * combine partials in any order — and the closed-form moments are
    * evaluated in double ONLY at the end, in an operation order the
    * oracle mirrors token-for-token. sqrt is IEEE-exact (correctly
    * rounded in every implementation, unlike exp/ln/pow), so even the
    * stddev path is bit-stable across engines. */
  def stat1Corr(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val a = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN = nD * d("sxy") - d("sx") * d("sy")
    val varX = nD * d("sxx") - d("sx") * d("sx")
    val varY = nD * d("syy") - d("sy") * d("sy")
    a.select(col("l_returnflag"), col("n"),
      round(covN / (nD * nD), 6).as("covar_pop"),
      round(covN / sqrt(varX * varY), 6).as("corr"),
      round(sqrt(varX) / nD, 6).as("stddev_x"),
      round(sqrt(varY) / nD, 6).as("stddev_y"))
  }

  val stat1Sql: String = {
    val x = "CAST(l_quantity AS DECIMAL(18,2))"
    val y = "CAST(l_extendedprice AS DECIMAL(18,2))"
    def dd(c: String) = s"CAST($c AS DOUBLE)"
    val covN = s"(${dd("n")} * ${dd("sxy")} - ${dd("sx")} * ${dd("sy")})"
    val varX = s"(${dd("n")} * ${dd("sxx")} - ${dd("sx")} * ${dd("sx")})"
    val varY = s"(${dd("n")} * ${dd("syy")} - ${dd("sy")} * ${dd("sy")})"
    s"""WITH a AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    sum($x) AS sx, sum($y) AS sy,
       |    sum($x * $x) AS sxx, sum($y * $y) AS syy,
       |    sum($x * $y) AS sxy
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |  round($covN / (${dd("n")} * ${dd("n")}), 6) AS covar_pop,
       |  round($covN / sqrt($varX * $varY), 6) AS corr,
       |  round(sqrt($varX) / ${dd("n")}, 6) AS stddev_x,
       |  round(sqrt($varY) / ${dd("n")}, 6) AS stddev_y
       |FROM a""".stripMargin
  }

  /** roll1_hll_rollup — mergeable-sketch rollup: per-day HLL sketches
    * of distinct users, then a monthly rollup that merges the SKETCHES
    * (hll_union_agg) — the raw events are read exactly once, and every
    * coarser granularity re-aggregates metadata-sized sketch state
    * instead of the fact table (the re-aggregatable metrics cube every
    * 100 TB analytics stack keeps; same mergeable-state principle as
    * inc1 and hh1's sketch). HLL (DataSketches HLL_4) estimates are
    * engine-specific; the spec additionally pins merged-vs-direct
    * consistency. Production path — the gate entry below wraps it. */
  def roll1HllRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    daily
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
        sum("n_events").as("n_events"))
  }

  /** roll1_hll_rollup — gate entry: the merged-sketch monthly rollup
    * joined against the exact per-month distinct twin; emits month,
    * event counts, exact distinct users (all hash-checkable vs DuckDB)
    * plus a within-5% attestation flag on the sketch estimate. The
    * sketch drifting past the bound fails the driver hash compare. */
  def roll1HllRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = Tables.events(spark, sfDir)
      .groupBy(trunc(to_date(col("ts")), "month").as("month"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    roll1HllRaw(spark, sfDir).join(exact, "month")
      .select(col("month"), col("n_events"), col("exact_users"),
        when(abs(col("approx_users") - col("exact_users"))
          <= lit(0.05) * col("exact_users"), 1).otherwise(0).as("users_ok"))
  }

  val roll1Sql: String =
    """SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
      |  count(*) AS n_events, count(DISTINCT user_id) AS exact_users,
      |  1 AS users_ok
      |FROM events GROUP BY 1""".stripMargin

  /** q17_funnel — ordered event-funnel conversion (the product-analytics
    * staple): per user, first view → first click strictly after that
    * view → first purchase strictly after that click; one row of stage
    * populations + step conversion rates. All three stage aggregates
    * and both joins key on user_id — one shuffle key reused end-to-end,
    * so the plan stays co-partitioned at any event volume. */
  def q17Funnel(spark: SparkSession, sfDir: String): DataFrame =
    funnel(Tables.events(spark, sfDir).select("user_id", "event_type", "ts"))

  /** Per-user funnel stage times: first view, first click strictly
    * after it, first purchase strictly after that (shared by q17/e4). */
  private def funnelStages(ev: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // each stage is user-count-sized and feeds BOTH the next stage's
    // join and the final counts/joins — materialize so stage n+1 does
    // not re-run the event scans of stages 1..n (the uncached chain
    // re-scanned events 6x per funnel query)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
      .localCheckpoint()
    def firstAfter(tpe: String, prev: DataFrame, prevTs: String, outTs: String) =
      ev.filter(col("event_type") === tpe)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevTs))
        .groupBy("user_id").agg(min("ts").as(outTs))
        .localCheckpoint()
    val c = firstAfter("click", v, "t_view", "t_click")
    val p = firstAfter("purchase", c, "t_click", "t_purchase")
    (v, c, p)
  }

  /** The funnel over any (user_id, event_type, ts) frame (spec entry). */
  def funnel(ev: DataFrame): DataFrame = {
    val (v, c, p) = funnelStages(ev)
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        when(col("n_view") === 0, 0.0).otherwise(
          round(col("n_click").cast("double") / col("n_view"), 6))
          .as("view_to_click"),
        when(col("n_click") === 0, 0.0).otherwise(
          round(col("n_purchase").cast("double") / col("n_click"), 6))
          .as("click_to_purchase"))
  }

  val q17Sql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_click,
      |  (SELECT count(*) FROM p) AS n_purchase,
      |  CASE WHEN (SELECT count(*) FROM v) = 0 THEN 0.0
      |       ELSE round((SELECT count(*) FROM c)::DOUBLE
      |                  / (SELECT count(*) FROM v), 6) END AS view_to_click,
      |  CASE WHEN (SELECT count(*) FROM c) = 0 THEN 0.0
      |       ELSE round((SELECT count(*) FROM p)::DOUBLE
      |                  / (SELECT count(*) FROM c), 6) END AS click_to_purchase""".stripMargin

  /** e4_time_to_convert — per-user conversion latency for users who
    * complete the q17 funnel: milliseconds from first view to the
    * qualifying click and purchase (exact integer epoch-ms deltas —
    * no float time arithmetic to diverge). The input of any
    * time-to-convert distribution analysis (m1/m4 percentiles compose
    * on top); same single-shuffle-key plan as q17. */
  def e4TimeToConvert(spark: SparkSession, sfDir: String): DataFrame = {
    val (v, c, p) = funnelStages(
      Tables.events(spark, sfDir).select("user_id", "event_type", "ts"))
    v.join(c, "user_id").join(p, "user_id")
      .select(col("user_id"),
        (expr("unix_micros(t_click) div 1000")
          - expr("unix_micros(t_view) div 1000")).as("ms_view_to_click"),
        (expr("unix_micros(t_purchase) div 1000")
          - expr("unix_micros(t_view) div 1000")).as("ms_view_to_purchase"))
  }

  val e4Sql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
      |SELECT v.user_id,
      |  epoch_ms(t_click) - epoch_ms(t_view) AS ms_view_to_click,
      |  epoch_ms(t_purchase) - epoch_ms(t_view) AS ms_view_to_purchase
      |FROM v JOIN c ON v.user_id = c.user_id
      |       JOIN p ON v.user_id = p.user_id""".stripMargin

  /** inc1_incremental_agg — incremental materialized-view maintenance:
    * the base aggregate ("yesterday's view", orders with
    * o_orderkey % 10 != 0) is held as MERGEABLE partial states
    * (count + exact DECIMAL sum per group); the delta batch (% 10 == 0)
    * is aggregated alone, and the view is refreshed by merging the two
    * partial-state tables — the base fact rows are never re-scanned.
    * Decimal sums make the merge order-independent, so the refreshed
    * view equals the full recompute EXACTLY (the oracle is the direct
    * GROUP BY over all of orders). At 100 TB this is the difference
    * between re-scanning full history daily and touching only the
    * delta. */
  def inc1IncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    def partial(df: DataFrame) =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("p").as("s"))
    val base  = partial(o.filter(col("o_orderkey") % 10 =!= 0))
    val delta = partial(o.filter(col("o_orderkey") % 10 === 0))
    base.unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n"), sum("s").as("s"))
      .select(col("o_orderpriority"), col("n"),
        col("s").cast("double").as("sum_price"),
        round(col("s").cast("double") / col("n"), 6).as("avg_price"))
  }

  val inc1Sql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price,
      |  round(CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE)
      |        / count(*), 6) AS avg_price
      |FROM orders GROUP BY 1""".stripMargin

  /** ord1_global_rank — exact GLOBAL rank of the top 1000 rows under a
    * total order, with no full-data shuffle. Because the output is
    * bounded to rank ≤ 1000, every row outside its partition's local
    * top-1000 is provably outside the global top-1000, so
    * `orderBy().limit(k)` (Catalyst's TakeOrderedAndProject: bounded
    * per-partition heaps merged on the driver) prunes 600 M rows to
    * 1000 in a single scan-shaped stage — then Dist.globalRank (the
    * range-partition + prefix-count shape that replaces the
    * partitionless window) ranks the survivors, and those ranks equal
    * the full-data global ranks. The previous cut ranked ALL rows
    * first and filtered after; exact same result, but its range
    * shuffle spilled ~sort-of-the-table (45 GB+ at sf100, a=1.9
    * sf10→sf30) for a query whose answer is 1000 rows. At 100 TB the
    * pruned shape is the only one that should ever run; unbounded
    * full-rank outputs (m11) keep the range-partition shape. */
  def ord1GlobalRank(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val ord = Seq(col("l_extendedprice").desc,
      col("l_orderkey").asc, col("l_linenumber").asc)
    val top = li.orderBy(ord: _*).limit(1000)
    graft.Dist.globalRank(top, ord, "global_rank")
      .select(col("global_rank"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
  }

  val ord1Sql: String =
    """SELECT global_rank, l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
      |      AS global_rank
      |  FROM lineitem) WHERE global_rank <= 1000""".stripMargin

  /** jc1_join_cardinality — the join-explosion preflight: for a
    * planned self-join of events on user_id, the EXACT output
    * cardinality Σ c(k)² and each key's contribution — the number a
    * pipeline checks before submitting a join that could melt a
    * reducer (sk1 profiles input skew; this profiles the join's
    * OUTPUT). One aggregation + a 1-row rollup + bounded-heap top-5;
    * exact integers throughout. */
  // ---- jc2_join_cardinality_2way --------------------------------------

  /** jc2_join_cardinality_2way — jc1's preflight for a TWO-TABLE join
    * (customer ⋈ orders on custkey): predicted output = Σ_k cₐ(k)·c_b(k)
    * from each side's per-key counts, verified EQUAL to the actual join
    * count in the same result row — the planner-independent sanity
    * check before submitting a fact-fact join. Products and the sum in
    * DECIMAL(38,0) (jc1's wrap-protection), per-key counts one narrow
    * aggregation per side; the verification join is the join being
    * predicted, run once. */
  def jc2JoinCardinality2way(spark: SparkSession, sfDir: String): DataFrame = {
    val ca = Tables.customer(spark, sfDir)
      .groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("ca"))
    val cb = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("cb"))
    val pred = ca.join(cb, "k")
      .agg(sum(col("ca").cast("decimal(38,0)") * col("cb")).as("__p"),
        count(lit(1)).as("n_join_keys"))
    val actual = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"))
      .agg(count(lit(1)).as("actual_rows"))
    pred.crossJoin(broadcast(actual))
      .select(col("n_join_keys"),
        jc1CheckedLong(col("__p")).as("predicted_rows"),
        col("actual_rows"),
        (jc1CheckedLong(col("__p")) === col("actual_rows")).cast("int")
          .as("prediction_exact"))
  }

  val jc2Sql: String =
    """WITH ca AS (SELECT c_custkey AS k, count(*) AS ca FROM customer GROUP BY 1),
      |cb AS (SELECT o_custkey AS k, count(*) AS cb FROM orders GROUP BY 1),
      |p AS (SELECT CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS DECIMAL(38,0)) AS pd,
      |        count(*) AS n_join_keys
      |      FROM ca JOIN cb USING (k)),
      |a AS (SELECT count(*) AS actual_rows
      |      FROM customer JOIN orders ON c_custkey = o_custkey)
      |SELECT n_join_keys, CAST(pd AS BIGINT) AS predicted_rows, actual_rows,
      |  CASE WHEN CAST(pd AS BIGINT) = actual_rows THEN 1 ELSE 0 END
      |    AS prediction_exact
      |FROM p, a""".stripMargin

  def jc1JoinCardinality(spark: SparkSession, sfDir: String): DataFrame = {
    // square and sum in decimal(38,0): the preflight targets exactly the
    // hot-key regime (c beyond ~3e9) where a BIGINT square wraps — Spark
    // wraps SILENTLY while DuckDB raises, so a Long here could "pass"
    // the check with a garbage prediction at the scale it exists for
    val counts = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .withColumn("__out_dec",
        col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
    val tot = counts.agg(sum("__out_dec").as("__total_dec"),
      sum("c").as("__in_rows"))
    val top = graft.plans.TopK.perKey(
      counts.crossJoin(broadcast(tot)), Seq(),
      Seq(col("__out_dec").desc, col("user_id").asc), 5)
    top.select(col("rnk").as("rank"), col("user_id"), col("c").as("n_rows"),
      jc1CheckedLong(col("__out_dec")).as("out_rows"),
      round(col("__out_dec").cast("double") / col("__total_dec").cast("double"), 6)
        .as("share_of_join"),
      jc1CheckedLong(col("__total_dec")).as("total_join_rows"),
      col("__in_rows").as("total_in_rows"))
  }

  /** decimal → BIGINT with a loud per-row failure instead of Spark's
    * silent non-ANSI wrap/null on overflow. */
  private def jc1CheckedLong(c: Column): Column =
    when(c > lit(Long.MaxValue).cast("decimal(38,0)"),
      raise_error(concat(lit("jc1: join cardinality overflows BIGINT: "),
        c.cast("string"))).cast("long"))
      .otherwise(c.cast("long"))

  val jc1Sql: String =
    """WITH c AS (SELECT user_id, count(*) AS c, count(*) * count(*) AS out_rows
      |           FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(out_rows) AS BIGINT) AS total,
      |        CAST(sum(c) AS BIGINT) AS in_rows FROM c)
      |SELECT rank, user_id, n_rows, out_rows, share_of_join,
      |  total AS total_join_rows, in_rows AS total_in_rows
      |FROM (
      |  SELECT row_number() OVER (ORDER BY out_rows DESC, user_id) AS rank,
      |    user_id, c AS n_rows, out_rows,
      |    round(CAST(out_rows AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share_of_join,
      |    total, in_rows
      |  FROM c, t)
      |WHERE rank <= 5""".stripMargin

  /** acf1_autocorr — lag-1 autocorrelation of weekly revenue ("does a
    * good week predict the next"): stat1's recipe applied to a time
    * series. The accumulators (S, Q=Σx², Σx·x₊₁, endpoints) are EXACT
    * — decimal(38) here, HUGEINT in the oracle — and the expanded
    * closed form r = (n²Σxy − nS(2S−x₁−xₙ) + (n−1)S²)/(n²Q − nS²)
    * is evaluated in double in one shared operation order. The
    * consecutive-week pairing runs over the calendar-bounded weekly
    * aggregate via the range-partitioned global rank (Dist.globalRank)
    * and a rank/rank+1 self-join — never a partitionless window, which
    * drags the whole span through ONE task (a straggler at decade-long
    * spans; same Σ of exact decimal products, so the value is
    * bit-identical to the lead() form). The weekly aggregate feeds both
    * the moment pass and the pairing pass, so it is materialized once
    * (two orders scans → one). */
  def acf1Autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val weekly = Tables.orders(spark, sfDir)
      .select(expr("datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01') div 7")
        .as("week"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("rev"))
      .groupBy("week").agg(sum("rev").as("rev"))
      .localCheckpoint()
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val g = weekly.agg(
      count(lit(1)).as("n_weeks"),
      dec(sum(dec(col("rev")))).cast("double").as("s"),
      sum(dec(col("rev")) * dec(col("rev"))).cast("double").as("q"),
      expr("CAST(min_by(rev, week) AS DOUBLE)").as("x1"),
      expr("CAST(max_by(rev, week) AS DOUBLE)").as("xn"))
    val ranked = graft.Dist.globalRank(weekly, Seq(col("week").asc), "__rk")
    val xy = ranked.select(col("__rk"), col("rev"))
      .join(ranked.select((col("__rk") - 1).as("__rk"),
        col("rev").as("nrev")), "__rk")
      .agg(sum(dec(col("rev")) * dec(col("nrev"))).cast("double").as("sxy"))
    g.crossJoin(broadcast(xy))
      .select(col("n_weeks"),
        round(expr(
          """(CAST(n_weeks AS DOUBLE) * CAST(n_weeks AS DOUBLE) * sxy
            | - CAST(n_weeks AS DOUBLE) * s * (2 * s - x1 - xn)
            | + (CAST(n_weeks AS DOUBLE) - 1) * s * s)
            |/ (CAST(n_weeks AS DOUBLE) * CAST(n_weeks AS DOUBLE) * q
            |   - CAST(n_weeks AS DOUBLE) * s * s)""".stripMargin), 6)
          .as("acf_lag1"))
  }

  val acf1Sql: String =
    """WITH weekly AS (
      |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) // 7 AS week,
      |    CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |g AS (SELECT count(*) AS n_weeks,
      |        CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE) AS s,
      |        CAST(sum(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT)) AS DOUBLE) AS q,
      |        CAST(min_by(rev, week) AS DOUBLE) AS x1,
      |        CAST(max_by(rev, week) AS DOUBLE) AS xn
      |      FROM weekly),
      |xy AS (SELECT CAST(sum(CAST(rev AS HUGEINT) * CAST(nrev AS HUGEINT)) AS DOUBLE) AS sxy
      |       FROM (SELECT rev, lead(rev) OVER (ORDER BY week) AS nrev FROM weekly)
      |       WHERE nrev IS NOT NULL)
      |SELECT n_weeks,
      |  round((CAST(n_weeks AS DOUBLE) * CAST(n_weeks AS DOUBLE) * sxy
      |   - CAST(n_weeks AS DOUBLE) * s * (2 * s - x1 - xn)
      |   + (CAST(n_weeks AS DOUBLE) - 1) * s * s)
      |  / (CAST(n_weeks AS DOUBLE) * CAST(n_weeks AS DOUBLE) * q
      |     - CAST(n_weeks AS DOUBLE) * s * s), 6) AS acf_lag1
      |FROM g, xy""".stripMargin

  /** hb1_ewma — integer-exact exponential smoothing of weekly revenue
    * (α = 1/2): sₖ = (sₖ₋₁ + xₖ) div 2 in CENTS — a float-decay EWMA
    * never hashes across engines, integer halving does. The recurrence
    * is inherently sequential, but the series is calendar-bounded
    * metadata: the weekly aggregate collapses to ONE row whose ordered
    * fold (aggregate() with an array accumulator here, a recursive CTE
    * there) costs nothing at any data scale — the 100 TB work is the
    * weekly rollup feeding it. */
  def hb1Ewma(spark: SparkSession, sfDir: String): DataFrame = {
    val weekly = Tables.orders(spark, sfDir)
      .select(expr("datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01') div 7")
        .as("week"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy("week").agg(sum("cents").as("rev"))
    weekly.agg(sort_array(collect_list(struct(col("week"), col("rev")))).as("ws"))
      .select(expr(
        """arrays_zip(ws, aggregate(ws,
          |  named_struct('s', CAST(0 AS BIGINT),
          |               'out', CAST(array() AS ARRAY<BIGINT>)),
          |  (acc, x) -> named_struct(
          |    's', (acc.s + x.rev) div 2,
          |    'out', concat(acc.out, array((acc.s + x.rev) div 2))),
          |  acc -> acc.out))""".stripMargin).as("z"))
      .select(explode(col("z")).as("r"))
      .select(col("r.ws.week").as("week"), col("r.ws.rev").as("rev"),
        col("r.1").as("smoothed"))
  }

  val hb1Sql: String =
    """WITH RECURSIVE weekly AS (
      |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) // 7 AS week,
      |    CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |l AS (SELECT list_sort(list(struct_pack(week := week, rev := rev))) AS ws,
      |        count(*) AS n FROM weekly),
      |r(i, s) AS (
      |  SELECT 1, struct_extract(ws[1], 'rev') // 2 FROM l
      |  UNION ALL
      |  SELECT i + 1, (s + struct_extract(ws[i + 1], 'rev')) // 2
      |  FROM r, l WHERE i < n)
      |SELECT struct_extract(ws[i], 'week') AS week,
      |  struct_extract(ws[i], 'rev') AS rev,
      |  CAST(s AS BIGINT) AS smoothed
      |FROM r, l""".stripMargin

  /** cp1_change_point — CUSUM change-point detection over weekly
    * revenue: the classic "where did the level shift" scan. The CUSUM
    * at week k is prefix_k − k·mean; multiplying by n_weeks makes it
    * INTEGER in cents (n·cusum_k = n·prefix_k − k·total), so the
    * argmax — the detected change week — is exact integer comparison,
    * no float accumulation anywhere. Weekly prefix sums ride the
    * distributed prefix scan; the final report normalizes once. */
  def cp1ChangePoint(spark: SparkSession, sfDir: String): DataFrame = {
    val weekly = Tables.orders(spark, sfDir)
      .select(expr("datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01') div 7")
        .as("week"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy("week").agg(sum("cents").as("rev"))
    val cum = graft.Dist.runningTotal(weekly, Seq(col("week").asc), "rev")
    val tot = weekly.agg(sum("rev").as("__total"), count(lit(1)).as("__n"))
    val scored = graft.Dist.globalRank(cum, Seq(col("week").asc), "__rank")
      .crossJoin(broadcast(tot))
      .withColumn("score",
        abs(col("rev_end") * col("__n") - col("__rank") * col("__total")))
    graft.plans.TopK.perKey(
      scored.select("week", "score", "__n", "__total"), Seq(),
      Seq(col("score").desc, col("week").asc), 1)
      .select(col("week").as("change_week"), col("score").as("cusum_num"),
        round(col("score").cast("double")
          / (col("__n") * lit(100L)).cast("double"), 2).as("cusum_dollars"))
  }

  val cp1Sql: String =
    """WITH weekly AS (
      |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) // 7 AS week,
      |    CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |c AS (SELECT week, rev,
      |        CAST(sum(rev) OVER (ORDER BY week) AS BIGINT) AS rev_end,
      |        CAST(row_number() OVER (ORDER BY week) AS BIGINT) AS rnk
      |      FROM weekly),
      |t AS (SELECT CAST(sum(rev) AS BIGINT) AS total, count(*) AS n FROM weekly),
      |s AS (SELECT week, abs(rev_end * n - rnk * total) AS score, n FROM c, t)
      |SELECT week AS change_week, score AS cusum_num,
      |  round(CAST(score AS DOUBLE) / CAST(n * 100 AS DOUBLE), 2) AS cusum_dollars
      |FROM s ORDER BY score DESC, week LIMIT 1""".stripMargin

  /** mb1_market_basket — association mining over order baskets: for
    * every unordered part pair co-occurring in an order, support
    * counts, lift = pair·N/(c_a·c_b), and both directed confidences —
    * every statistic exact integers with one double division (wc1's
    * policy, different domain). Pair generation explodes per-order
    * part sets map-side (baskets are small — pair volume is
    * Σ|basket|², not N²); the top-20 rides bounded heaps. */
  def mb1MarketBasket(spark: SparkSession, sfDir: String): DataFrame = {
    // the deduped basket table feeds FOUR consumers (per-part counts,
    // the order count, and both self-join sides); materialize it once —
    // unchecked, each consumer re-ran the lineitem scan + distinct
    // (plan showed 5 lineitem scans), a full fact-table pass each at
    // 100 TB
    val baskets = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val parts = baskets.groupBy("l_partkey").agg(count(lit(1)).as("c"))
    val nOrders = baskets.select("l_orderkey").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"), "l_orderkey")
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("pair_support"))
    val scored = pairs
      .join(parts.select(col("l_partkey").as("part_a"), col("c").as("c_a")), "part_a")
      .join(parts.select(col("l_partkey").as("part_b"), col("c").as("c_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("pair_support"),
        round((col("pair_support") * col("n_orders")).cast("double")
          / (col("c_a") * col("c_b")).cast("double"), 6).as("lift"),
        round(col("pair_support").cast("double") / col("c_a").cast("double"), 6)
          .as("conf_a_to_b"),
        round(col("pair_support").cast("double") / col("c_b").cast("double"), 6)
          .as("conf_b_to_a"))
    graft.plans.TopK.perKey(scored, Seq(),
      Seq(col("pair_support").desc, col("part_a").asc, col("part_b").asc),
      20, "rank")
  }

  val mb1Sql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY 1),
      |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
      |pr AS (SELECT a.l_partkey AS part_a, bb.l_partkey AS part_b,
      |         count(*) AS pair_support
      |       FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
      |         AND a.l_partkey < bb.l_partkey
      |       GROUP BY 1, 2),
      |s AS (SELECT part_a, part_b, pair_support,
      |        round(CAST(pair_support * n_orders AS DOUBLE)
      |              / CAST(ca.c * cb.c AS DOUBLE), 6) AS lift,
      |        round(CAST(pair_support AS DOUBLE) / CAST(ca.c AS DOUBLE), 6) AS conf_a_to_b,
      |        round(CAST(pair_support AS DOUBLE) / CAST(cb.c AS DOUBLE), 6) AS conf_b_to_a
      |      FROM pr JOIN p ca ON pr.part_a = ca.l_partkey
      |              JOIN p cb ON pr.part_b = cb.l_partkey CROSS JOIN n)
      |SELECT part_a, part_b, pair_support, lift, conf_a_to_b, conf_b_to_a, rank FROM (
      |  SELECT *, row_number() OVER (ORDER BY pair_support DESC, part_a, part_b) AS rank
      |  FROM s) WHERE rank <= 20""".stripMargin

  /** cg1_cogroup — the TYPED cogroup surface
    * (KeyValueGroupedDataset.cogroup): both sides grouped on the key,
    * one function sees each key's two iterators — the escape hatch
    * for per-key merge logic no join can express (here: paired
    * order/event counts, trivially verifiable). Shuffles each side
    * once on the key, like a join, with arbitrary Scala inside. */
  def cg1Cogroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("key")).as[Long]
    val events = Tables.events(spark, sfDir)
      .select(col("user_id").as("key")).as[Long]
    orders.groupByKey(identity)
      .cogroup(events.groupByKey(identity)) { (k, os, es) =>
        Iterator((k, os.size.toLong, es.size.toLong))
      }
      .toDF("key", "n_orders", "n_events")
  }

  val cg1Sql: String =
    """WITH o AS (SELECT o_custkey AS key, count(*) AS n_orders FROM orders GROUP BY 1),
      |e AS (SELECT user_id AS key, count(*) AS n_events FROM events GROUP BY 1)
      |SELECT coalesce(o.key, e.key) AS key,
      |  coalesce(n_orders, 0) AS n_orders,
      |  coalesce(n_events, 0) AS n_events
      |FROM o FULL OUTER JOIN e ON o.key = e.key""".stripMargin

  /** wm1_weighted_median — exact quantity-weighted median price: sort
    * by value, distributed running-weight prefix scan
    * (Dist.runningTotal — integer weights, never a one-task window),
    * then the first row where 2·cum ≥ total (integer comparison, no
    * float quantile math). The weighted complement of m1's exact
    * percentiles. */
  def wm1WeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").as("price"),
        col("l_quantity").cast("long").as("w"),
        col("l_orderkey"), col("l_linenumber"))
    val ord = Seq(col("price").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    val cum = graft.Dist.runningTotal(li, ord, "w")
    val tot = li.agg(sum("w").as("__tw"))
    cum.crossJoin(broadcast(tot))
      .filter(col("w_end") * 2 >= col("__tw"))
      .agg(min(struct(col("price"), col("l_orderkey"), col("l_linenumber")))
        .as("__m"), min("__tw").as("total_weight"))
      .select(col("total_weight"), col("__m.price").as("weighted_median"))
  }

  val wm1Sql: String =
    """WITH li AS (SELECT l_extendedprice AS price, CAST(l_quantity AS BIGINT) AS w,
      |              l_orderkey, l_linenumber FROM lineitem),
      |c AS (SELECT price, w, l_orderkey, l_linenumber,
      |        sum(w) OVER (ORDER BY price, l_orderkey, l_linenumber) AS cum
      |      FROM li),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM li)
      |SELECT tw AS total_weight,
      |  (SELECT min(price) FROM c, t WHERE cum * 2 >= tw) AS weighted_median
      |FROM t""".stripMargin

  /** st3_anova — one-way ANOVA F across the event-type groups: all
    * accumulators exact (integer counts, decimal sums scaled to
    * integers), and the single cross-group float reduction
    * (Σ S_g²/n_g) runs as an ORDERED sequential fold over the
    * name-sorted group array — aggregate() here, list_reduce there —
    * so even that sum has one defined operation order in both
    * engines. F, SSB, SSW are fixed-order double expressions. */
  def st3Anova(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_g"),
        (sum("v") * 100).cast("long").as("s_g"),
        (sum(col("v") * col("v")) * 10000).cast("long").as("q_g"))
    per.agg(collect_list(struct(col("event_type"), col("n_g"), col("s_g"),
        col("q_g"))).as("gs"))
      .select(
        expr("size(gs)").as("k"),
        expr("aggregate(gs, CAST(0 AS BIGINT), (a, g) -> a + g.n_g)").as("n"),
        expr("aggregate(gs, CAST(0 AS BIGINT), (a, g) -> a + g.s_g)").as("__s"),
        expr("aggregate(gs, CAST(0 AS BIGINT), (a, g) -> a + g.q_g)").as("__q"),
        expr("""aggregate(sort_array(gs), CAST(0 AS DOUBLE), (a, g) ->
                a + (CAST(g.s_g AS DOUBLE) / 100.0) * (CAST(g.s_g AS DOUBLE) / 100.0)
                    / CAST(g.n_g AS DOUBLE))""").as("__b"))
      .select(col("k"), col("n"),
        round(col("__b") - (col("__s").cast("double") / 100.0)
          * (col("__s").cast("double") / 100.0) / col("n").cast("double"), 4)
          .as("ss_between"),
        round(col("__q").cast("double") / 10000.0 - col("__b"), 4).as("ss_within"),
        round(((col("__b") - (col("__s").cast("double") / 100.0)
          * (col("__s").cast("double") / 100.0) / col("n").cast("double"))
          / (col("k") - 1).cast("double"))
          / ((col("__q").cast("double") / 10000.0 - col("__b"))
            / (col("n") - col("k")).cast("double")), 4).as("f_stat"))
  }

  val st3Sql: String =
    """WITH per AS (
      |  SELECT event_type, count(*) AS n_g,
      |    CAST(sum(value::DECIMAL(18,2)) * 100 AS BIGINT) AS s_g,
      |    CAST(sum(value::DECIMAL(18,2) * value::DECIMAL(18,2)) * 10000 AS BIGINT) AS q_g
      |  FROM events GROUP BY 1),
      |g AS (SELECT list_sort(list(struct_pack(event_type := event_type,
      |               n_g := n_g, s_g := s_g, q_g := q_g))) AS gs,
      |        CAST(count(*) AS INT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
      |        CAST(sum(s_g) AS BIGINT) AS s, CAST(sum(q_g) AS BIGINT) AS q
      |      FROM per),
      |b AS (SELECT k, n, s, q,
      |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |          list_transform(gs, g -> (CAST(struct_extract(g, 's_g') AS DOUBLE) / 100.0)
      |            * (CAST(struct_extract(g, 's_g') AS DOUBLE) / 100.0)
      |            / CAST(struct_extract(g, 'n_g') AS DOUBLE))),
      |          (a, x) -> a + x) AS bb
      |      FROM g)
      |SELECT k, n,
      |  round(bb - (CAST(s AS DOUBLE) / 100.0) * (CAST(s AS DOUBLE) / 100.0)
      |        / CAST(n AS DOUBLE), 4) AS ss_between,
      |  round(CAST(q AS DOUBLE) / 10000.0 - bb, 4) AS ss_within,
      |  round(((bb - (CAST(s AS DOUBLE) / 100.0) * (CAST(s AS DOUBLE) / 100.0)
      |          / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
      |        / ((CAST(q AS DOUBLE) / 10000.0 - bb) / CAST(n - k AS DOUBLE)), 4) AS f_stat
      |FROM b""".stripMargin

  /** path1_common_journeys — journey mining: the top-10 most common
    * 3-step event-type paths across user sequences (seq2's trigram
    * extension). Two lead()s over one (user, time) window — one
    * shuffle — then the global top-10 on bounded heaps. */
  def path1CommonJourneys(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("s1"))
      .withColumn("s2", lead("s1", 1).over(w))
      .withColumn("s3", lead("s1", 2).over(w))
      .filter(col("s2").isNotNull && col("s3").isNotNull)
      .select(concat_ws(">", col("s1"), col("s2"), col("s3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    graft.plans.TopK.perKey(paths, Seq(),
      Seq(col("n").desc, col("path").asc), 10, "rank")
  }

  val path1Sql: String =
    """WITH s AS (
      |  SELECT event_type AS s1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
      |  FROM events),
      |c AS (SELECT concat_ws('>', s1, s2, s3) AS path, count(*) AS n FROM s
      |      WHERE s2 IS NOT NULL AND s3 IS NOT NULL GROUP BY 1)
      |SELECT path, n, rank FROM (
      |  SELECT path, n, row_number() OVER (ORDER BY n DESC, path ASC) AS rank
      |  FROM c) WHERE rank <= 10""".stripMargin

  /** imp1_impute — per-group mean imputation for missing values
    * (every 13th event's value nulled synthetically): the group mean
    * comes from an EXACT decimal sum with one double division, so the
    * imputed value is bit-identical in both engines — a double-sum
    * mean would drift with aggregation order. Row count and flags are
    * preserved (imputation, not dropping). */
  def imp1Impute(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 13 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
    val means = ev.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("__mean"))
    ev.join(broadcast(means), "event_type")
      .select(col("event_id"), col("event_type"),
        round(coalesce(col("value"), col("__mean")), 6).as("value_imputed"),
        col("value").isNull.cast("int").as("was_imputed"))
  }

  val imp1Sql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
      |  FROM events),
      |m AS (SELECT event_type,
      |        CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) / count(*) AS mean_v
      |      FROM ev WHERE value IS NOT NULL GROUP BY 1)
      |SELECT event_id, ev.event_type,
      |  round(coalesce(value, mean_v), 6) AS value_imputed,
      |  CASE WHEN value IS NULL THEN 1 ELSE 0 END AS was_imputed
      |FROM ev JOIN m USING (event_type)""".stripMargin

  /** nu1_new_users — growth accounting: per-day first-time users and
    * the cumulative user count. First-seen day is a min() per user;
    * the cumulative count is the distributed prefix scan over per-day
    * arrivals (Dist.runningTotal) — exact integers end to end. */
  def nu1NewUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val firstSeen = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')").as("day"))
      .groupBy("user_id").agg(min("day").as("first_day"))
    val perDay = firstSeen.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
    graft.Dist.runningTotal(perDay, Seq(col("day").asc), "new_users")
      .withColumnRenamed("new_users_end", "cum_users")
  }

  val nu1Sql: String =
    """WITH f AS (
      |  SELECT user_id, min(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS day
      |  FROM events GROUP BY 1),
      |p AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
      |SELECT day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
      |FROM p""".stripMargin

  /** chrn1_churn — weekly churn: a user active in week w churns iff
    * absent in week w+1. The absence test is a left join against the
    * NEXT week's membership shifted onto w (equi-join on (user, week),
    * no inequality join); churn rate = one double division of exact
    * counts. The final week has no successor and is excluded. */
  def chrn1Churn(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') div 7").as("week"))
      .distinct()
    val nextShift = pairs.select(col("user_id"),
      (col("week") - 1).as("week"), lit(1).as("__next"))
    val mx = pairs.agg(max("week").as("__maxw"))
    pairs.join(nextShift, Seq("user_id", "week"), "left")
      .crossJoin(broadcast(mx))
      .filter(col("week") < col("__maxw"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__next").isNull, 1L).otherwise(0L)).as("n_churned"))
      .select(col("week"), col("n_active"), col("n_churned"),
        round(col("n_churned").cast("double") / col("n_active").cast("double"), 6)
          .as("churn_rate"))
  }

  val chrn1Sql: String =
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
      |  FROM events),
      |nx AS (SELECT user_id, week - 1 AS week, 1 AS nxt FROM p),
      |mx AS (SELECT max(week) AS maxw FROM p)
      |SELECT week, count(*) AS n_active,
      |  CAST(sum(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
      |  round(CAST(sum(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 6) AS churn_rate
      |FROM p LEFT JOIN nx USING (user_id, week), mx
      |WHERE week < maxw
      |GROUP BY week""".stripMargin

  /** rfm1_rfm_segments — RFM customer segmentation: recency (days
    * since last order, integer), frequency (order count), monetary
    * (EXACT decimal spend) each quintiled through the distributed
    * global-rank shape (quintile = ((rank−1)·5) div n, pure integer
    * arithmetic; recency ranks ascending so quintile 0 = most recent).
    * Rolled up to segment level: members + monetary share, one double
    * division each. The classic CRM cube, built from the same
    * scale-safe parts as q18. */
  def rfm1RfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val mx = o.agg(max(col("o_orderdate")).cast("date").as("__md"))
    val per = o.groupBy("o_custkey")
      .agg(max(col("o_orderdate")).cast("date").as("__last"),
        count(lit(1)).as("frequency"), sum("p").as("monetary"))
      .crossJoin(broadcast(mx))
      .withColumn("recency", datediff(col("__md"), col("__last")))
      .drop("__md", "__last")
      // consumed by the sizing count, the first quintile rank, and the
      // spend total — materialize the per-customer aggregate once
      // instead of re-running the orders scan + groupBy three times
      .localCheckpoint()
    val n = per.count()
    def quintile(df: DataFrame, ord: Seq[org.apache.spark.sql.Column],
                 name: String): DataFrame =
      graft.Dist.globalRank(df, ord, s"__r_$name")
        .withColumn(s"q_$name", expr(s"((__r_$name - 1) * 5) div $n"))
        .drop(s"__r_$name")
    val q3 = quintile(quintile(quintile(per,
      Seq(col("recency").asc, col("o_custkey").asc), "r"),
      Seq(col("frequency").desc, col("o_custkey").asc), "f"),
      Seq(col("monetary").desc, col("o_custkey").asc), "m")
    val tot = per.agg(sum("monetary").cast("double").as("__total"))
    q3.crossJoin(broadcast(tot))
      .groupBy(concat_ws("-", col("q_r"), col("q_f"), col("q_m")).as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum("monetary").cast("double").as("segment_spend"),
        min("__total").as("__t"))
      .select(col("segment"), col("n_customers"), col("segment_spend"),
        round(col("segment_spend") / col("__t"), 6).as("spend_share"))
  }

  val rfm1Sql: String =
    """WITH o AS (SELECT o_custkey, o_orderdate,
      |             o_totalprice::DECIMAL(18,2) AS p FROM orders),
      |mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS md FROM o),
      |per AS (SELECT o_custkey,
      |          datediff('day', CAST(max(o_orderdate) AS DATE), (SELECT md FROM mx)) AS recency,
      |          count(*) AS frequency, sum(p) AS monetary
      |        FROM o GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM per),
      |q AS (SELECT o_custkey, monetary,
      |        ((row_number() OVER (ORDER BY recency, o_custkey) - 1) * 5) // (SELECT n FROM n) AS q_r,
      |        ((row_number() OVER (ORDER BY frequency DESC, o_custkey) - 1) * 5) // (SELECT n FROM n) AS q_f,
      |        ((row_number() OVER (ORDER BY monetary DESC, o_custkey) - 1) * 5) // (SELECT n FROM n) AS q_m
      |      FROM per),
      |t AS (SELECT CAST(sum(monetary) AS DOUBLE) AS total FROM per)
      |SELECT concat_ws('-', q_r, q_f, q_m) AS segment,
      |  count(*) AS n_customers,
      |  CAST(sum(monetary) AS DOUBLE) AS segment_spend,
      |  round(CAST(sum(monetary) AS DOUBLE) / total, 6) AS spend_share
      |FROM q, t GROUP BY 1, total""".stripMargin

  /** pc1_period_over_period — weekly revenue with percent change vs
    * the previous week: revenue is an exact DECIMAL sum per week
    * (order-independent), weeks are integer day-arithmetic from a
    * base that precedes the data (mixed-sign integer division
    * truncates differently across engines). The previous-week lookup
    * runs over the WEEKLY AGGREGATE through the range-partitioned
    * global rank (Dist.globalRank) and a rank/rank+1 left self-join —
    * the week count is calendar-bounded, but a partitionless lag window
    * still funnels the whole span through ONE task (a straggler at
    * decade-long spans); the join picks the identical predecessor row,
    * so every value is unchanged. */
  def pc1PeriodOverPeriod(spark: SparkSession, sfDir: String): DataFrame = {
    val weekly = Tables.orders(spark, sfDir)
      .select(expr("datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01') div 7")
        .as("week"), col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_orders"), sum("p").cast("double").as("revenue"))
    val ranked = graft.Dist.globalRank(weekly, Seq(col("week").asc), "__rk")
    ranked
      .join(ranked.select((col("__rk") + 1).as("__rk"),
        col("revenue").as("prev_revenue")), Seq("__rk"), "left")
      .withColumn("pct_change",
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue"), 6))
      .drop("__rk")
  }

  val pc1Sql: String =
    """WITH weekly AS (
      |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) // 7 AS week,
      |    count(*) AS n_orders,
      |    CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT week, n_orders, revenue,
      |  lag(revenue) OVER (ORDER BY week) AS prev_revenue,
      |  round((revenue - lag(revenue) OVER (ORDER BY week))
      |        / lag(revenue) OVER (ORDER BY week), 6) AS pct_change
      |FROM weekly""".stripMargin

  // ---- ab2_cuped ------------------------------------------------------

  /** ab2_cuped — CUPED variance reduction for the A/B readout
    * (Deng et al.): the post-period revenue diff adjusted by the
    * pre-period covariate, θ = cov(x,y)/var(x) pooled over both arms.
    * Everything that can be exact IS exact: per-user pre/post cents
    * are integer sums, the θ/ρ² closed forms are DECIMAL(38,0)
    * products (reg1's rule), and every double output is a SHARED
    * formula text parsed by Spark and embedded in the oracle (ab1's
    * pattern) — identical op order by construction. θ is rounded
    * once and the ROUNDED value feeds the adjusted diff, so both
    * engines adjust by the same number. One user-keyed aggregation +
    * a 1-row reduction. */
  def ab2Cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .select(col("user_id"),
        (col("ts").cast("date") < lit("2024-01-16").cast("date"))
          .as("pre"),
        when(col("event_type") === "purchase",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L).as("cents"))
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("bucket", col("user_id") % 2)
    val g = users.groupBy().agg(
      sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("bucket") === 0, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("bucket") === 1, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("bucket") === 0, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("bucket") === 1, col("y")).otherwise(0L)).as("sy_b"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    g.withColumn("theta", expr(ab2ThetaExpr))
      .withColumn("diff_raw", expr(ab2DiffRawExpr))
      .withColumn("diff_cuped", expr(ab2DiffCupedExpr))
      .withColumn("rho2", expr(ab2Rho2Expr))
      .select("n_a", "n_b", "theta", "diff_raw", "diff_cuped", "rho2")
  }

  // shared formula text — parsed by Spark AND embedded in the oracle
  private val ab2N = "(n_a + n_b)"
  private val ab2Sx = "(sx_a + sx_b)"
  private val ab2Sy = "(sy_a + sy_b)"
  private val ab2VarX =
    s"(CAST($ab2N AS DECIMAL(38,0)) * sxx - CAST($ab2Sx AS DECIMAL(38,0)) * $ab2Sx)"
  private val ab2VarY =
    s"(CAST($ab2N AS DECIMAL(38,0)) * syy - CAST($ab2Sy AS DECIMAL(38,0)) * $ab2Sy)"
  private val ab2Cov =
    s"(CAST($ab2N AS DECIMAL(38,0)) * sxy - CAST($ab2Sx AS DECIMAL(38,0)) * $ab2Sy)"
  val ab2ThetaExpr: String =
    s"""CASE WHEN $ab2VarX = 0 THEN 0.0
       |ELSE round(CAST($ab2Cov AS DOUBLE) / CAST($ab2VarX AS DOUBLE), 6) END""".stripMargin
  val ab2DiffRawExpr: String =
    """round((CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |       - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / 100.0, 6)""".stripMargin
  val ab2DiffCupedExpr: String =
    """round((CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |       - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / 100.0
      |      - theta * ((CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |                  - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / 100.0), 6)""".stripMargin
  val ab2Rho2Expr: String =
    s"""CASE WHEN $ab2VarX = 0 OR $ab2VarY = 0 THEN 0.0
       |ELSE round(CAST($ab2Cov AS DOUBLE) * CAST($ab2Cov AS DOUBLE)
       |     / (CAST($ab2VarX AS DOUBLE) * CAST($ab2VarY AS DOUBLE)), 6) END""".stripMargin

  val ab2Sql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
       |      AND event_type = 'purchase'
       |      THEN CAST(value::DECIMAL(18,2) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
       |      AND event_type = 'purchase'
       |      THEN CAST(value::DECIMAL(18,2) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
       |    user_id % 2 AS bucket
       |  FROM events GROUP BY user_id),
       |g AS (SELECT
       |  CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |  CAST(sum(CASE WHEN bucket = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
       |  CAST(sum(CASE WHEN bucket = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
       |  CAST(sum(CASE WHEN bucket = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
       |  CAST(sum(CASE WHEN bucket = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
       |  CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
       |  CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
       |  CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
       |  FROM u),
       |t AS (SELECT *, $ab2ThetaExpr AS theta FROM g)
       |SELECT n_a, n_b, theta,
       |  $ab2DiffRawExpr AS diff_raw,
       |  $ab2DiffCupedExpr AS diff_cuped,
       |  $ab2Rho2Expr AS rho2
       |FROM t""".stripMargin

  // ---- ret1_d7_return -------------------------------------------------

  /** ret1_d7_return — 7-day return rate per activity day (the growth
    * team's daily retention curve; coh1 is the weekly cohort view):
    * for each (user, active day), returned iff the user's NEXT active
    * day is within 7 days — lead() over the per-user distinct-day
    * sequence, so the check is one window pass on the user key, never
    * a day-range self-join. Exact integer day arithmetic; rate = one
    * division per day row. */
  def ret1D7Return(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')").cast("long")
          .as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("day").asc)
    ud.withColumn("next_day", lead("day", 1).over(w))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum((col("next_day").isNotNull
          && col("next_day") <= col("day") + 7).cast("long")).as("n_returned"))
      .withColumn("return_rate", round(col("n_returned").cast("double")
        / col("n_active").cast("double"), 6))
  }

  val ret1Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
      |  FROM events),
      |n AS (SELECT user_id, day,
      |        lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |      FROM ud)
      |SELECT day, count(*) AS n_active,
      |  CAST(sum(CASE WHEN next_day IS NOT NULL AND next_day <= day + 7
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
      |  round(CAST(sum(CASE WHEN next_day IS NOT NULL AND next_day <= day + 7
      |                      THEN 1 ELSE 0 END) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 6) AS return_rate
      |FROM n GROUP BY 1""".stripMargin

  // ---- fr1_freshness --------------------------------------------------

  /** fr1_freshness — per-stream STALENESS report (the first panel of
    * every ingest dashboard): each event type's newest event-time
    * against the feed-wide newest, in whole minutes behind — a stream
    * whose staleness grows is a dead producer long before volume
    * alarms fire. Exact integer epoch-ms, one aggregation + a 1-row
    * broadcast; DIV on non-negative deltas (no floor/truncate split). */
  def fr1Freshness(spark: SparkSession, sfDir: String): DataFrame = {
    val perType = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max(unix_millis(col("ts"))).as("newest_ms"))
    val global = perType.agg(max("newest_ms").as("feed_newest_ms"))
    perType.crossJoin(broadcast(global))
      .select(col("event_type"), col("n_events"), col("newest_ms"),
        expr("(feed_newest_ms - newest_ms) div 60000")
          .as("minutes_behind"))
  }

  val fr1Sql: String =
    """WITH p AS (
      |  SELECT event_type, count(*) AS n_events,
      |    max(epoch_ms(ts)) AS newest_ms
      |  FROM events GROUP BY 1),
      |g AS (SELECT max(newest_ms) AS feed_newest_ms FROM p)
      |SELECT event_type, n_events, newest_ms,
      |  (feed_newest_ms - newest_ms) // 60000 AS minutes_behind
      |FROM p, g""".stripMargin

  // ---- io1_order_integrity --------------------------------------------

  /** io1_order_integrity — funnel ORDER violations (the data-integrity
    * audit run before trusting q17's funnel on a new feed): users
    * whose first purchase precedes their first view, or who purchased
    * with no view at all — either means broken instrumentation or
    * clock skew upstream. Conditional mins on one user-keyed
    * aggregation; exact integer epoch-micros comparison; one row. */
  def io1OrderIntegrity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view",
          unix_micros(col("ts")))).as("first_view"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("first_purchase"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("first_purchase").isNotNull.cast("long")).as("n_purchasers"),
        sum((col("first_purchase").isNotNull
          && (col("first_view").isNull
            || col("first_purchase") < col("first_view"))).cast("long"))
          .as("n_violations"))
      .withColumn("violation_share",
        round(col("n_violations").cast("double")
          / col("n_purchasers").cast("double"), 6))

  val io1Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
      |  FROM events GROUP BY 1)
      |SELECT count(*) AS n_users,
      |  CAST(sum(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_purchasers,
      |  CAST(sum(CASE WHEN fp IS NOT NULL AND (fv IS NULL OR fp < fv)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      |  round(CAST(sum(CASE WHEN fp IS NOT NULL AND (fv IS NULL OR fp < fv)
      |                      THEN 1 ELSE 0 END) AS DOUBLE)
      |        / CAST(sum(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE),
      |        6) AS violation_share
      |FROM u""".stripMargin

  // ---- id1_sequence_gaps ----------------------------------------------

  /** id1_sequence_gaps — ingest-sequence audit: the event_id space
    * should be dense and unique; missing ids mean dropped messages,
    * duplicate ids mean replays — the first two questions after any
    * pipeline incident. n_missing = (max−min+1) − distinct, n_dupes =
    * rows − distinct, all exact integers off one aggregation. */
  def id1SequenceGaps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("event_id").as("n_distinct"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .select(col("n_rows"), col("n_distinct"), col("min_id"), col("max_id"),
        (col("max_id") - col("min_id") + 1 - col("n_distinct")).as("n_missing"),
        (col("n_rows") - col("n_distinct")).as("n_dupes"))

  val id1Sql: String =
    """SELECT count(*) AS n_rows,
      |  count(DISTINCT event_id) AS n_distinct,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  max(event_id) - min(event_id) + 1 - count(DISTINCT event_id) AS n_missing,
      |  count(*) - count(DISTINCT event_id) AS n_dupes
      |FROM events""".stripMargin

  // ---- sop1_share_of_parent -------------------------------------------

  /** sop1_share_of_parent — the BI drill-down staple: each nation's
    * revenue as a share of its REGION's total (q6/gs1 give the
    * subtotals; this gives the ratio a dashboard actually renders).
    * Exact DECIMAL cents at both levels; the parent total comes from a
    * window over the nation-level aggregate (region cardinality rows —
    * never a second scan), one terminal division. */
  def sop1ShareOfParent(spark: SparkSession, sfDir: String): DataFrame = {
    val byNation = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sfDir),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sfDir),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("r_name")
    byNation
      .withColumn("region_cents", sum("cents").over(w))
      .select(col("r_name"), col("n_name"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"),
        round(col("cents").cast("double")
          / col("region_cents").cast("double"), 6).as("share_of_region"))
  }

  val sop1Sql: String =
    """WITH n AS (
      |  SELECT r_name, n_name,
      |    CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name,
      |  round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
      |  round(CAST(cents AS DOUBLE)
      |        / CAST(sum(cents) OVER (PARTITION BY r_name) AS DOUBLE), 6)
      |    AS share_of_region
      |FROM n""".stripMargin

  // ---- jk1_jackknife --------------------------------------------------

  /** jk1_jackknife — delete-one-BLOCK jackknife standard error of the
    * mean order value (the uncertainty a metrics dashboard should
    * print next to every mean, computed without RNG): orders are
    * assigned to B=10 deterministic hash blocks, each leave-one-out
    * mean μ_b comes from exact integer cents sums, is QUANTIZED once
    * to the micro-dollar grid (identical doubles both engines → safe
    * floor), and the jackknife variance (B−1)/B · Σ(μ_b − μ̄)² is then
    * pure integer arithmetic in DECIMAL(38,0) with one sqrt at the
    * end (IEEE-correctly-rounded, stat1's policy). One narrow block
    * aggregation, B-row intermediate, 1-row output. */
  def jk1Jackknife(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 10
    val blocks = Tables.orders(spark, sfDir)
      .select((graft.operators.Sampling.mixedHash(col("o_orderkey")) % B)
        .as("b"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .groupBy("b").agg(count(lit(1)).as("nb"), sum("cents").as("sb"))
    val tot = blocks.agg(sum("nb").as("n"), sum("sb").as("s"))
    val loo = blocks.crossJoin(broadcast(tot))
      .select(floor((col("s") - col("sb")).cast("double")
        / (col("n") - col("nb")).cast("double") / 100.0 * 1e6)
        .cast("long").as("q"), col("n"), col("s"))
    loo.agg(max("n").as("n_orders"),
        round(max("s").cast("double") / max("n").cast("double") / 100.0, 6)
          .as("mean_dollars"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("__qq"),
        sum(col("q").cast("decimal(38,0)")).as("__q1"))
      .select(col("n_orders"), col("mean_dollars"),
        // Σ(q−q̄)² = (B·Σq² − (Σq)²)/B, so V = (B−1)(B·Σq²−(Σq)²)/B²
        // and se = sqrt(numerator)/B — dividing by B^1.5 here once cost
        // an extra √B (caught by the classic-SE sanity spec)
        round(sqrt((lit(B - 1).cast("decimal(38,0)")
            * (lit(B).cast("decimal(38,0)") * col("__qq")
              - col("__q1") * col("__q1"))).cast("double"))
          / B.toDouble / 1e6, 6).as("jk_se_dollars"))
  }

  val jk1Sql: String = {
    val mh = s"(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length(CAST(o_orderkey AS VARCHAR)) + 1), " +
      s"__ji -> CAST(ascii(substring(CAST(o_orderkey AS VARCHAR), __ji, 1)) AS BIGINT))), " +
      s"(__jh, __jc) -> (__jh * 31 + __jc) % ${graft.operators.Embed.HashMod}) " +
      s"* ${graft.operators.Sampling.mixedHashSqlConst}) % ${graft.operators.Embed.HashMod}"
    s"""WITH blocks AS (
       |  SELECT ($mh) % 10 AS b, count(*) AS nb,
       |    CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT) AS sb
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
       |               CAST(sum(sb) AS BIGINT) AS s FROM blocks),
       |loo AS (SELECT CAST(floor(CAST(s - sb AS DOUBLE)
       |                 / CAST(n - nb AS DOUBLE) / 100.0 * 1000000.0) AS BIGINT) AS q,
       |          n, s
       |        FROM blocks, tot)
       |SELECT max(n) AS n_orders,
       |  round(CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE) / 100.0, 6)
       |    AS mean_dollars,
       |  round(sqrt(CAST(CAST(9 AS DECIMAL(38,0))
       |          * (CAST(10 AS DECIMAL(38,0))
       |             * sum(CAST(q AS DECIMAL(38,0)) * q)
       |             - sum(CAST(q AS DECIMAL(38,0))) * sum(CAST(q AS DECIMAL(38,0))))
       |        AS DOUBLE))
       |      / 10.0 / 1000000.0, 6) AS jk_se_dollars
       |FROM loo""".stripMargin
  }

  // ---- slo1_burn_rate -------------------------------------------------

  /** slo1_burn_rate — SLO error-budget BURN RATE per event type (the
    * SRE paging metric): breach share (value above the SLO threshold)
    * in the most recent day versus the whole period, as a ratio — a
    * burn rate over 1 means the recent window is eating budget faster
    * than baseline. Exact integer breach counts on both windows from
    * ONE scan (conditional aggregation — no second read, no self
    * join); two divisions and one ratio at the end, 0-guarded the
    * same way in both engines. */
  def slo1BurnRate(spark: SparkSession, sfDir: String): DataFrame = {
    val Thr = 400.0
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')").as("day"))
    val maxDay = ev.agg(max("day").as("max_day"))
    ev.crossJoin(broadcast(maxDay))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum((col("value") > Thr).cast("long")).as("n_breach"),
        sum((col("day") === col("max_day")).cast("long")).as("n_recent"),
        sum((col("value") > Thr && col("day") === col("max_day"))
          .cast("long")).as("n_breach_recent"))
      .withColumn("burn_rate", expr(slo1BurnExpr))
  }

  // shared formula text — parsed by Spark AND embedded in the oracle
  val slo1BurnExpr: String =
    """CASE WHEN n_breach = 0 OR n_recent = 0 THEN 0.0
      |ELSE round((CAST(n_breach_recent AS DOUBLE) / CAST(n_recent AS DOUBLE))
      |     / (CAST(n_breach AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) END""".stripMargin

  val slo1Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, value,
       |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
       |  FROM events),
       |m AS (SELECT max(day) AS max_day FROM ev),
       |g AS (SELECT event_type,
       |        count(*) AS n_total,
       |        CAST(sum(CASE WHEN value > 400.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_breach,
       |        CAST(sum(CASE WHEN day = max_day THEN 1 ELSE 0 END) AS BIGINT) AS n_recent,
       |        CAST(sum(CASE WHEN value > 400.0 AND day = max_day
       |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_recent
       |      FROM ev, m GROUP BY 1)
       |SELECT event_type, n_total, n_breach, n_recent, n_breach_recent,
       |  $slo1BurnExpr AS burn_rate
       |FROM g""".stripMargin

  // ---- ab3_segmented_lift ---------------------------------------------

  /** ab3_segmented_lift — HETEROGENEOUS treatment effects: ab1's
    * conversion lift computed per customer-value segment (user's total
    * spend tercile by exact integer cents through Dist.globalRank-free
    * arithmetic: spend div fixed band width) — the "who does the
    * feature actually work for" readout that an aggregate A/B hides.
    * Same exact-integer counts and ONE shared lift expression as ab1,
    * grouped by segment. */
  def ab3SegmentedLift(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L)).as("spend_cents"),
        max(when(col("event_type") === "purchase" && col("value") > 150.0, 1)
          .otherwise(0)).as("converted"))
      .withColumn("bucket", col("user_id") % 2)
      .withColumn("segment",
        least(expr("spend_cents div 100000"), lit(2L)))
    users.groupBy("segment")
      .agg(
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("bucket") === 0, col("converted").cast("long"))
          .otherwise(0L)).as("conv_a"),
        sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("bucket") === 1, col("converted").cast("long"))
          .otherwise(0L)).as("conv_b"))
      .withColumn("lift", expr(ab1LiftExpr))
  }

  // lazy: interpolates ab1LiftExpr, which initializes later in this object
  lazy val ab3Sql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |      THEN CAST(value::DECIMAL(18,2) * 100 AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS spend_cents,
       |    max(CASE WHEN event_type = 'purchase' AND value > 150.0
       |             THEN 1 ELSE 0 END) AS converted,
       |    user_id % 2 AS bucket
       |  FROM events GROUP BY 1),
       |s AS (SELECT *, least(spend_cents // 100000, 2) AS segment FROM u),
       |g AS (SELECT segment,
       |  CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN bucket = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
       |  CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |  CAST(sum(CASE WHEN bucket = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM s GROUP BY 1)
       |SELECT segment, n_a, conv_a, n_b, conv_b,
       |  ${ab1LiftExpr} AS lift
       |FROM g""".stripMargin

  /** ab1_ab_test — conversion lift between the two user halves
    * (user_id parity as the assignment hash): conversion = at least
    * one purchase event. Counts are exact integers; rates, lift, and
    * the pooled two-proportion z statistic are ONE fixed-order double
    * expression each (sqrt is IEEE-correctly-rounded, so even z is
    * bit-stable — stat1's policy). */
  def ab1AbTest(spark: SparkSession, sfDir: String): DataFrame = {
    // conversion = a HIGH-VALUE purchase: plain "any purchase"
    // saturates to 100% on this fixture (p=1 degenerates the z)
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0, 1)
        .otherwise(0)).as("converted"))
      .withColumn("bucket", col("user_id") % 2)
    users.groupBy()
      .agg(
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("bucket") === 0, col("converted").cast("long"))
          .otherwise(0L)).as("conv_a"),
        sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("bucket") === 1, col("converted").cast("long"))
          .otherwise(0L)).as("conv_b"))
      .withColumn("lift", expr(ab1LiftExpr))
      .withColumn("z", expr(ab1ZExpr))
  }

  // shared formula text — parsed by Spark AND embedded in the oracle,
  // so the double operation order is identical by construction
  val ab1LiftExpr: String =
    """CASE WHEN conv_a = 0 THEN 0.0 ELSE
      |round((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |      / (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) - 1, 6) END""".stripMargin
  val ab1ZExpr: String =
    """CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0 ELSE
      |round(((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
      |       - (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
      |      / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |             * (1 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) END""".stripMargin

  val ab1Sql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND value > 150.0 THEN 1 ELSE 0 END) AS converted,
       |    user_id % 2 AS bucket
       |  FROM events GROUP BY user_id),
       |g AS (SELECT
       |  CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN bucket = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
       |  CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |  CAST(sum(CASE WHEN bucket = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
       |FROM u)
       |SELECT n_a, conv_a, n_b, conv_b,
       |  $ab1LiftExpr AS lift,
       |  $ab1ZExpr AS z
       |FROM g""".stripMargin

  /** sql1_sql_api — the SQL-text front end: temp views + spark.sql()
    * running a TPC-H-Q5-shape revenue rollup whose text is (modulo
    * nothing) the same ANSI SQL the DuckDB oracle runs. Revenue is an
    * exact DECIMAL sum (order-independent; a double sum rounded at
    * 2 dp flips boundary cents at 100 TB row counts), cast to double
    * once at the end. */
  def sql1SqlApi(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(sql1Text)
  }

  /** The shared query text — runnable verbatim by Spark AND DuckDB. */
  val sql1Text: String =
    """SELECT n_name, count(*) AS n_lineitems,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * CAST(1 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  val sql1Sql: String = sql1Text

  /** ra1_rolling_active — rolling 7-day active users per day (WAU) +
    * same-day actives (DAU) + stickiness: the exact-distinct sliding
    * window, built scale-first — each distinct (day, user) pair
    * EXPLODES map-side into the ≤7 window-end days it is visible in,
    * turning the range join into an equi-join on the window day; the
    * exact distinct count then shuffles once on that day. Stickiness
    * is one double division of two exact counts. */
  def ra1RollingActive(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.events(spark, sfDir)
      .select(expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')").as("day"),
        col("user_id"))
      .distinct()
    val grid = pairs.select(col("day").as("w_day")).distinct()
    pairs.withColumn("w_day", explode(sequence(col("day"), col("day") + 6)))
      .join(grid, "w_day")
      .groupBy("w_day")
      .agg(
        countDistinct(when(col("day") === col("w_day"), col("user_id"))).as("dau"),
        countDistinct("user_id").as("wau"))
      .select(col("w_day").as("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
  }

  val ra1Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
      |    user_id
      |  FROM events),
      |grid AS (SELECT DISTINCT day AS w_day FROM du),
      |t AS (SELECT g.w_day, d.day, d.user_id
      |      FROM du d JOIN grid g ON g.w_day BETWEEN d.day AND d.day + 6)
      |SELECT w_day AS day,
      |  count(DISTINCT CASE WHEN day = w_day THEN user_id END) AS dau,
      |  count(DISTINCT user_id) AS wau,
      |  round(CAST(count(DISTINCT CASE WHEN day = w_day THEN user_id END) AS DOUBLE)
      |        / CAST(count(DISTINCT user_id) AS DOUBLE), 6) AS stickiness
      |FROM t GROUP BY 1""".stripMargin

  /** fp1_table_fingerprint — order-independent table checksum for
    * cross-engine / cross-copy integrity verification: two independent
    * XOR-folds of a portable per-row polyhash (XOR is commutative,
    * associative, and overflow-free, so the fingerprint is identical
    * whatever order 100 TB of partitions aggregate in — a sum-mod
    * fingerprint would overflow or need modular partials). Map-side
    * combine all the way; no shuffle beyond the 1-row final merge. */
  def fp1Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(graft.operators.Embed.tokenHash(
        concat_ws(":", col("doc_id"), col("lang"), col("source"),
          col("n_chars"))).as("rh"))
      .withColumn("rh2", graft.operators.Embed.tokenHash(
        col("rh").cast("string")))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(rh)").as("xor_h1"), expr("bit_xor(rh2)").as("xor_h2"))

  val fp1Sql: String = {
    val rh = graft.queries.CorpusQueries.polyhashS(
      "concat_ws(':', doc_id, lang, source, n_chars)")
    s"""WITH h AS (SELECT $rh AS rh FROM documents),
       |h2 AS (SELECT rh, ${graft.queries.CorpusQueries.polyhashS("CAST(rh AS VARCHAR)")} AS rh2 FROM h)
       |SELECT count(*) AS n_rows, bit_xor(rh) AS xor_h1, bit_xor(rh2) AS xor_h2
       |FROM h2""".stripMargin
  }

  /** fp2_partition_fingerprint — fp1's XOR checksum at PARTITION
    * granularity (per event day): when two copies of a 100 TB table
    * disagree, the per-partition fingerprint table (one ~40-byte row
    * per partition) localizes WHICH partitions to re-replicate — the
    * anti-entropy companion to dd1's row diff, without a full-table
    * join. Same two independent XOR-folds per row, map-side combined;
    * the shuffle carries one partial row per (task, day). */
  def fp2PartitionFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"),
        graft.operators.Embed.tokenHash(concat_ws(":",
          col("event_id"), col("user_id"), col("event_type"))).as("rh"))
      .withColumn("rh2",
        graft.operators.Embed.tokenHash(col("rh").cast("string")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(rh)").as("xor_h1"), expr("bit_xor(rh2)").as("xor_h2"))

  val fp2Sql: String = {
    val rh = graft.queries.CorpusQueries.polyhashS(
      "concat_ws(':', event_id, user_id, event_type)")
    s"""WITH h AS (SELECT CAST(ts AS DATE) AS day, $rh AS rh FROM events),
       |h2 AS (SELECT day, rh,
       |         ${graft.queries.CorpusQueries.polyhashS("CAST(rh AS VARCHAR)")} AS rh2
       |       FROM h)
       |SELECT day, count(*) AS n_rows,
       |  bit_xor(rh) AS xor_h1, bit_xor(rh2) AS xor_h2
       |FROM h2 GROUP BY 1""".stripMargin
  }

  /** dd1_table_diff — row-level diff between two table versions (the
    * replication / backfill acceptance check): one full outer join on
    * the key classifies every row as added / removed / changed /
    * unchanged. The synthetic "new version" drops every 97th key,
    * bumps the price of every 100th, and inserts re-keyed rows above
    * max(key) (cdc1's scale-safe re-keying). All four outputs are
    * exact integer counts. */
  def dd1TableDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    val maxK = base.agg(max("k")).head.getLong(0)
    val kept = base.filter(col("k") % 97 =!= 0)
      .withColumn("p", when(col("k") % 100 === 0, col("p") + 1.0).otherwise(col("p")))
    val added = base.filter(col("k") % 101 === 0)
      .select((col("k") + lit(maxK) + 1L).as("k"), col("p"))
    val newv = kept.unionByName(added)
    base.withColumnRenamed("p", "bp").join(
        newv.withColumnRenamed("p", "np"), Seq("k"), "full_outer")
      .agg(
        sum(when(col("bp").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("np").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("bp").isNotNull && col("np").isNotNull
          && col("bp") =!= col("np"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("bp").isNotNull && col("np").isNotNull
          && col("bp") === col("np"), 1L).otherwise(0L)).as("n_same"))
  }

  val dd1Sql: String =
    """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
      |mk AS (SELECT max(k) AS mk FROM base),
      |kept AS (SELECT k, CASE WHEN k % 100 = 0 THEN p + 1.0 ELSE p END AS p
      |         FROM base WHERE k % 97 <> 0),
      |added AS (SELECT k + mk + 1 AS k, p FROM base, mk WHERE k % 101 = 0),
      |newv AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
      |j AS (SELECT base.p AS bp, newv.p AS np
      |      FROM base FULL OUTER JOIN newv ON base.k = newv.k)
      |SELECT
      |  CAST(sum(CASE WHEN bp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |  CAST(sum(CASE WHEN np IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(sum(CASE WHEN bp IS NOT NULL AND np IS NOT NULL AND bp <> np THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(sum(CASE WHEN bp IS NOT NULL AND np IS NOT NULL AND bp = np THEN 1 ELSE 0 END) AS BIGINT) AS n_same
      |FROM j""".stripMargin

  /** an1_alert_episodes — gaps-and-islands over hot error hours: an
    * hour is HOT iff its error count exceeds the corpus-wide hourly
    * average, tested as the integer cross-product cnt·n_hours >
    * total_errors (no float threshold); consecutive hot hours merge
    * into one episode (island id = hour_idx − row_number, computed
    * over the ALERT SET only — after the hot filter the window input
    * is incident-sized, not corpus-sized, so the partitionless window
    * is metadata work at any scale). Output: episode start, length,
    * total and peak error counts. */
  def an1AlertEpisodes(spark: SparkSession, sfDir: String): DataFrame = {
    val hours = Tables.events(spark, sfDir)
      .filter(col("event_type") === "error")
      .groupBy(expr("CAST(ts AS LONG) div 3600").as("hour_idx"))
      .agg(count(lit(1)).as("cnt"))
    val tot = hours.agg(sum("cnt").as("__total"), count(lit(1)).as("__hours"))
    val hot = hours.crossJoin(broadcast(tot))
      .filter(col("cnt") * col("__hours") > col("__total"))
    // island id via the range-partitioned global rank, not a
    // partitionless row_number window: the alert set is incident-sized,
    // but "incident-sized" at a bad quarter is still millions of hot
    // hours — the prefix-scan shape costs nothing extra here and never
    // single-tasks (rank is 1-based Long; hour_idx − rank is the same
    // island id the window produced)
    graft.Dist.globalRank(hot, Seq(col("hour_idx").asc), "__rn")
      .withColumn("__grp", col("hour_idx") - col("__rn"))
      .groupBy("__grp")
      .agg(timestamp_seconds(min("hour_idx") * 3600).as("episode_start"),
        count(lit(1)).as("n_hours"), sum("cnt").as("total_errors"),
        max("cnt").as("peak_errors"))
      .drop("__grp")
  }

  val an1Sql: String =
    """WITH hours AS (
      |  SELECT CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS hour_idx,
      |         count(*) AS cnt
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_hours FROM hours),
      |hot AS (SELECT hour_idx, cnt FROM hours, tot
      |        WHERE cnt * n_hours > total),
      |g AS (SELECT hour_idx, cnt,
      |        hour_idx - row_number() OVER (ORDER BY hour_idx) AS grp
      |      FROM hot)
      |SELECT make_timestamp(min(hour_idx) * 3600 * 1000000) AS episode_start,
      |  count(*) AS n_hours, CAST(sum(cnt) AS BIGINT) AS total_errors,
      |  max(cnt) AS peak_errors
      |FROM g GROUP BY grp""".stripMargin

  // ---- ohlc1_bars -----------------------------------------------------

  /** ohlc1_bars — OHLC bar aggregation (the time-series downsampling
    * every monitoring/market stack runs): per (type, day), the first
    * and last value in (ts, event_id) order plus high/low/count. Open
    * and close come from row_number over the day-bounded window (e6's
    * key — the sort never exceeds one day per type), high/low/n from
    * a plain aggregation; values pass through untouched (no float
    * arithmetic to diverge). */
  def ohlc1Bars(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir).select(
      col("event_type"),
      expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')").cast("long")
        .as("day_idx"),
      unix_millis(col("ts")).as("st"), col("event_id"), col("value"))
    // open/close are min_by/max_by over the (st, event_id) total order
    // (event_id is unique, so the extremum is deterministic) — ONE
    // map-side-combinable aggregation pass computes the whole bar. The
    // previous shape ran the scan three times (agg + two rank-1
    // windows, each a full shuffle AND per-partition sort) and joined
    // the three results back together.
    base.groupBy("event_type", "day_idx")
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), struct(col("st"), col("event_id"))).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), struct(col("st"), col("event_id"))).as("close"))
      .select("event_type", "day_idx", "n_events", "open", "high", "low",
        "close")
  }

  val ohlc1Sql: String =
    """WITH base AS (
      |  SELECT event_type,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx,
      |    epoch_ms(ts) AS st, event_id, value
      |  FROM events),
      |o AS (SELECT event_type, day_idx, value AS open FROM (
      |    SELECT event_type, day_idx, value,
      |      row_number() OVER (PARTITION BY event_type, day_idx
      |                         ORDER BY st ASC, event_id ASC) AS rn
      |    FROM base) WHERE rn = 1),
      |c AS (SELECT event_type, day_idx, value AS close FROM (
      |    SELECT event_type, day_idx, value,
      |      row_number() OVER (PARTITION BY event_type, day_idx
      |                         ORDER BY st DESC, event_id DESC) AS rn
      |    FROM base) WHERE rn = 1),
      |g AS (SELECT event_type, day_idx, count(*) AS n_events,
      |        max(value) AS high, min(value) AS low
      |      FROM base GROUP BY 1, 2)
      |SELECT g.event_type, g.day_idx, g.n_events, o.open, g.high, g.low, c.close
      |FROM g JOIN o USING (event_type, day_idx)
      |       JOIN c USING (event_type, day_idx)""".stripMargin

  // ---- pp1_pushdown_minmax --------------------------------------------

  /** pp1_pushdown_minmax — parquet AGGREGATE pushdown: a filterless
    * count/min/max answered from row-group FOOTER STATISTICS, never
    * scanning a data page — at 100 TB the difference between touching
    * ~KBs of metadata and reading every row. The conf flips Spark's
    * V2 scan into PushedAggregation mode (plan pinned in
    * PlanShapeSpec); results are identical to the full scan by
    * definition of the stats. */
  def pp1PushdownMinmax(spark: SparkSession, sfDir: String): DataFrame = {
    // aggregatePushdown is read at OPTIMIZATION time (plans are lazy)
    // so it stays on for the session — a pure optimization, harmless
    // to every V1 read. The V1→V2 source switch, by contrast, is read
    // when the relation resolves (eagerly, inside spark.read.load), so
    // it is scoped to exactly this read and restored immediately —
    // every other query keeps its V1 parquet plan.
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val v1List = spark.conf.get("spark.sql.sources.useV1SourceList")
    val scan =
      try {
        spark.conf.set("spark.sql.sources.useV1SourceList",
          v1List.split(",").filterNot(_.trim == "parquet").mkString(","))
        spark.read.parquet(s"$sfDir/lineitem.parquet")
      } finally spark.conf.set("spark.sql.sources.useV1SourceList", v1List)
    scan.agg(count(lit(1)).as("n_rows"),
      min("l_extendedprice").as("min_price"),
      max("l_extendedprice").as("max_price"),
      min("l_quantity").as("min_qty"),
      max("l_quantity").as("max_qty"))
  }

  val pp1Sql: String =
    """SELECT count(*) AS n_rows,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem""".stripMargin

  // ---- sz1_seasonality ------------------------------------------------

  /** sz1_seasonality — hour-of-week activity profile (the load-shape
    * input behind ov1's peak and e6's gaps): events per (weekday,
    * hour) with share-of-total. Weekday is INTEGER day arithmetic from
    * the corpus epoch (2024-01-01, a Monday; 0 = Monday) — never an
    * engine week/locale function (coh1's rule); hour is UTC on both
    * engines. 168-row output at any scale, one narrow aggregation.
    * PRECONDITION: ts ≥ the epoch (negative-day division split). */
  def sz1Seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') % 7").as("dow"),
      hour(col("ts")).as("hr"))
    val counts = ev.groupBy("dow", "hr").agg(count(lit(1)).as("n_events"))
    val tot = counts.agg(sum("n_events").as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("dow").cast("long").as("dow"),
        col("hr").cast("long").as("hr"), col("n_events"),
        round(col("n_events").cast("double") / col("t").cast("double"), 6)
          .as("share"))
  }

  val sz1Sql: String =
    """WITH ev AS (
      |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
      |    CAST(hour(ts) AS BIGINT) AS hr
      |  FROM events),
      |c AS (SELECT dow, hr, count(*) AS n_events FROM ev GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS t FROM c)
      |SELECT CAST(dow AS BIGINT) AS dow, hr, n_events,
      |  round(CAST(n_events AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
      |FROM c, t""".stripMargin

  // ---- lj1_lateral_topk -----------------------------------------------

  /** lj1_lateral_topk — the LATERAL correlated-subquery surface (the
    * ANSI spelling of q7/q8's top-per-group): each customer's single
    * largest order via a correlated ORDER BY … LIMIT 1 subquery,
    * query TEXT shared verbatim with the oracle (sql1/gs1's pattern).
    * Catalyst decorrelates the lateral into a ranked join — same
    * physical family as q7 — so the declarative spelling costs
    * nothing at scale. */
  def lj1LateralTopk(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(lj1Text)
  }

  /** Shared query text — runnable verbatim by Spark AND DuckDB. */
  val lj1Text: String =
    """SELECT c_custkey, c_name, t.o_orderkey,
      |  CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS top_price
      |FROM customer,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey ASC
      |         LIMIT 1) AS t""".stripMargin

  val lj1Sql: String = lj1Text

  // ---- mk1_markov_eval ------------------------------------------------

  /** mk1_markov_eval — next-event prediction accuracy of the
    * first-order Markov model seq2 trains: the model's argmax row
    * (most frequent successor per from_type, INTEGER counts, ties to
    * the smaller type name) is broadcast back over every observed
    * transition and scored — "how predictable are the journeys" as a
    * per-type accuracy table. Train and eval share one (user-keyed)
    * lead() pass; the model is |types|² rows, metadata-sized at any
    * corpus scale. */
  def mk1MarkovEval(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .localCheckpoint() // consumed twice: model argmax + eval totals
    val wArg = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
      .orderBy(col("n").desc, col("to_type").asc)
    val model = trans.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("from_type"), col("to_type").as("pred_type"))
    trans.join(broadcast(model), "from_type")
      .groupBy("from_type")
      .agg(sum("n").as("n_transitions"),
        sum(when(col("to_type") === col("pred_type"), col("n"))
          .otherwise(0L)).as("n_correct"),
        max("pred_type").as("pred_type"))
      .withColumn("accuracy", round(col("n_correct").cast("double")
        / col("n_transitions").cast("double"), 6))
  }

  val mk1Sql: String =
    """WITH s AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM s
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT from_type, to_type AS pred_type FROM (
      |    SELECT from_type, to_type,
      |      row_number() OVER (PARTITION BY from_type
      |                         ORDER BY n DESC, to_type ASC) AS rn
      |    FROM c) WHERE rn = 1)
      |SELECT c.from_type, CAST(sum(n) AS BIGINT) AS n_transitions,
      |  CAST(sum(CASE WHEN c.to_type = m.pred_type THEN n ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  any_value(m.pred_type) AS pred_type,
      |  round(CAST(sum(CASE WHEN c.to_type = m.pred_type THEN n ELSE 0 END) AS DOUBLE)
      |        / CAST(sum(n) AS DOUBLE), 6) AS accuracy
      |FROM c JOIN m USING (from_type)
      |GROUP BY 1""".stripMargin

  // ---- anon1_k_anonymity ----------------------------------------------

  /** anon1_k_anonymity — k-anonymity audit (the re-identification
    * screen run before events leave the trust boundary; udc1 bounds
    * contribution, this bounds uniqueness): group users by their
    * quasi-identifier tuple (event_type, day, value decile-bucket) and
    * count equivalence classes below k=5 distinct users — every such
    * class is a re-identification risk. Value bucketing is integer
    * cents DIV, day is integer date arithmetic: the quasi-identifier
    * is engine-exact. One (quasi-id) shuffle + a small rollup.
    * PRECONDITION (coh1's class): value ≥ 0 — negative cents would hit
    * the truncate-vs-floor integer-division split between engines. */
  def anon1KAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val K = 5L
    val cls = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 1000")
          .as("bucket"),
        col("user_id"))
      .groupBy("event_type", "day", "bucket")
      .agg(countDistinct("user_id").as("n_users"))
    cls.groupBy("event_type").agg(
        count(lit(1)).as("n_classes"),
        sum((col("n_users") < K).cast("long")).as("n_risky"),
        min("n_users").as("min_class_size"))
      .withColumn("risky_share", round(col("n_risky").cast("double")
        / col("n_classes").cast("double"), 6))
  }

  val anon1Sql: String =
    """WITH cls AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(value::DECIMAL(18,2) * 100 AS BIGINT) // 1000 AS bucket,
      |    count(DISTINCT user_id) AS n_users
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, count(*) AS n_classes,
      |  CAST(sum(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky,
      |  CAST(min(n_users) AS BIGINT) AS min_class_size,
      |  round(CAST(sum(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 6) AS risky_share
      |FROM cls GROUP BY 1""".stripMargin

  // ---- late1_lateness -------------------------------------------------

  /** late1_lateness — event-time LATENESS profile, the measurement
    * that picks a streaming watermark (EventStream's withWatermark
    * durations are exactly this distribution's tail): per (type, DAY),
    * each event's lateness = running max of arrival-order timestamps
    * minus its own — 0 for in-order arrivals — then exact per-type
    * P50/P95/P99 lateness via Pcts.p50p95p99. Arrival order is the
    * event_id sequence (the synthetic corpus's ingest order); the day
    * key bounds every window sort (e6's pattern). */
  def late1Lateness(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("day"),
        unix_millis(col("ts")).as("st"), col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "day")
      .orderBy(col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val late = ev.withColumn("late_ms", max("st").over(w) - col("st"))
    Pcts.p50p95p99(late, Seq("event_type"), "late_ms")
      .select(col("event_type"), col("n").as("n_events"),
        col("p50"), col("p95"), col("p99"))
  }

  val late1Sql: String =
    s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |              epoch_ms(ts) AS st, event_id FROM events),
       |l AS (SELECT event_type,
       |        max(st) OVER (PARTITION BY event_type, day ORDER BY event_id
       |                      ROWS UNBOUNDED PRECEDING) - st AS late_ms
       |      FROM ev),
       |gg AS (SELECT event_type, list_sort(list(late_ms)) AS s,
       |         CAST(count(*) AS BIGINT) AS n
       |       FROM l GROUP BY 1)
       |SELECT event_type, n AS n_events,
       |  round(${Pcts.sql(0.50)}, 6) AS p50,
       |  round(${Pcts.sql(0.95)}, 6) AS p95,
       |  round(${Pcts.sql(0.99)}, 6) AS p99
       |FROM gg""".stripMargin

  /** seq2_transitions — the user-journey Markov transition matrix:
    * next event type per user via lead() over (ts, event_id), pair
    * counts, row-normalized probability as ONE double division of two
    * exact integers. One shuffle on user_id for the ordering window,
    * one small rollup. */
  def seq2Transitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val rowTot = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("prob",
        round(col("n").cast("double")
          / sum("n").over(rowTot).cast("double"), 6))
  }

  val seq2Sql: String =
    """WITH s AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM s
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(CAST(n AS DOUBLE)
      |        / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
      |FROM c""".stripMargin

  /** uv1_unpivot — the melt complement of p1's pivot: the wide
    * (user_bucket, one column per event type) table back to long
    * (user_bucket, event_type, n) via Spark's native unpivot
    * (map-side, no shuffle). pivot∘unpivot round-trips exactly —
    * the oracle is the same wide CTE melted by UNION ALL. */
  def uv1Unpivot(spark: SparkSession, sfDir: String): DataFrame =
    p1Pivot(spark, sfDir).unpivot(
      Array(col("user_bucket")), PivotTypes.map(col).toArray,
      "event_type", "n")

  val uv1Sql: String = {
    val arms = PivotTypes.map(t =>
      s"""SELECT user_bucket, '$t' AS event_type, "$t" AS n FROM w""")
      .mkString("\nUNION ALL ")
    s"""WITH w AS ($p1Sql)
       |$arms""".stripMargin
  }

  /** q18_deciles — customer-value decile analysis: per-customer spend
    * as EXACT decimal sums (order-independent — ranking a
    * nondeterministic double sum would move boundary customers between
    * deciles run to run), ranked by the distributed global-rank shape,
    * decile = ((rank−1)·10) div n in pure integer arithmetic. Per-
    * decile totals stay decimal-exact until the final cast; avg and
    * share are one double division each. */
  def q18Deciles(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("o_custkey").agg(sum("p").as("spend"))
    val ranked = graft.Dist.globalRank(spend,
      Seq(col("spend").desc, col("o_custkey").asc), "rnk")
    val tot = spend.agg(count(lit(1)).as("__n"),
      sum("spend").cast("double").as("__overall"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("((rnk - 1) * 10) div __n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("spend").as("__t"),
        min("__overall").as("__o"))
      .select(col("decile"), col("n_customers"),
        col("__t").cast("double").as("total_spend"),
        round(col("__t").cast("double") / col("n_customers"), 6).as("avg_spend"),
        round(col("__t").cast("double") / col("__o"), 6).as("share"))
  }

  val q18Sql: String =
    """WITH spend AS (SELECT o_custkey, sum(o_totalprice::DECIMAL(18,2)) AS spend
      |               FROM orders GROUP BY 1),
      |r AS (SELECT o_custkey, spend,
      |        row_number() OVER (ORDER BY spend DESC, o_custkey) AS rnk,
      |        count(*) OVER () AS n FROM spend),
      |t AS (SELECT CAST(sum(spend) AS DOUBLE) AS overall FROM spend)
      |SELECT ((rnk - 1) * 10) // n AS decile, count(*) AS n_customers,
      |  CAST(sum(spend) AS DOUBLE) AS total_spend,
      |  round(CAST(sum(spend) AS DOUBLE) / count(*), 6) AS avg_spend,
      |  round(CAST(sum(spend) AS DOUBLE) / overall, 6) AS share
      |FROM r, t GROUP BY 1, overall""".stripMargin

  /** coh1_cohort — weekly cohort retention (the classic growth
    * triangle): cohort = a user's first active week, offset = weeks
    * since cohort, n_users = distinct users from that cohort active at
    * that offset, retention = n_users / cohort size. Week indices are
    * pure INTEGER arithmetic (days since the corpus epoch div 7), so
    * cohorts don't depend on either engine's week-truncation locale;
    * retention is one double division of two exact integers. All
    * per-user work (first week, membership) keys user_id — one shuffle
    * key end-to-end before the small (cohort, offset) rollup.
    * PRECONDITION (also nu1/chrn1/ra1): the epoch base precedes every
    * event — a pre-epoch timestamp would hit the floor-vs-truncate
    * integer-division split between engines on negative days. */
  def coh1Cohort(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') div 7").as("wk"))
      .distinct()
    val coh = ev.groupBy("user_id").agg(min("wk").as("cohort"))
    val cw = ev.join(coh, "user_id")
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cohort")
    cw.withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_users"))).over(w))
      .select(col("cohort"), col("week_offset"), col("n_users"),
        round(col("n_users").cast("double") / col("cohort_size").cast("double"), 6)
          .as("retention"))
  }

  val coh1Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
      |  FROM events),
      |coh AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY 1),
      |cw AS (
      |  SELECT cohort, wk - cohort AS week_offset, count(DISTINCT e.user_id) AS n_users
      |  FROM ev e JOIN coh c ON e.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT cohort, week_offset, n_users,
      |  round(CAST(n_users AS DOUBLE)
      |        / CAST(max(CASE WHEN week_offset = 0 THEN n_users END)
      |               OVER (PARTITION BY cohort) AS DOUBLE), 6) AS retention
      |FROM cw""".stripMargin

  // ---- reg1_trend -----------------------------------------------------

  /** reg1_trend — ordinary-least-squares revenue trend (slope,
    * intercept, r²) over daily order totals, from EXACT integer sums
    * only: Σd, Σd², Σc, Σc², Σdc accumulate as integers (cents ×
    * day-index), the OLS closed forms are ratios of integer products
    * (DECIMAL(38,0) — at 100 TB Σc·Σd overflows BIGINT), and each
    * output is ONE terminal double division. No per-partition float
    * accumulation anywhere, so the fit is independent of partitioning
    * and engine — a regression you can hash-compare. One narrow
    * day-level aggregate feeds a single-row reduction. */
  def reg1Trend(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .select(expr("datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01')")
        .cast("long").as("d"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy("d").agg(sum("c").as("c"))
    val s = daily.agg(
      count(lit(1)).as("n"), sum("d").as("sd"),
      sum(col("d") * col("d")).as("sdd"),
      sum("c").as("sc"),
      sum(col("c").cast("decimal(38,0)") * col("c")).as("scc"),
      sum(col("d").cast("decimal(38,0)") * col("c")).as("sdc"))
    val dec = (name: String) => col(name).cast("decimal(38,0)")
    s.select(col("n").as("n_days"),
        (dec("n") * col("sdc") - dec("sd") * col("sc")).as("__num"),
        (dec("n") * col("sdd") - dec("sd") * col("sd")).as("__den"),
        (dec("n") * col("scc") - dec("sc") * col("sc")).as("__syy"),
        col("sd"), col("sc"))
      .select(col("n_days"),
        round(col("__num").cast("double")
          / (col("__den").cast("double") * 100.0), 6).as("slope_dollars_per_day"),
        round((col("sc").cast("decimal(38,0)") * col("__den")
            - col("__num") * col("sd")).cast("double")
          / (col("n_days").cast("double") * col("__den").cast("double") * 100.0), 6)
          .as("intercept_dollars"),
        round((col("__num") * col("__num")).cast("double")
          / (col("__den").cast("double") * col("__syy").cast("double")), 6)
          .as("r2"))
  }

  val reg1Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
      |    CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(d) AS BIGINT) AS sd, CAST(sum(d * d) AS BIGINT) AS sdd,
      |        CAST(sum(c) AS BIGINT) AS sc,
      |        CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS scc,
      |        CAST(sum(CAST(d AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sdc
      |      FROM daily),
      |t AS (SELECT n AS n_days, sd, sc,
      |        CAST(n AS DECIMAL(38,0)) * sdc - CAST(sd AS DECIMAL(38,0)) * sc AS num,
      |        CAST(n AS DECIMAL(38,0)) * sdd - CAST(sd AS DECIMAL(38,0)) * sd AS den,
      |        CAST(n AS DECIMAL(38,0)) * scc - CAST(sc AS DECIMAL(38,0)) * sc AS syy
      |      FROM s)
      |SELECT n_days,
      |  round(CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 100.0), 6)
      |    AS slope_dollars_per_day,
      |  round(CAST(CAST(sc AS DECIMAL(38,0)) * den - num * sd AS DOUBLE)
      |        / (CAST(n_days AS DOUBLE) * CAST(den AS DOUBLE) * 100.0), 6)
      |    AS intercept_dollars,
      |  round(CAST(num * num AS DOUBLE)
      |        / (CAST(den AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS r2
      |FROM t""".stripMargin

  // ---- e6_interarrival ------------------------------------------------

  /** e6_interarrival — per-type inter-arrival-time percentiles (the
    * arrival-rate profile capacity planning reads next to ov1's peak):
    * exact integer epoch-ms gaps between consecutive events within
    * each (type, DAY) — the day key bounds every sort to one day's
    * events per type (a per-type-only window drags the full history
    * through one task at 100 TB; the boundary gap dropped per day is
    * the declared cost) — then EXACT P50/P95/P99 per type via
    * Pcts.p50p95p99 (never sorts rows, m1's interpolation). */
  def e6Interarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("day"),
        unix_millis(col("ts")).as("st"), col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "day")
      .orderBy(col("st").asc, col("event_id").asc)
    val gaps = ev.withColumn("gap", col("st") - lag("st", 1).over(w))
      .filter(col("gap").isNotNull)
    Pcts.p50p95p99(gaps, Seq("event_type"), "gap")
      .select(col("event_type"), col("n").as("n_gaps"),
        col("p50"), col("p95"), col("p99"))
  }

  val e6Sql: String =
    s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |              epoch_ms(ts) AS st, event_id FROM events),
       |g AS (SELECT event_type,
       |        st - lag(st) OVER (PARTITION BY event_type, day
       |                           ORDER BY st, event_id) AS gap
       |      FROM ev),
       |gg AS (SELECT event_type, list_sort(list(gap)) AS s,
       |         CAST(count(*) AS BIGINT) AS n
       |       FROM g WHERE gap IS NOT NULL GROUP BY 1)
       |SELECT event_type, n AS n_gaps,
       |  round(${Pcts.sql(0.50)}, 6) AS p50,
       |  round(${Pcts.sql(0.95)}, 6) AS p95,
       |  round(${Pcts.sql(0.99)}, 6) AS p99
       |FROM gg""".stripMargin

  // ---- gs1_grouping_sets ----------------------------------------------

  /** gs1_grouping_sets — GROUPING SETS completes the multi-granularity
    * family (q6 ROLLUP, c1 CUBE): exactly the four granularities a
    * revenue dashboard needs — (region), (nation), (region, nation),
    * () — in ONE pass over the join, with GROUPING() flags
    * disambiguating real NULLs from subtotal rows. Shares its query
    * TEXT verbatim with the oracle (sql1's pattern): Spark parses,
    * plans and partially-aggregates the same ANSI SQL DuckDB runs.
    * Revenue is an exact DECIMAL sum cast to double once at the end. */
  def gs1GroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.region(spark, sfDir).createOrReplaceTempView("region")
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(gs1Text)
  }

  /** Shared query text — runnable verbatim by Spark AND DuckDB. */
  val gs1Text: String =
    """SELECT r_name, n_name,
      |  GROUPING(r_name) AS g_region, GROUPING(n_name) AS g_nation,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name), (n_name), (r_name, n_name), ())""".stripMargin

  val gs1Sql: String = gs1Text

  // ---- ed1_edit_distance_join -----------------------------------------

  /** ed1_edit_distance_join — ALL-PAIRS edit-distance-1 join via
    * deletion neighborhoods (FastSS): each word emits itself plus its
    * |w| single-character deletions; two words are within Levenshtein 1
    * ONLY IF their neighborhoods share a member, so candidates form in
    * an EQUI-join on the variant string and one exact levenshtein()
    * verify per distinct candidate pair removes the false positives
    * (e.g. transpositions). Work is bounded by variant-bucket
    * occupancy — never the W² theta join fj1's oracle runs, and unlike
    * fj1's first-char blocking it misses nothing (a first-char typo
    * escapes prefix blocking but not its deletion neighborhood). The
    * typo-clustering primitive for vocab normalization at corpus
    * scale. */
  def ed1EditDistanceJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.part(spark, sfDir)
      .select(explode(split(col("p_name"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val variants = words.select(col("w"), explode(concat(
      array(col("w")),
      transform(sequence(lit(1), length(col("w"))), i =>
        concat(col("w").substr(lit(1), i - lit(1)),
          col("w").substr(i + lit(1), length(col("w"))))))).as("vr"))
    val cand = variants.select(col("vr"), col("w").as("word_a"))
      .join(variants.select(col("vr"), col("w").as("word_b")), "vr")
      .filter(col("word_a") < col("word_b"))
      .select("word_a", "word_b").distinct()
    cand.withColumn("dist", levenshtein(col("word_a"), col("word_b")))
      .filter(col("dist") <= 1)
  }

  val ed1Sql: String =
    """WITH wds AS (
      |  SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w
      |  FROM part)
      |SELECT a.w AS word_a, b.w AS word_b, levenshtein(a.w, b.w) AS dist
      |FROM wds a JOIN wds b ON a.w < b.w
      |WHERE levenshtein(a.w, b.w) <= 1""".stripMargin

  // ---- udc1_user_capped_agg -------------------------------------------

  /** udc1_user_capped_agg — contribution-capped aggregation, the
    * sensitivity-bounding step differential privacy (and any
    * robust-to-whales metric) needs BEFORE noise is even considered:
    * each user's per-type contribution is clamped at 100.00 units, so
    * no single user can move the aggregate by more than the cap. Two
    * narrow aggregations on the same (user, type) shuffle key; sums in
    * exact integer cents end-to-end, one terminal double division. */
  def udc1UserCappedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val CapCents = 10000L
    val per = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy("event_type", "user_id").agg(sum("cents").as("user_cents"))
    per.groupBy("event_type").agg(
        count(lit(1)).as("n_users"),
        sum((col("user_cents") > CapCents).cast("long")).as("n_capped"),
        sum(least(col("user_cents"), lit(CapCents))).as("capped_cents"))
      .select(col("event_type"), col("n_users"), col("n_capped"),
        round(col("capped_cents").cast("double") / 100.0, 2).as("capped_sum"))
  }

  val udc1Sql: String =
    """WITH per AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT) AS user_cents
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, count(*) AS n_users,
      |  CAST(sum(CASE WHEN user_cents > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
      |  round(CAST(sum(least(user_cents, 10000)) AS DOUBLE) / 100.0, 2) AS capped_sum
      |FROM per GROUP BY 1""".stripMargin

  // ---- ov1_peak_concurrency ------------------------------------------

  /** ov1_peak_concurrency — peak simultaneous activity per event type
    * via an endpoint-delta sweep line: each event opens a half-open
    * 5-minute interval [ts, ts+5min); +1/-1 deltas are pre-aggregated
    * per DISTINCT (type, timestamp) — a +1 and a -1 colliding at t net
    * to the half-open convention's value, and the aggregation collapses
    * the row count to distinct endpoints — then one distributed prefix
    * scan (Dist.runningTotal) ordered by (type, t) yields the live
    * count at every endpoint. The scan's order crosses type boundaries,
    * but each type's deltas sum to ZERO (every +1 has its -1), so the
    * carry into the next type is always 0 — one global scan serves all
    * types with no per-type repartition. Peak = max live count; ties
    * resolved to the earliest timestamp. The capacity-planning question
    * ("how many concurrent sessions must this tier hold?") asked of a
    * 100 TB event log without ever sorting it through one task. */
  def ov1PeakConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("ts"))
    val pts = ev.select(col("event_type"), col("ts").as("t"), lit(1L).as("d"))
      .unionAll(ev.select(col("event_type"),
        (col("ts") + expr("INTERVAL 5 MINUTES")).as("t"), lit(-1L).as("d")))
    val agg = pts.groupBy("event_type", "t").agg(sum("d").as("d"))
    val run = graft.Dist.runningTotal(agg,
      Seq(col("event_type").asc, col("t").asc), "d")
    val peaks = run.groupBy("event_type")
      .agg(max("d_end").as("peak_concurrency"))
    run.join(broadcast(peaks), Seq("event_type"))
      .filter(col("d_end") === col("peak_concurrency"))
      .groupBy("event_type", "peak_concurrency")
      .agg(min(unix_millis(col("t"))).as("peak_ts_ms"))
  }

  // ---- iv1_interval_join ----------------------------------------------

  /** iv1_interval_join — interval-OVERLAP join without a theta join:
    * each event spans [ts, ts+5min); count, per unordered event-type
    * pair, the same-user event pairs whose intervals overlap. The
    * scale shape: intervals are emitted into each 5-minute time BUCKET
    * they cover (≤2 buckets for an interval exactly one bucket wide),
    * the self-join runs on the (user, bucket) EQUI key, and the range
    * predicate only filters within buckets — candidate volume is
    * bounded by per-(user, bucket) occupancy, never |A|×|B|. A pair
    * overlapping in two shared buckets would double-count, so a pair
    * is counted ONLY in the bucket containing its overlap start
    * (greatest(sa, sb) div W) — dedup by arithmetic, no distinct. All
    * time math on exact integer epoch millis. */
  def iv1IntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 300000L // 5-minute intervals and buckets
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("st"))
      .withColumn("en", col("st") + W)
      .withColumn("bkt", explode(array_distinct(
        array(expr(s"st div $W"), expr(s"(en - 1) div $W")))))
    val a = ev.select(col("user_id"), col("bkt"), col("event_id").as("id_a"),
      col("event_type").as("ta"), col("st").as("sa"), col("en").as("ea"))
    val b = ev.select(col("user_id"), col("bkt"), col("event_id").as("id_b"),
      col("event_type").as("tb"), col("st").as("sb"), col("en").as("eb"))
    a.join(b, Seq("user_id", "bkt"))
      .filter(col("id_a") < col("id_b") && col("ta") =!= col("tb")
        && col("sa") < col("eb") && col("sb") < col("ea")
        && col("bkt") === expr(s"greatest(sa, sb) div $W"))
      .groupBy(least(col("ta"), col("tb")).as("type_a"),
        greatest(col("ta"), col("tb")).as("type_b"))
      .agg(count(lit(1)).as("n_overlaps"))
  }

  val iv1Sql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |              epoch_ms(ts) AS st, epoch_ms(ts) + 300000 AS en
      |            FROM events)
      |SELECT least(a.event_type, b.event_type) AS type_a,
      |       greatest(a.event_type, b.event_type) AS type_b,
      |       count(*) AS n_overlaps
      |FROM ev a JOIN ev b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND a.event_type <> b.event_type
      | AND a.st < b.en AND b.st < a.en
      |GROUP BY 1, 2""".stripMargin

  // ---- bl1_benford ----------------------------------------------------

  /** bl1_benford — leading-significant-digit distribution of line-item
    * prices against Benford's law, the classic synthetic/corrupt-data
    * screen (a generated or truncated feed skews the first-digit
    * histogram long before summary stats move). Digit extraction never
    * touches float formatting: prices go through the exact
    * decimal-cents cast (cp1's pattern) and the leading digit is the
    * first character of the INTEGER's string form — engine-unambiguous
    * where double→text is not (×100 preserves the leading significant
    * digit). Expected shares are the log10(1+1/d) constants, emitted
    * as 6-dp literals in BOTH engines so no libm log runs anywhere.
    * One map-side digit extraction + a 9-row aggregate. */
  def bl1Benford(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.lineitem(spark, sfDir)
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("c"))
    val counts = cents
      .groupBy(substring(col("c").cast("string"), 1, 1).as("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("tot"))
    val expected = BenfordShares.foldLeft(lit(0.0)) { case (acc, (d, p)) =>
      when(col("digit") === d.toString, p).otherwise(acc) }
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("observed_share"),
        expected.as("expected_share"))
      .withColumn("abs_dev",
        round(abs(col("observed_share") - col("expected_share")), 6))
  }

  /** log10(1 + 1/d) for d = 1..9, rounded to 6 dp — literals on both
    * engines (no runtime log). */
  val BenfordShares: Seq[(Int, Double)] = Seq(
    1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
    5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
    9 -> 0.045757)

  val bl1Sql: String = {
    val caseExp = BenfordShares.map { case (d, p) =>
      s"WHEN digit = '$d' THEN $p" }.mkString("CASE ", " ", " ELSE 0.0 END")
    s"""WITH c AS (SELECT substring(CAST(CAST(l_extendedprice::DECIMAL(18,2) * 100
       |             AS BIGINT) AS VARCHAR), 1, 1) AS digit
       |           FROM lineitem),
       |g AS (SELECT digit, count(*) AS n FROM c GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g)
       |SELECT digit, n,
       |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS observed_share,
       |  $caseExp AS expected_share,
       |  round(abs(round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6)
       |            - $caseExp), 6) AS abs_dev
       |FROM g, t""".stripMargin
  }

  val ov1Sql: String =
    """WITH pts AS (
      |  SELECT event_type, ts AS t, 1 AS d FROM events
      |  UNION ALL
      |  SELECT event_type, ts + INTERVAL 5 MINUTE AS t, -1 AS d FROM events),
      |agg AS (SELECT event_type, t, CAST(sum(d) AS BIGINT) AS d
      |        FROM pts GROUP BY 1, 2),
      |run AS (SELECT event_type, t,
      |          CAST(sum(d) OVER (PARTITION BY event_type ORDER BY t
      |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      |        FROM agg),
      |pk AS (SELECT event_type, max(conc) AS peak FROM run GROUP BY 1)
      |SELECT r.event_type, p.peak AS peak_concurrency,
      |  min(epoch_ms(r.t)) AS peak_ts_ms
      |FROM run r JOIN pk p ON r.event_type = p.event_type AND r.conc = p.peak
      |GROUP BY 1, 2""".stripMargin
}
