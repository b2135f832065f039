package graft

import graft.operators.Pcts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** The one exact-percentile operator against a driver-side numpy-style
  * reference (sort, interpolate, round HALF_UP to 6 dp), grouped and
  * global, on long and double columns with nulls, many ties, one- and
  * two-value groups and the end quantiles 0.0 and 1.0. */
class PctsSpec extends SparkSpec {

  // every case runs Spark jobs, so a handful of cases per property;
  // each grouped case holds up to 12 groups
  private def check(p: Prop, cases: Int = 5): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, Pretty.pretty(r))
  }

  private val qs = Seq(0.0 -> "q0", 0.05 -> "q05", 0.25 -> "q25",
    0.5 -> "q50", 0.95 -> "q95", 0.99 -> "q99", 1.0 -> "q100")

  /** numpy.percentile's default on sorted values; the subtraction in
    * the values' own type, as the operator does it. */
  private def reference[T](sorted: IndexedSeq[T], q: Double)
                          (implicit num: Numeric[T]): Double = {
    val pos = (sorted.length - 1).toDouble * q
    val lo = math.floor(pos).toInt
    val frac = pos - lo
    val vLo = num.toDouble(sorted(lo))
    if (frac == 0.0) vLo
    else vLo + num.toDouble(num.minus(sorted(lo + 1), sorted(lo))) * frac
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def frame(groups: Seq[Seq[Option[Any]]], t: DataType): DataFrame = {
    val rows = for { (vs, g) <- groups.zipWithIndex; v <- vs } yield Row(g, v.orNull)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("g", IntegerType), StructField("v", t))))
  }

  /** Both forms of the operator agree with the reference on every
    * group: unrounded cuts exactly, P50/P95/P99 after rounding. */
  private def agrees[T: Numeric: Ordering](groups: Seq[Seq[Option[T]]], t: DataType,
                                           global: Boolean): Boolean = {
    val df = frame(groups, t)
    val keys = if (global) Nil else Seq("g")
    def byGroup(out: DataFrame): Map[Int, Row] =
      out.collect().map(r => (if (global) 0 else r.getAs[Int]("g")) -> r).toMap
    val cuts = byGroup(Pcts.cuts(df, keys, "v", qs))
    val rounded = byGroup(Pcts.p50p95p99(df, keys, "v"))
    cuts.size == groups.size && groups.zipWithIndex.forall { case (vs, g) =>
      val sorted = vs.flatten.sorted.toIndexedSeq
      val (c, r) = (cuts(g), rounded(g))
      c.getAs[Long]("n") == sorted.length && r.getAs[Long]("n") == sorted.length &&
        qs.forall { case (q, nm) => c.getAs[Double](nm) == reference(sorted, q) } &&
        Pcts.Quantiles.forall { case (q, nm) =>
          r.getAs[Double](nm) == round6(reference(sorted, q)) }
    }
  }

  // one value, two values, or up to 40 from a small domain (many ties),
  // plus up to 3 nulls
  private def group[T](v: Gen[T]): Gen[Seq[Option[T]]] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 1 -> Gen.const(2), 3 -> Gen.choose(3, 40))
    vs <- Gen.listOfN(n, v)
    nulls <- Gen.choose(0, 3)
  } yield vs.map(Option(_)) ++ Seq.fill(nulls)(None)

  private val longs: Gen[Long] = Gen.frequency(
    5 -> Gen.choose(-3L, 6L), 1 -> Gen.oneOf(Long.MinValue / 4, Long.MaxValue / 4))
  private val doubles: Gen[Double] = Gen.frequency(
    5 -> Gen.oneOf(-1.5, -0.0, 0.0, 0.1, 0.2, 0.3, 2.5),
    2 -> Gen.choose(-1e6, 1e6))

  test("grouped percentiles equal the numpy-style reference: long values") {
    check(Prop.forAll(Gen.choose(1, 12).flatMap(Gen.listOfN(_, group(longs)))) {
      gs => agrees(gs, LongType, global = false) })
  }

  test("grouped percentiles equal the numpy-style reference: double values") {
    check(Prop.forAll(Gen.choose(1, 12).flatMap(Gen.listOfN(_, group(doubles)))) {
      gs => agrees(gs, DoubleType, global = false) })
  }

  test("no group columns means one global group: long and double values") {
    check(Prop.forAll(group(longs)) { g => agrees(Seq(g), LongType, global = true) }, 3)
    check(Prop.forAll(group(doubles)) { g => agrees(Seq(g), DoubleType, global = true) }, 3)
  }

  test("a null value is ignored and n counts only non-null values") {
    // {1, 2, 3, null}: p50 = 2.0 (not 2.5 with n = 4, nor 1.5 with the
    // null as the lowest value)
    val df = frame(Seq(Seq(Some(1L), Some(2L), Some(3L), None), Seq(Some(7L))), LongType)
    for ((keys, out) <- Seq(
      Seq("g") -> Pcts.p50p95p99(df, Seq("g"), "v").filter(col("g") === 0),
      Nil -> Pcts.p50p95p99(df.filter(col("g") === 0), Nil, "v"))) {
      val r = out.collect()
      assert(r.length == 1, keys)
      assert(r.head.getAs[Long]("n") == 3L, keys)
      assert((r.head.getAs[Double]("p50"), r.head.getAs[Double]("p95"),
        r.head.getAs[Double]("p99")) == ((2.0, 2.9, 2.98)), keys)
    }
  }
}
