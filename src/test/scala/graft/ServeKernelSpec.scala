package graft

import graft.operators.LocalServe
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The serving kernel every tier ranks and rounds with (LocalServe):
  * its bounded-heap topK must equal the full sort it replaced, and its
  * round must equal Spark's HALF_UP Round — on the inputs the 8-query
  * fixtures never produce: duplicate scores, NaN, 0.0 vs -0.0, k = 0,
  * k > n, and values on (or one ulp off) a HALF_UP boundary. */
class ServeKernelSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(1000), p)
    assert(r.passed, Pretty.pretty(r))
  }

  /** Bitwise view: NaN equals NaN, 0.0 differs from -0.0. */
  private def bits(r: Array[(Long, Double)]): Seq[(Long, Long)] =
    r.toSeq.map { case (id, sc) => (id, java.lang.Double.doubleToLongBits(sc)) }

  // few distinct ids and scores, so ties on score and on (score, id) are common
  private val score: Gen[Double] = Gen.frequency(
    5 -> Gen.oneOf(-1.0, -0.5, 0.25, 0.5, 1.0),
    3 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity),
    2 -> Gen.choose(-1.0, 1.0))
  private val cand: Gen[(Long, Double)] =
    for { id <- Gen.choose(0L, 12L); sc <- score } yield (id, sc)

  test("topK == sortBy((-sc, id)).take(k): duplicates, NaN, +-0.0, k = 0, k > n") {
    check(Prop.forAll(Gen.listOf(cand), Gen.choose(0, 40)) { (cs, k) =>
      bits(LocalServe.topK(cs.toArray, k)) ==
        bits(cs.toArray.sortBy { case (id, sc) => (-sc, id) }.take(k))
    })
    // the fixed points of that order, spelled out
    val cs = Array((3L, Double.NaN), (2L, -0.0), (1L, 0.0), (4L, 0.5), (0L, 0.5))
    assert(bits(LocalServe.topK(cs, 10)) ==
      bits(Array((0L, 0.5), (4L, 0.5), (1L, 0.0), (2L, -0.0), (3L, Double.NaN))))
    assert(LocalServe.topK(cs, 0).isEmpty)
  }

  test("round(x, 4|6) == Spark's HALF_UP Round on boundary values") {
    // x = (10n + 5)·10^-(scale+1): exactly halfway in decimal, plus the
    // doubles one ulp either side of it
    val boundary: Gen[(Double, Int)] = for {
      scale <- Gen.oneOf(4, 6)
      n <- Gen.choose(-2000000L, 2000000L)
      ulp <- Gen.oneOf(-1, 0, 1)
    } yield {
      val x = java.math.BigDecimal.valueOf(10 * n + 5, scale + 1).doubleValue()
      (if (ulp < 0) Math.nextDown(x) else if (ulp > 0) Math.nextUp(x) else x, scale)
    }
    check(Prop.forAll(boundary) { case (x, scale) =>
      val spark = Round(Literal(x), Literal(scale)).eval().asInstanceOf[Double]
      java.lang.Double.doubleToLongBits(LocalServe.round(x, scale)) ==
        java.lang.Double.doubleToLongBits(spark)
    })
    assert(LocalServe.round(0.00005, 4) == 0.0001)
    assert(LocalServe.round(-0.0000005, 6) == -0.000001)
  }
}
