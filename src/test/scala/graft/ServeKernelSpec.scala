package graft

import graft.operators.{HnswLocalServer, LocalServe}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The serving kernel every tier ranks and rounds with (LocalServe):
  * its bounded-heap topK must equal the full sort it replaced, and its
  * round must equal Spark's HALF_UP Round — on the inputs the 8-query
  * fixtures never produce: duplicate scores, NaN, 0.0 vs -0.0, k = 0,
  * k > n, and values on (or a few ulps off) a HALF_UP boundary. The
  * HNSW walk's per-request id table must behave as a Map on any Long
  * id, across its growths. */
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

  private def sparkRound(x: Double, scale: Int): Double =
    Round(Literal(x), Literal(scale)).eval().asInstanceOf[Double]

  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  test("round == Spark's Round: 1e-12..1e17 at scales 0-15, past the fast path") {
    // log-uniform magnitudes, so every scale sees values whose scaled
    // form is below and above 2^52
    val x: Gen[Double] = for {
      e <- Gen.choose(-12.0, 17.0)
      neg <- Gen.oneOf(true, false)
    } yield if (neg) -math.pow(10.0, e) else math.pow(10.0, e)
    check(Prop.forAll(x, Gen.choose(0, 15)) { (x, scale) =>
      sameBits(LocalServe.round(x, scale), sparkRound(x, scale))
    })
  }

  test("round == Spark's Round 1-4 ulps either side of a HALF_UP boundary") {
    val nearBoundary: Gen[(Double, Int)] = for {
      scale <- Gen.oneOf(4, 6)
      n <- Gen.frequency(3 -> Gen.choose(-2000000L, 2000000L),
        1 -> Gen.choose(-100000000000L, 100000000000L))
      ulps <- Gen.choose(-4, 4)
    } yield {
      var x = java.math.BigDecimal.valueOf(10 * n + 5, scale + 1).doubleValue()
      (0 until math.abs(ulps)).foreach { _ =>
        x = if (ulps < 0) Math.nextDown(x) else Math.nextUp(x)
      }
      (x, scale)
    }
    check(Prop.forAll(nearBoundary) { case (x, scale) =>
      sameBits(LocalServe.round(x, scale), sparkRound(x, scale))
    })
  }

  test("round: -0.0 and tiny negatives give +0.0; NaN and +-Inf pass through") {
    Seq(-0.0, -1e-300, -Double.MinPositiveValue, -4e-7, -4.9999e-7).foreach { x =>
      Seq(4, 6).foreach { scale =>
        assert(sameBits(LocalServe.round(x, scale), 0.0), s"round($x, $scale)")
        assert(sameBits(sparkRound(x, scale), 0.0), s"Round($x, $scale)")
      }
    }
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { x =>
      assert(sameBits(LocalServe.round(x, 6), x), s"round($x, 6)")
      assert(sameBits(sparkRound(x, 6), x), s"Round($x, 6)")
    }
  }

  test("HnswLocalServer.IdTable == a Map over any Long ids, across growths") {
    val id: Gen[Long] = Gen.frequency(
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L),
      3 -> Gen.choose(-64L, 64L),
      3 -> Gen.choose(Long.MinValue, Long.MaxValue))
    val ids: Gen[List[Long]] = Gen.choose(0, 3000).flatMap(Gen.listOfN(_, id))
    check(Prop.forAll(ids, Gen.oneOf(2, 256)) { (ids, capacity) =>
      val t = new HnswLocalServer.IdTable(capacity)
      val cos = scala.collection.mutable.Map.empty[Long, Double]
      val pass = scala.collection.mutable.Map.empty[Long, Int]
      val visited = scala.collection.mutable.Set.empty[Long]
      ids.zipWithIndex.foreach { case (id, j) =>
        val i = t(id)
        if (!t.scored(i)) { t.setCosine(i, j * 0.5); cos(id) = j * 0.5 }
        t.setPass(i, j); pass(id) = j
        if (j % 3 == 0) { t.visit(i); visited += id }
      }
      t.size == cos.size && t.visitedIds().toSet == visited &&
        cos.forall { case (id, c) =>
          val i = t(id)
          t.key(i) == id && t.scored(i) && t.cosine(i) == c && t.pass(i) == pass(id)
        } && t.size == cos.size
    })
  }
}
