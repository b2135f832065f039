package graft

import graft.operators.{Relevancy, TextInference}
import graft.queries.MetricQueries
import org.apache.spark.sql.functions._

/** The pluggable model/judge seams (SURVEY §2.2 ti1, §2.6 r1/r2): the
  * sandbox ships deterministic stubs, but the operators must accept a
  * SWAPPED-IN implementation with no other change — that seam, not the
  * stub arithmetic, is what a real deployment relies on. Each test
  * injects a fake "model" and checks the plumbing (batching,
  * per-partition init, row pairing) carried it faithfully.
  */
class PluggableSeamSpec extends SparkSpec {

  test("embedText accepts a swapped-in encoder; plumbing is unchanged") {
    val session = spark
    import session.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .as[TextInference.DocRow]
    // fake "model": encodes every text to [len, 1.0] — trivially wrong
    // as an embedding, trivially checkable as plumbing
    val fake = (dim: Int) => new TextInference.TextEncoder {
      def encode(batch: Seq[String]): Seq[Option[Array[Double]]] =
        batch.map(t => Some(Array(t.length.toDouble, 1.0)))
    }
    val out = TextInference.embedText(docs, dim = 2, mkEncoder = fake)
      .collect().map(r => r.doc_id -> r.embedding).toMap
    val expected = docs.collect()
    assert(out.size == expected.length) // fake encoder drops nothing
    expected.foreach { d =>
      assert(out(d.doc_id).sameElements(Array(d.text.length.toDouble, 1.0)),
        s"doc ${d.doc_id} not routed through the injected encoder")
    }
  }

  test("embedText default encoder is the hash-TF stub (ti1 unchanged)") {
    val session = spark
    import session.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .as[TextInference.DocRow]
    val viaDefault = TextInference.embedText(docs, dim = 8).collect()
      .map(r => r.doc_id -> r.embedding.toSeq).toMap
    val viaStub = TextInference.embedText(docs, dim = 8,
      mkEncoder = new TextInference.StubModel(_)).collect()
      .map(r => r.doc_id -> r.embedding.toSeq).toMap
    assert(viaDefault == viaStub)
  }

  test("scorePairs accepts a swapped-in judge; threshold still applies") {
    val session = spark
    import session.implicits._
    val pairs = Seq(
      Relevancy.PairRow(1L, 2L, "a b c", "a b c"),
      Relevancy.PairRow(3L, 4L, "x y", "p q"),
      Relevancy.PairRow(5L, 6L, "m", "m n")).toDS()
    // fake "LLM": scores from the pair's own text — proves the factory
    // runs on the executor and each row meets ITS OWN score, not a
    // batch-misaligned neighbor's
    val fake = () => new Relevancy.RelevancyScorer {
      def score(batch: Seq[(String, String)]): Seq[Long] =
        batch.map(p => if (p._1.startsWith("a") || p._1 == "m") 5L else 2L)
    }
    val out = Relevancy.scorePairs(pairs, batchSize = 2, mkScorer = fake)
      .collect().map(r => (r.id_a, r.relevancy_score, r.is_relevant)).toSet
    assert(out == Set((1L, 5L, 1), (3L, 2L, 0), (5L, 5L, 1)))
  }

  test("default JaccardScorer: integer banding and edge cases") {
    val j = new Relevancy.JaccardScorer
    // identical sets → jaccard 1 → min(5, 1+10) = 5
    // half overlap {a,b}∩{b,c} = 1/3 → 1 + 10/3 div = 1+3 = 4
    // disjoint → 1 + 0 = 1; both empty → 1 (guard, no 0-division)
    assert(j.score(Seq(
      ("a b", "b a"), ("a b", "b c"), ("a", "b"), ("", ""))) ==
      Seq(5L, 4L, 1L, 1L))
  }

  test("latency capture measures each served query once, feeds m1's percentiles") {
    val session = spark
    import session.implicits._
    val served = scala.collection.mutable.ArrayBuffer[Long]()
    val lat = graft.operators.Latency.measure[Long](Seq(3L, 1L, 2L), { qid =>
      served += qid
      if (qid == 1L) Thread.sleep(5) // a visibly slower query
    })
    assert(served.toSeq == Seq(3L, 1L, 2L), "every query served exactly once, in order")
    assert(lat.map(_._1) == Seq(3L, 1L, 2L))
    assert(lat.forall(_._2 >= 0.0))
    assert(lat.find(_._1 == 1L).get._2 >= 5.0, "wall-clock must be captured")
    // the measured table is exactly what Pcts.p50p95p99 consumes
    val p = graft.operators.Pcts.p50p95p99(
      lat.toDF("query_id", "latency_ms").withColumn("path", lit("knn")),
      Seq("path"), "latency_ms").head()
    assert(p.getDouble(1) <= p.getDouble(2) && p.getDouble(2) <= p.getDouble(3),
      "P50 <= P95 <= P99")
  }

  test("r2 batched-judge query scores every d2 candidate pair") {
    val r2 = MetricQueries.r2RelevancyJudge(spark, sf)
    val nPairs = graft.queries.CorpusQueries.d2NgramJaccard(spark, sf).count()
    assert(r2.count() == nPairs)
    val bad = r2.filter(col("relevancy_score") < 1 || col("relevancy_score") > 5
      || (col("is_relevant") === 1) =!= (col("relevancy_score") >= 4))
    assert(bad.isEmpty, "scores must be 1-5 with relevance = score >= 4")
  }
}
