package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Registry-level invariants over SparkEntry — the contract the driver
  * consumes. These catch bookkeeping classes of bug that no per-query
  * spec can: a Scala `null` silently interpolated into an oracle (a
  * `val xSql` referencing a val initialized LATER in its object — it
  * rendered as the SQL literal `null` and the oracle returned garbage;
  * this fired twice in round 7, ml1 and ab3), an oracle entry without
  * a query, or duplicate registration.
  */
class RegistrySpec extends AnyFunSuite {

  test("no oracle SQL contains an interpolated Scala null") {
    // Scala null interpolates as lowercase "null"; legitimate SQL here
    // uses IS [NOT] NULL / THEN NULL spellings in caps. A bare
    // lowercase `null` token is the init-order bug.
    val offenders = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql == null || "(?<![A-Za-z_])null(?![A-Za-z_])".r
        .findFirstIn(sql).isDefined
    }
    assert(offenders.isEmpty,
      s"oracles with interpolated null: ${offenders.keys.toSeq.sorted}")
  }

  test("every oracle entry has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.toSeq.sorted}")
  }

  test("oracle SQL is non-empty and mentions at least one table or CTE") {
    val bad = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.trim.isEmpty || !sql.toUpperCase.contains("SELECT")
    }
    assert(bad.isEmpty, s"degenerate oracles: ${bad.keys.toSeq.sorted}")
  }

  test("every baseline-tier row and its scale-path twins are registered") {
    // r12 verdict task 8: the scale story ("every brute-force row has a
    // bucketed/sampled twin") is enforced by the registry, not prose
    val q = SparkEntry.queries.keySet
    SparkEntry.baselineTiers.foreach { case (base, twins) =>
      assert(q.contains(base), s"baseline tier $base not a registered query")
      assert(twins.nonEmpty, s"baseline tier $base names no scale-path twin")
      val missing = twins.filterNot(q.contains)
      assert(missing.isEmpty, s"$base names unregistered twins: $missing")
      // a twin must be a DIFFERENT row: the tag is a pointer, not a self-loop
      assert(!twins.contains(base), s"$base lists itself as its twin")
    }
  }

  test("registry row names are distinct") {
    // a Map literal would keep the last duplicate without a word
    val dups = SparkEntry.rows.groupBy(_.name).collect {
      case (n, rs) if rs.size > 1 => n }
    assert(dups.isEmpty, s"names registered twice: ${dups.toSeq.sorted}")
  }

  test("exactly cmp1 and v8 are rows-only, each with a reason") {
    val reasons = SparkEntry.rows.collect { case SparkEntry.Row(n, _, Left(r), _) => n -> r }
    assert(reasons.map(_._1).toSet ==
      Set("cmp1_compression", "v8_knn_ivf_kmeans"))
    assert(reasons.forall(_._2.trim.nonEmpty), s"empty rows-only reason: $reasons")
  }

  test("bench overrides are exactly the three sketch rows") {
    val overridden = SparkEntry.rows.filter(_.bench.isDefined).map(_.name).toSet
    assert(overridden ==
      Set("m4_approx_pcts", "q12_approx_distinct", "roll1_hll_rollup"))
    assert(SparkEntry.benchQueries.keySet == SparkEntry.queries.keySet)
  }

  test("every rung subset and exclusion names a registered row") {
    val tools = Paths.get("tools")
    val subsets = Seq("repr50.txt", "repr_sf30.txt", "repr_sf100.txt")
      .flatMap(f => Files.readAllLines(tools.resolve(f)).asScala)
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    val exclusions = Files.list(tools).iterator.asScala
      .filter(_.getFileName.toString.matches("exclusions_.*\\.json"))
      .toSeq.flatMap(f =>
        new ObjectMapper().readTree(f.toFile).fieldNames.asScala)
    assert(subsets.nonEmpty && exclusions.nonEmpty)
    val unknown = (subsets ++ exclusions).toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"unregistered names: ${unknown.toSeq.sorted}")
  }

  test("select keeps registry order and rejects an unregistered name") {
    assert(SparkEntry.select(Nil) == SparkEntry.rows)
    assert(SparkEntry.select(Seq("q2_filter_agg", "q1_pricing")).map(_.name) ==
      Seq("q1_pricing", "q2_filter_agg"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_pricing", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
