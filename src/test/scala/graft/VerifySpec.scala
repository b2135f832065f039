package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._

/** `Verify.run`'s contract with the gates: registry.json names every
  * selected row before the first one runs, and a row that throws is
  * marked failed with no output left behind, even when an earlier run
  * left parquet in its directory. */
class VerifySpec extends SparkSpec {

  private def registry(out: Path): Seq[Map[String, String]] =
    new ObjectMapper().readTree(out.resolve("registry.json").toFile)
      .elements.asScala.toSeq
      .map(n => n.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap)

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toSeq

  test("a throwing row is failed with its message and its stale output is gone") {
    val out = Files.createTempDirectory("verify_spec")
    import spark.implicits._
    Seq(1, 2, 3).toDF("x").write.parquet(out.resolve("boom").toString)
    assert(parquetFiles(out.resolve("boom")).nonEmpty)

    var seenBeforeFirstRow: Seq[Map[String, String]] = Nil
    val rows = Seq(
      SparkEntry.Row("fine", (s, _) => {
        seenBeforeFirstRow = registry(out)
        s.range(3).toDF()
      }, Right(() => "SELECT 1")),
      SparkEntry.Row("boom",
        (_, _) => throw new IllegalStateException("injected fault"),
        Left("rows-only for the spec")))
    Verify.run(spark, sf, out.toString, rows)

    assert(seenBeforeFirstRow.map(r => (r("name"), r("oracle"), r("status"))) ==
      Seq(("fine", "true", "pending"), ("boom", "false", "pending")))
    val after = registry(out).map(r => r("name") -> r).toMap
    assert(after("fine")("status") == "ok")
    assert(after("boom")("status") == "failed")
    assert(after("boom")("error").contains("injected fault"))
    assert(parquetFiles(out.resolve("boom")).isEmpty)
    assert(spark.read.parquet(out.resolve("fine").toString).count() == 3)
    assert(!Files.exists(out.resolve("registry.json.tmp")))
    FileUtils.deleteDirectory(out.toFile)
  }
}
