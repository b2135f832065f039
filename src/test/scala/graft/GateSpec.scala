package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils

/** Both gates (tools/check.py, tools/gate_sf1.py) read registry.json,
  * not the output directories: a row Verify did not mark ok fails even
  * when a stale dump from an earlier run would match its oracle, and
  * so does an ok row with no parquet output. */
class GateSpec extends SparkSpec {

  private def python(args: String*): (Int, String) = {
    val p = new ProcessBuilder(("python3" +: args): _*)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    (p.waitFor(), out)
  }

  private def havePythonGate: Boolean =
    try python("-c", "import duckdb, pandas")._1 == 0
    catch { case _: java.io.IOException => false }

  test("failed, pending and missing outputs fail both gates") {
    assume(new java.io.File("tools/check.py").isFile && havePythonGate)
    val out = Files.createTempDirectory("gate_spec")
    import spark.implicits._
    // "threw" has a dump that matches its oracle, left by an earlier run
    Seq("good", "threw").foreach(n =>
      Seq(1L).toDF("x").write.parquet(out.resolve(n).toString))
    Files.writeString(out.resolve("registry.json"),
      """[{"name":"good","oracle":true,"status":"ok"},
        |{"name":"threw","oracle":true,"status":"failed","error":"boom"},
        |{"name":"pending","oracle":true,"status":"pending"},
        |{"name":"no_dump","oracle":false,"status":"ok"}]""".stripMargin)
    val one = "SELECT CAST(1 AS BIGINT) AS x"
    Files.writeString(out.resolve("oracle_sql.json"),
      Seq("good", "threw", "pending").map(n => s""""$n": "$one"""")
        .mkString("{", ",", "}"))
    val noFixture = out.resolve("no_fixture").toString

    val (code, log) = python("tools/check.py", noFixture, out.toString)
    assert(code == 1, log)
    assert(log.contains("[PASS] good"), log)
    Seq("threw", "pending", "no_dump").foreach(n =>
      assert(log.contains(s"[FAIL] $n:"), log))
    assert(log.contains("3 failure(s)"), log)

    val artifact: Path = out.resolve("gate.json")
    val (gcode, glog) = python("tools/gate_sf1.py", noFixture, out.toString,
      artifact.toString)
    assert(gcode == 1, glog)
    val qs = new ObjectMapper().readTree(artifact.toFile).get("queries")
    assert(Seq("good", "threw", "pending", "no_dump")
      .map(n => qs.get(n).get("status").asText) ==
      Seq("pass", "fail", "fail", "fail"), glog)
    FileUtils.deleteDirectory(out.toFile)
  }
}
