package graft
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each selected registry row's result →
  * `<outDir>/<name>` parquet, `registry.json` with each row's status,
  * and `oracle_sql.json` for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [query ...] — trailing names run only
  * those rows; a name that is not registered fails before any query.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val rows = SparkEntry.select(args.drop(2))
    val spark = Session()
    new File(outDir).mkdirs()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    run(spark, sfDir, outDir, rows)
    spark.stop()
  }

  /** Runs `rows` in order. `<outDir>/registry.json` lists every row
    * with `oracle` (has oracle SQL) and `status`: `pending` until the
    * row ends, then `ok` or `failed` with its `error`. The file is
    * replaced by rename after each row, so a reader never sees a torn
    * file. Each row's old output directory is deleted before it runs,
    * so a row that throws leaves no stale parquet behind. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      rows: Seq[SparkEntry.Row]): Unit = {
    val status = Array.fill(rows.size)(""""status":"pending"""")
    def flush(): Unit = {
      val json = rows.zip(status).map { case (r, s) =>
        s"""{"name":${q(r.name)},"oracle":${r.oracle.isRight},$s}"""
      }.mkString("[\n", ",\n", "\n]\n")
      val tmp = Paths.get(s"$outDir/registry.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, Paths.get(s"$outDir/registry.json"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    new File(outDir).mkdirs()
    flush()
    rows.zipWithIndex.foreach { case (r, i) =>
      // progress marker to stderr: lets rung runs attribute engine
      // warnings (e.g. WindowExec single-partition) to a query
      System.err.println(s"[verify] ${r.name}")
      val out = new File(outDir, r.name)
      // repartition(1), NOT coalesce(1): coalesce folds the whole
      // upstream into the single output task, so any shuffle-free plan
      // (brute-force kNN's broadcast nested-loop scan) runs on ONE
      // core — at sf10 that serialized a 40-minute corpus scan. The
      // repartition exchange keeps the compute at full parallelism and
      // only the parquet write is single-task (row order is
      // irrelevant: both gates sort before hashing).
      status(i) =
        try {
          FileUtils.deleteDirectory(out)
          r.run(spark, sfDir).repartition(1).write.parquet(out.getPath)
          """"status":"ok""""
        } catch { case e: Throwable =>
          System.err.println(s"[verify] ${r.name} failed: ${e.getMessage}")
          s""""status":"failed","error":${q(e.toString)}"""
        }
      flush()
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
