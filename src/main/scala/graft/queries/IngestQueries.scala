package graft.queries

import graft.Tables
import graft.operators.{MultiModal, Pcts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion + multimodal query bindings (SURVEY §2.1, §2.8).
  * The reference's pipeline starts from a CSV corpus
  * (/root/reference/src/db.py:16-52); ing_csv proves the schema-on-read
  * CSV path end-to-end by round-tripping the documents table through
  * CSV files and reading them back with an explicit schema.
  */
object IngestQueries {

  val csvSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** CSV round-trip: parquet → csv files → schema'd read → projection.
    * Written under /tmp, partitioned like any distributed sink would be.
    */
  def ingCsv(s: SparkSession, d: String): DataFrame = {
    // per-invocation scratch dir: a fixed path keyed only by the sf dir
    // races concurrent runs over the same dataset (bench vs tests) —
    // one reading while the other mode(overwrite)s
    val path = java.nio.file.Files.createTempDirectory("graft_csv_").toString
    Tables.documents(s, d)
      .write.mode("overwrite").option("header", "true").csv(path)
    s.read.schema(csvSchema).option("header", "true").csv(path)
      .select("doc_id", "lang", "source", "n_chars")
  }

  val ingCsvSql: String =
    "SELECT doc_id, lang, source, n_chars FROM documents"

  /** Corpus normalization to the reference's {id, text, meta} shape
    * (db.py:33-46), meta flattened to typed columns. */
  def ingDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("id"), col("text"), col("lang"), col("source"),
      length(col("text")).as("text_len"))

  val ingDocsSql: String =
    "SELECT doc_id AS id, text, lang, source, length(text) AS text_len FROM documents"

  /** Media table metadata pass: binary payload size + typed metadata. */
  def mm1Meta(s: SparkSession, d: String): DataFrame =
    MultiModal.mediaTable(Tables.documents(s, d))
      .select(col("id"), col("mime"), length(col("media")).as("n_bytes"),
        col("lang"), col("source"))

  val mm1Sql: String =
    """SELECT doc_id AS id, 'text/plain' AS mime,
      |  octet_length(encode(text)) AS n_bytes, lang, source
      |FROM documents""".stripMargin

  /** Frame-sampling plan: one frame per 64-byte stride, 16-byte frames. */
  def mm2FrameSample(s: SparkSession, d: String): DataFrame =
    MultiModal.frameSample(MultiModal.mediaTable(Tables.documents(s, d)), 64, 16)
      .select("id", "n_bytes", "n_frames", "first_frame")

  /** Media resize stub (every-2nd-byte subsample + portable checksum)
    * through the batched mapPartitions path; the oracle rebuilds the
    * subsampled string and folds the same hash. */
  def mm3Resize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    MultiModal.resize(
      MultiModal.mediaTable(Tables.documents(s, d))
        .select("id", "media", "mime").as[MultiModal.MediaRow],
      2).toDF()
  }

  val mm3Sql: String =
    s"""WITH sub AS (
       |  SELECT doc_id AS id,
       |    array_to_string(list_transform(range(1, (length(text) + 1) // 2 + 1),
       |      __si -> substring(text, 2 * __si - 1, 1)), '') AS st
       |  FROM documents)
       |SELECT id, CAST(length(st) AS INT) AS n_bytes_out,
       |  ${CorpusQueries.polyhashS("st")} AS out_hash
       |FROM sub""".stripMargin

  val mm2Sql: String =
    """SELECT doc_id AS id,
      |  octet_length(encode(text)) AS n_bytes,
      |  CAST(floor((octet_length(encode(text)) - 1)::DOUBLE / 64) AS BIGINT) + 1 AS n_frames,
      |  substring(text, 1, 16) AS first_frame
      |FROM documents""".stripMargin

  /** mm4: overlapping audio-style framing (32-byte frames, 16-byte
    * hop) with a per-frame polyhash feature stub — one row per frame,
    * the STFT row shape. The corpus is ASCII so byte and char offsets
    * coincide in both engines. */
  def mm4AudioFrames(s: SparkSession, d: String): DataFrame =
    MultiModal.audioFrames(MultiModal.mediaTable(Tables.documents(s, d)), 32, 16)

  val mm4Sql: String =
    s"""WITH m AS (SELECT doc_id AS id, text,
       |             octet_length(encode(text)) AS nb FROM documents),
       |f AS (SELECT id, text,
       |        unnest(range(0, CAST(floor((nb - 32)::DOUBLE / 16) AS BIGINT) + 1)) AS frame_idx
       |      FROM m WHERE nb >= 32)
       |SELECT id, frame_idx, frame_idx * 16 AS frame_off,
       |  ${CorpusQueries.polyhashS("substring(text, CAST(frame_idx * 16 + 1 AS INT), 32)")} AS frame_hash
       |FROM f""".stripMargin

  /** ing_jsonl: JSON-lines round trip — the raw-crawl interchange
    * format. Documents are written as partitioned .jsonl files and
    * read back with an explicit schema (schema-on-read, no inference
    * job at 100 TB), then aggregated per language as the check. */
  def ingJsonl(s: SparkSession, d: String): DataFrame = {
    // per-invocation scratch dir — same race rationale as ingCsv
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl_").toString
    Tables.documents(s, d).write.mode("overwrite").json(path)
    s.read.schema(csvSchema).json(path)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
  }

  val ingJsonlSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1""".stripMargin

  /** mm5_size_pcts — EXACT per-language media-size percentiles
    * (P50/P95/P99 of payload bytes), the storage-planning histogram a
    * multimodal corpus is partitioned by, via Pcts.p50p95p99: sizes
    * collapse to a value histogram (distinct sizes, not documents),
    * so this stays exact where m4 would approximate, at any scale. */
  def mm5SizePcts(s: SparkSession, d: String): DataFrame =
    Pcts.p50p95p99(
      MultiModal.mediaTable(Tables.documents(s, d))
        .select(col("lang"), length(col("media")).cast("long").as("nb")),
      Seq("lang"), "nb")
      .select("lang", "p50", "p95", "p99")

  val mm5Sql: String =
    s"""WITH g AS (SELECT lang,
       |             list_sort(list(CAST(octet_length(encode(text)) AS BIGINT))) AS s,
       |             count(*) AS n
       |           FROM documents WHERE text IS NOT NULL GROUP BY 1)
       |SELECT lang,
       |  round(${Pcts.sql(0.50)}, 6) AS p50,
       |  round(${Pcts.sql(0.95)}, 6) AS p95,
       |  round(${Pcts.sql(0.99)}, 6) AS p99
       |FROM g""".stripMargin
}
