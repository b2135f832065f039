package graft.queries

import graft.Tables
import graft.operators.{Dedup, Embed, TextAnalysis, Upsert}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup + text-analysis + upsert query bindings (SURVEY §2.1 u1,
  * §2.4, §2.5) with DuckDB oracle SQL. Shared portable-hash fragments
  * keep both engines bit-identical (see Embed / Dedup).
  */
object CorpusQueries {

  // ---- shared DuckDB fragments ----------------------------------------

  /** Polynomial rolling hash of a string expression (matches
    * Embed.tokenHash). */
  def polyhashS(e: String): String =
    // lambda vars deliberately obscure (__pi/__ph/__pc): this fragment is
    // nested inside callers' lambdas, and DuckDB lexically shadows reused
    // names — a plain `i` here silently hijacked t4's outer gram index.
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e) + 1), __pi -> CAST(ascii(substring($e, __pi, 1)) AS BIGINT))), " +
      s"(__ph, __pc) -> (__ph * 31 + __pc) % ${Embed.HashMod})"

  /** The independent extra polyhashes (match PolyHash.second/third/
    * fourth) forming d1's wide digest. */
  private def polyhashNS(e: String, base: Long, mod: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e) + 1), __pi -> CAST(ascii(substring($e, __pi, 1)) AS BIGINT))), " +
      s"(__ph, __pc) -> (__ph * $base + __pc) % $mod)"

  def polyhash2S(e: String): String =
    polyhashNS(e, graft.functions.PolyHash.Base2, graft.functions.PolyHash.Mod2)
  def polyhash3S(e: String): String =
    polyhashNS(e, graft.functions.PolyHash.Base3, graft.functions.PolyHash.Mod3)
  def polyhash4S(e: String): String =
    polyhashNS(e, graft.functions.PolyHash.Base4, graft.functions.PolyHash.Mod4)

  val toksCte: String =
    "toks AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> length(t) > 0) AS tk FROM documents)"

  /** Zipf remap oracle fragments — mirrors TextAnalysis.zipfRemap:
    * term = 't' || floor((V+1)^(mixedHash(tok:doc:pos)%1e6 / 1e6)). */
  private def zipfTermS(tokE: String, posE: String): String = {
    val key = s"$tokE || ':' || CAST(doc_id AS VARCHAR) || ':' || CAST($posE AS VARCHAR)"
    val mh = s"((${polyhashS(key)}) * ${graft.operators.Sampling.mixedHashSqlConst}) % ${Embed.HashMod}"
    s"'t' || CAST(CAST(floor(pow(${graft.operators.TextAnalysis.ZipfVocab + 1}.0, " +
      s"CAST(($mh) % 1000000 AS DOUBLE) / 1000000.0)) AS BIGINT) AS VARCHAR)"
  }

  /** `toks` over the Zipf-remapped corpus (same name as toksCte so the
    * downstream CTE bodies are shared verbatim). */
  val zToksCte: String =
    // MATERIALIZED: the zipf remap is per-token polyhash+pow over the
    // whole corpus and `toks` is referenced by several downstream CTEs
    // — DuckDB 1.0 inlines by default and would re-tokenize per
    // reference (the kc1 oracle-blowup class; see pairGraphCtes note)
    s"""rawtoks AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> length(t) > 0) AS tk FROM documents),
       |toks AS MATERIALIZED (SELECT doc_id, list_transform(range(1, len(tk) + 1),
       |  __zi -> ${zipfTermS("tk[__zi]", "__zi")}) AS tk FROM rawtoks)""".stripMargin

  /** Discriminative query gen over zipf `toks` → `qry` (mirrors
    * TextAnalysis.zipfQueryGen: 3 smallest-df distinct terms). */
  val zQryCtes: String =
    s"""qdt AS (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks WHERE doc_id % 10 = 0),
       |gdf AS (SELECT tok, count(*) AS df FROM (
       |    SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks) u_df GROUP BY 1
       |  HAVING count(*) >= ${graft.operators.TextAnalysis.ZipfQueryMinDf}),
       |rankedq AS (SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY df ASC, tok ASC) AS rnk FROM qdt JOIN gdf USING (tok)),
       |qry AS MATERIALIZED (SELECT doc_id AS query_id, string_agg(tok, ' ' ORDER BY rnk) AS query
       |        FROM rankedq WHERE rnk <= 3 GROUP BY doc_id)""".stripMargin

  val shingleCte: String =
    s"sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1), " +
      s"i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM toks WHERE len(tk) >= 3)"

  // ---- d1_exact_dedup -------------------------------------------------

  /** Input corpus with planted duplicates: docs with doc_id < 50 appear
    * again under doc_id + 1000000 (the testdata has no exact dups). */
  def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    docs.unionAll(
      docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exact(docsWithDups(s, d))

  val d1Sql: String =
    s"""WITH dup AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50)
       |SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       |FROM dup GROUP BY length(text), ${polyhashS("text")}, ${polyhash2S("text")},
       |  ${polyhash3S("text")}, ${polyhash4S("text")}""".stripMargin

  // ---- d12_incr_dedup -------------------------------------------------

  /** Incremental exact dedup: base corpus (doc_id % 5 != 0) persists
    * only its digest table; the new batch (doc_id % 5 == 0, plus 100
    * re-keyed copies of base docs that must ALL be dropped) is deduped
    * against it without touching base text. */
  def d12IncrDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .unionAll(base.filter(col("doc_id") < 100)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    Dedup.incrementalExact(Dedup.digests(base), batch)
  }

  val d12Sql: String =
    s"""WITH batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
       |  WHERE doc_id % 5 <> 0 AND doc_id < 100),
       |bd AS (SELECT DISTINCT length(text) AS l, ${polyhashS("text")} AS h1,
       |         ${polyhash2S("text")} AS h2, ${polyhash3S("text")} AS h3,
       |         ${polyhash4S("text")} AS h4
       |       FROM documents WHERE doc_id % 5 <> 0),
       |bh AS (SELECT doc_id, length(text) AS l, ${polyhashS("text")} AS h1,
       |         ${polyhash2S("text")} AS h2, ${polyhash3S("text")} AS h3,
       |         ${polyhash4S("text")} AS h4
       |       FROM batch)
       |SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       |FROM bh
       |WHERE NOT EXISTS (SELECT 1 FROM bd
       |  WHERE bd.l = bh.l AND bd.h1 = bh.h1 AND bd.h2 = bh.h2
       |    AND bd.h3 = bh.h3 AND bd.h4 = bh.h4)
       |GROUP BY l, h1, h2, h3, h4""".stripMargin

  // ---- d2_ngram_jaccard -----------------------------------------------

  val JaccardMin = 0.05

  def d2NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), 3, JaccardMin)

  // mirrors Dedup.ngramJaccardPairs incl. the document-frequency DROP
  // cap: shingle hashes in > DropDfCap docs are pruned from the shingle
  // sets (both intersection AND per-doc sizes) before the self-join.
  // The SALT threshold (DefaultDfCap) is a Spark physical-plan detail —
  // salted and plain joins generate identical pairs, so the oracle
  // only mirrors the drop.
  val d2Sql: String =
    s"""WITH $toksCte, $shingleCte,
       |exs AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
       |ex0 AS (SELECT doc_id, ${polyhashS("s")} AS h FROM exs),
       |hot AS (SELECT h FROM ex0 GROUP BY h HAVING count(*) > ${Dedup.DropDfCap}),
       |exk AS (SELECT doc_id, h FROM ex0 WHERE h NOT IN (SELECT h FROM hot)),
       |ex AS (SELECT doc_id, h, count(*) OVER (PARTITION BY doc_id) AS nsh FROM exk)
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
       |  SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
       |           any_value(a.nsh) AS na, any_value(b.nsh) AS nb
       |    FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2))
       |WHERE jaccard >= $JaccardMin""".stripMargin

  // ---- d3_minhash -----------------------------------------------------

  def d3Minhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidates(Tables.documents(s, d), 3)

  /** MinHash signature + df-capped band CTEs (reads `sh`; ends in
    * `sig` and `bands`) — shared by the d3 bucketing and d14
    * estimation oracles. */
  private def minhashCtes: String = {
    val p = Embed.HashMod
    s"""hs AS (SELECT doc_id, list_transform(sh, s -> ${polyhashS("s")}) AS hs
       |       FROM sh WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, list_transform(range(0, ${Dedup.NumPerms}), j ->
       |          list_min(list_transform(hs, h -> ((j*2+3)*h + (j*1234567+89)) % $p))) AS sig
       |        FROM hs),
       |bands0 AS (SELECT doc_id, r.range AS band_idx,
       |            array_to_string(list_transform(
       |              array_slice(sig, r.range*${Dedup.RowsPerBand}+1, r.range*${Dedup.RowsPerBand}+${Dedup.RowsPerBand}),
       |              x -> CAST(x AS VARCHAR)), '_') AS band_key
       |          FROM sig, range(0, ${Dedup.NumBands}) r),
       |hotb AS (SELECT band_idx, band_key FROM bands0
       |         GROUP BY 1, 2 HAVING count(*) > ${Dedup.DropDfCap}),
       |bands AS (SELECT b.* FROM bands0 b WHERE NOT EXISTS (
       |            SELECT 1 FROM hotb h
       |            WHERE h.band_idx = b.band_idx AND h.band_key = b.band_key))""".stripMargin
  }

  val d3Sql: String =
    s"""WITH $toksCte, $shingleCte,
       |$minhashCtes
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(DISTINCT a.band_idx) AS n_shared_bands
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  // ---- d14_minhash_est ------------------------------------------------

  /** MinHash Jaccard estimate vs exact for every LSH candidate pair
    * (see Dedup.minhashEstimates). */
  def d14MinhashEst(s: SparkSession, d: String): DataFrame =
    Dedup.minhashEstimates(Tables.documents(s, d), 3)

  val d14Sql: String =
    s"""WITH $toksCte, $shingleCte,
       |$minhashCtes,
       |$shingleIndexCtes,
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |              AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |eq AS (SELECT c.id_a, c.id_b,
       |         len(list_filter(range(1, ${Dedup.NumPerms} + 1),
       |           i -> sa.sig[i] = sb.sig[i])) AS n_eq
       |       FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
       |                   JOIN sig sb ON sb.doc_id = c.id_b),
       |xact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |           count(*)::DOUBLE
       |             / (any_value(a.nsh) + any_value(b.nsh) - count(*)) AS xj
       |         FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2)
       |SELECT e.id_a, e.id_b,
       |  round(e.n_eq::DOUBLE / ${Dedup.NumPerms}, 6) AS est_jaccard,
       |  round(coalesce(x.xj, 0.0), 6) AS exact_jaccard
       |FROM eq e LEFT JOIN xact x ON e.id_a = x.id_a AND e.id_b = x.id_b""".stripMargin

  // ---- d4_simhash -----------------------------------------------------

  def d4Simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashes(Tables.documents(s, d), "text")

  /** One 30-bit half of the 60-bit SimHash majority fold over a
    * token-hash list column, placed at bit offset `off` (matches
    * Dedup.simhashes: bits 0-29 from the primary polyhash list, 30-59
    * from the PolyHash.second list). */
  private def simhashHalfS(hsCol: String, off: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(0, ${Dedup.SimhashBits / 2}), i ->
       |      CASE WHEN len(list_filter($hsCol, h -> (h // (1::BIGINT << i)) % 2 = 1)) * 2 >= len($hsCol)
       |           THEN (1::BIGINT << (i + $off)) ELSE 0 END)),
       |    (a, b) -> a + b)""".stripMargin

  /** Both token-hash lists feeding the two SimHash halves. */
  private def simhashThS(src: String): String =
    s"""th AS (SELECT doc_id, list_transform(tk, t -> ${polyhashS("t")}) AS hs,
       |  list_transform(tk, t -> ${polyhash2S("t")}) AS hs2 FROM $src)""".stripMargin

  val d4Sql: String =
    s"""WITH $toksCte,
       |${simhashThS("toks")}
       |SELECT doc_id,
       |  ${simhashHalfS("hs", 0)}
       |  + ${simhashHalfS("hs2", Dedup.SimhashBits / 2)} AS simhash
       |FROM th""".stripMargin

  // ---- t1_tokens ------------------------------------------------------

  def t1Tokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_ws_tokens", "n_bpe_tokens")

  val t1Sql: String =
    s"""SELECT doc_id,
       |  len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '${TextAnalysis.BpePattern.replace("\\", "\\\\")}')) AS n_bpe_tokens
       |FROM documents""".stripMargin

  // ---- t2_quality -----------------------------------------------------

  def t2Quality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(Tables.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_tokens", "mean_token_len", "stopword_ratio",
        "punct_ratio", "quality_score")

  val t2Sql: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH $toksCte,
       |m AS (SELECT doc_id, text, tk, len(tk) AS n_tokens,
       |        (length(text) - (len(tk) - 1))::DOUBLE / len(tk) AS mean_len,
       |        len(list_filter(tk, t -> t IN ($stop)))::DOUBLE / len(tk) AS stop_ratio,
       |        len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE / length(text) AS punct_ratio
       |      FROM toks)
       |SELECT doc_id, n_tokens,
       |  round(mean_len, 4) AS mean_token_len,
       |  round(stop_ratio, 4) AS stopword_ratio,
       |  round(punct_ratio, 4) AS punct_ratio,
       |  round(((CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
       |       + (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.0 END)
       |       + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality_score
       |FROM m""".stripMargin
  }

  // ---- t3_langid ------------------------------------------------------

  def t3LangId(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langId(Tables.documents(s, d).select("doc_id", "text"), "text")

  val t3Sql: String = {
    val markerRows = TextAnalysis.LangMarkers
      .map { case (l, m) => s"('$l', '$m')" }.mkString(", ")
    s"""WITH markers(cand_lang, marker) AS (VALUES $markerRows),
       |scored AS (
       |  SELECT d.doc_id, m.cand_lang,
       |    CAST(sum(CASE WHEN instr(' ' || d.text || ' ', ' ' || m.marker || ' ') > 0
       |             THEN 1 ELSE 0 END) AS BIGINT) AS lang_score
       |  FROM documents d, markers m
       |  GROUP BY 1, 2)
       |SELECT doc_id, cand_lang AS predicted_lang, lang_score FROM (
       |  SELECT doc_id, cand_lang, lang_score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY lang_score DESC, cand_lang ASC) AS rnk
       |  FROM scored) WHERE rnk = 1""".stripMargin
  }

  // ---- tok1_fertility ---------------------------------------------------

  /** Tokenizer-fertility report per language: chars-per-token from
    * EXACT integer sums (Σ chars, Σ whitespace tokens) with one double
    * division — the signal for how expensive each language is to
    * tokenize (CJK explodes, English doesn't) and the sanity check
    * before trusting token-count-based quality filters cross-lingually. */
  def tok1Fertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), length(col("text")).as("nc"),
        size(Embed.tokens(col("text"))).as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nc").as("n_chars"),
        sum("nt").as("n_tokens"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6))

  val tok1Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |  CAST(sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(length(text)) AS DOUBLE)
      |        / CAST(sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))) AS DOUBLE), 6)
      |    AS chars_per_token
      |FROM documents GROUP BY 1""".stripMargin

  // ---- d16_lsh_curve ----------------------------------------------------

  /** MinHash-LSH S-curve calibration: per exact-jaccard decile band of
    * the d2 pairs, the OBSERVED fraction that d3's band bucketing
    * surfaced as candidates, beside the THEORETICAL collision rate
    * 1−(1−j⁴)⁴ for 16 perms in 4 bands of 4 — the report that tells a
    * pipeline whether its band/row split matches its dedup threshold
    * (v18's operating-point measurement, for the LSH knob). Powers are
    * explicit left-associated multiplications, never libm pow, so both
    * engines produce identical doubles. */
  def d16LshCurve(s: SparkSession, d: String): DataFrame = {
    // both arms share ONE materialized tokenize→shingle→hash scan: the
    // exact (d2) arm and the banded (d3) arm previously each re-ran the
    // full pipeline (2 corpus scans + 2 signature-input builds)
    val raw = Dedup.shingleHashRowsMaterialized(Tables.documents(s, d), 3)
    val exact = Dedup.ngramJaccardPairsFromRows(raw, JaccardMin)
    val cand = Dedup.minhashBandPairs(Dedup.minhashSignatures(raw),
        Dedup.DefaultDfCap, Dedup.DropDfCap)
      .select(col("id_a"), col("id_b")).dropDuplicates("id_a", "id_b")
      .withColumn("__hit", lit(1L))
    val jm = (col("band").cast("double") + 0.5) / 10.0
    val j4 = jm * jm * jm * jm
    val y = lit(1.0) - j4
    exact.join(cand, Seq("id_a", "id_b"), "left")
      .withColumn("band", floor(col("jaccard") * 10).cast("long"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_candidates"))
      .withColumn("observed_rate",
        round(col("n_candidates").cast("double") / col("n_pairs").cast("double"), 6))
      .withColumn("theory_rate", round(lit(1.0) - y * y * y * y, 6))
  }

  val d16Sql: String = {
    val jm = "((CAST(band AS DOUBLE) + 0.5) / 10.0)"
    val j4 = s"($jm * $jm * $jm * $jm)"
    val y = s"(1.0 - $j4)"
    s"""WITH exact AS (SELECT id_a, id_b, jaccard FROM ($d2Sql)),
       |cand AS (SELECT id_a, id_b FROM ($d3Sql)),
       |j AS (SELECT CAST(floor(e.jaccard * 10) AS BIGINT) AS band,
       |        CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
       |      FROM exact e LEFT JOIN cand c
       |        ON e.id_a = c.id_a AND e.id_b = c.id_b)
       |SELECT band, count(*) AS n_pairs, CAST(sum(hit) AS BIGINT) AS n_candidates,
       |  round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS observed_rate,
       |  round(1.0 - $y * $y * $y * $y, 6) AS theory_rate
       |FROM j GROUP BY 1""".stripMargin
  }

  // ---- t10_langid_eval ------------------------------------------------

  /** Confusion matrix of the t3 language-ID heuristic against the
    * corpus's labeled lang column — the calibration report a pipeline
    * reads before trusting a classifier as a filter (which languages
    * leak into which). Counts are exact integers; per-true-lang share
    * is one double division over a window on the ALREADY-AGGREGATED
    * matrix (≤ |langs|² rows — metadata-sized at any corpus scale). */
  def t10LangidEval(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(t3LangId(s, d).select("doc_id", "predicted_lang"), "doc_id")
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        round(col("n_docs").cast("double")
          / sum("n_docs").over(w).cast("double"), 6))
  }

  val t10Sql: String =
    s"""WITH t3 AS ($t3Sql),
       |conf AS (SELECT d.lang, t.predicted_lang, count(*) AS n_docs
       |         FROM documents d JOIN t3 t ON d.doc_id = t.doc_id
       |         GROUP BY 1, 2)
       |SELECT lang, predicted_lang, n_docs,
       |  round(CAST(n_docs AS DOUBLE)
       |        / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share
       |FROM conf""".stripMargin

  // ---- t4_fingerprint -------------------------------------------------

  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "full_hash", "min_gram_hash")

  val t4Sql: String =
    s"""SELECT doc_id,
       |  ${polyhashS("text")} AS full_hash,
       |  list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
       |    i -> ${polyhashS("substring(text, i, 8)")})) AS min_gram_hash
       |FROM documents""".stripMargin

  // ---- cf1_contamination ----------------------------------------------

  val ContaminationMinShared = 3

  /** Pseudo-benchmark = every 97th doc; the rest is the training
    * corpus. Flags training docs sharing ≥3 distinct 3-gram shingles
    * with a benchmark doc. */
  def cf1Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    graft.operators.Contamination.check(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0),
      3, ContaminationMinShared)
  }

  // mirrors Contamination.check incl. the benchmark-side df cap
  val cf1Sql: String =
    s"""WITH $toksCte, $shingleCte,
       |exs AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
       |ex AS (SELECT doc_id, ${polyhashS("s")} AS h FROM exs),
       |c AS (SELECT doc_id, h FROM ex WHERE doc_id % 97 != 0),
       |b0 AS (SELECT doc_id AS benchmark_id, h,
       |         count(*) OVER (PARTITION BY h) AS bdf
       |       FROM ex WHERE doc_id % 97 = 0),
       |b AS (SELECT benchmark_id, h FROM b0 WHERE bdf <= ${Dedup.DefaultDfCap})
       |SELECT c.doc_id, b.benchmark_id, count(*) AS n_shared
       |FROM c JOIN b USING (h)
       |GROUP BY 1, 2 HAVING count(*) >= $ContaminationMinShared""".stripMargin

  // ---- t6_bigram_stats ------------------------------------------------

  def t6BigramStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramStats(Tables.documents(s, d).select("doc_id", "text"), "text")

  val t6Sql: String =
    s"""WITH $toksCte,
       |bg0 AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk)),
       |          i -> tk[i] || ' ' || tk[i+1])) AS bgs
       |        FROM toks WHERE len(tk) >= 2),
       |exs AS (SELECT doc_id, unnest(bgs) AS s FROM bg0 WHERE len(bgs) > 0),
       |ex AS (SELECT doc_id, ${polyhashS("s")} AS h FROM exs),
       |df AS (SELECT h, count(*) AS df FROM ex GROUP BY h),
       |j AS (SELECT doc_id, df FROM ex JOIN df USING (h))
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(avg(df), 4) AS avg_bigram_df,
       |  round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS rare_ratio
       |FROM j GROUP BY doc_id""".stripMargin

  // ---- d7_simhash_pairs -----------------------------------------------

  val SimhashMaxHamming = 2

  /** Exact Hamming-≤`SimhashMaxHamming` (=2) pairs over the 60-bit
    * simhashes, bounded by the (10−2)-block agreement join (see
    * Dedup.simhashPairs for the pigeonhole argument; the 48-bit combo
    * keys make random key collisions nil at any realistic N). Runs on
    * the dup-planted corpus so the planted exact duplicates (hamming
    * 0) guarantee pairs exist. */
  def d7SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(
      Dedup.simhashes(docsWithDups(s, d), "text"), SimhashMaxHamming)

  val d7Sql: String =
    s"""WITH dup AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS tk FROM dup),
       |${simhashThS("toks")},
       |sh AS (SELECT doc_id,
       |  ${simhashHalfS("hs", 0)}
       |  + ${simhashHalfS("hs2", Dedup.SimhashBits / 2)} AS simhash
       |  FROM th),
       |cm(combo, keepmask) AS (VALUES
       |    ${Dedup.simhashComboMasks(SimhashMaxHamming).zipWithIndex
              .map { case (m, i) => s"($i, ${m}::BIGINT)" }.mkString(", ")}),
       |keyed AS (SELECT doc_id, simhash, cm.combo, simhash & cm.keepmask AS key
       |  FROM sh, cm)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    any_value(bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)))::INT AS hamming
       |  FROM keyed a JOIN keyed b
       |    ON a.combo = b.combo AND a.key = b.key AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |WHERE hamming <= $SimhashMaxHamming""".stripMargin

  // ---- ch1_chunk ------------------------------------------------------

  val ChunkTokens = 40
  val ChunkOverlap = 8

  def ch1Chunk(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunk(Tables.documents(s, d).select("doc_id", "text"),
      "text", ChunkTokens, ChunkOverlap)

  val ch1Sql: String = {
    val step = ChunkTokens - ChunkOverlap
    s"""WITH $toksCte,
       |n AS (SELECT doc_id, tk,
       |        greatest(CAST(ceil((len(tk) - $ChunkOverlap)::DOUBLE / $step) AS INT), 1) AS nc
       |      FROM toks WHERE len(tk) > 0),
       |ix AS (SELECT doc_id, tk, unnest(range(0, nc)) AS chunk_idx FROM n),
       |ch AS (SELECT doc_id, chunk_idx,
       |         array_to_string(array_slice(tk, chunk_idx * $step + 1,
       |           chunk_idx * $step + $ChunkTokens), ' ') AS chunk_text
       |       FROM ix)
       |SELECT doc_id, chunk_idx, chunk_text,
       |  len(list_filter(string_split(chunk_text, ' '), t -> length(t) > 0)) AS n_chunk_tokens
       |FROM ch""".stripMargin
  }

  // ---- ch2_pack -------------------------------------------------------

  val PackCapacity = 256

  /** Sequence packing: documents concatenated in deterministic
    * mixed-hash order, token stream cut into 256-token bins; one row
    * per (doc, bin) segment. */
  def ch2Pack(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.pack(
      Tables.documents(s, d).select(col("doc_id"),
        size(Embed.tokens(col("text"))).as("n_tokens")),
      PackCapacity)

  val ch2Sql: String = {
    val c = PackCapacity
    s"""WITH $toksCte,
       |n AS (SELECT doc_id, len(tk) AS n_tokens FROM toks),
       |h AS (SELECT doc_id, n_tokens,
       |        ${mixedHashS("CAST(doc_id AS VARCHAR)")} AS hk FROM n),
       |r AS (SELECT doc_id, n_tokens,
       |        CAST(sum(n_tokens) OVER (ORDER BY hk, doc_id
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
       |      FROM h),
       |s AS (SELECT doc_id, n_tokens, e, e - n_tokens AS st
       |      FROM r WHERE n_tokens > 0),
       |x AS (SELECT doc_id, e, st,
       |        unnest(range(st // $c, (e - 1) // $c + 1)) AS bin FROM s)
       |SELECT doc_id, bin,
       |  least(e, (bin + 1) * $c) - greatest(st, bin * $c) AS seg_tokens,
       |  greatest(st, bin * $c) - bin * $c AS offset_in_bin
       |FROM x""".stripMargin
  }

  // ---- t7_redact ------------------------------------------------------

  def t7Redact(s: SparkSession, d: String): DataFrame =
    TextAnalysis.redact(Tables.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "redacted", "n_emails", "n_long_nums")

  val t7Sql: String =
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
       |    '${TextAnalysis.LongDigitPattern}', '<NUM>', 'g') AS redacted,
       |  len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS n_emails,
       |  len(regexp_extract_all(text, '${TextAnalysis.LongDigitPattern}')) AS n_long_nums
       |FROM documents""".stripMargin

  // ---- q0_querygen ----------------------------------------------------

  def q0QueryGen(s: SparkSession, d: String): DataFrame =
    TextAnalysis.queryGen(Tables.documents(s, d).select("doc_id", "text"), "text")

  val q0Sql: String =
    s"""WITH $toksCte,
       |freq AS (
       |  SELECT doc_id, tok, count(*) AS freq FROM (
       |    SELECT doc_id, unnest(tk) AS tok FROM toks WHERE doc_id % 10 = 0)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY freq DESC, tok ASC) AS rnk FROM freq)
       |SELECT doc_id, string_agg(tok, ' ' ORDER BY rnk) AS query
       |FROM ranked WHERE rnk <= 3 GROUP BY doc_id""".stripMargin

  // ---- s1_stratified_sample -------------------------------------------

  val SampleFrac = 0.25

  def s1Stratified(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.stratified(
      Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
      "lang", "doc_id", SampleFrac)

  /** mixed hash of the doc_id string — see Sampling.mixedHash. */
  private def mixedHashS(e: String): String =
    s"(${polyhashS(e)} * ${graft.operators.Sampling.mixedHashSqlConst}) % ${Embed.HashMod}"

  val s1Sql: String =
    s"""WITH h AS (SELECT doc_id, lang, n_chars,
       |             ${mixedHashS("CAST(doc_id AS VARCHAR)")} AS hk FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
       |             count(*) OVER (PARTITION BY lang) AS n FROM h)
       |SELECT doc_id, lang, n_chars FROM r WHERE rn <= ceil(n * $SampleFrac)""".stripMargin

  // ---- s2_det_shuffle -------------------------------------------------

  def s2DetShuffle(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.deterministicShuffle(
      Tables.documents(s, d).select("doc_id"), "doc_id")

  val s2Sql: String =
    s"""WITH h AS (SELECT doc_id, ${mixedHashS("CAST(doc_id AS VARCHAR)")} AS hk FROM documents)
       |SELECT doc_id, row_number() OVER (ORDER BY hk, doc_id) AS shuffle_pos FROM h""".stripMargin

  // ---- fs1_chi2_keywords ----------------------------------------------

  val Chi2TopK = 3

  /** χ²-association keyword selection per source: for each (source,
    * token), the 2×2 occurrence contingency (token-in-source,
    * token-elsewhere, other-in-source, other-elsewhere) scores
    * χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — the classic
    * feature-selection statistic for "which tokens characterize this
    * slice". Every cell is an exact integer; the χ² expression is one
    * fixed-order double evaluation per row (no aggregation of floats),
    * ranked on the 4-dp-rounded score (t9's policy) via bounded-heap
    * TopK. */
  def fs1Chi2Keywords(s: SparkSession, d: String): DataFrame = {
    val tok = graft.Dist.spread(Tables.documents(s, d).select("source", "text"))
      .select(col("source"), explode(Embed.tokens(col("text"))).as("token"))
      .localCheckpoint() // three aggregations read it
    val st = tok.groupBy("source", "token").agg(count(lit(1)).as("a_cnt"))
    val t = tok.groupBy("token").agg(count(lit(1)).as("t_cnt"))
    val sTot = tok.groupBy("source").agg(count(lit(1)).as("s_cnt"))
    val n = tok.agg(count(lit(1)).as("n_tok"))
    val scored = st.join(broadcast(t), "token").join(broadcast(sTot), "source")
      .crossJoin(broadcast(n))
      .withColumn("chi2", round(expr(
        """CAST(n_tok AS DOUBLE)
          |  * CAST(a_cnt * (n_tok - s_cnt - (t_cnt - a_cnt)) - (t_cnt - a_cnt) * (s_cnt - a_cnt) AS DOUBLE)
          |  * CAST(a_cnt * (n_tok - s_cnt - (t_cnt - a_cnt)) - (t_cnt - a_cnt) * (s_cnt - a_cnt) AS DOUBLE)
          |  / (CAST(t_cnt AS DOUBLE) * CAST(n_tok - t_cnt AS DOUBLE)
          |     * CAST(s_cnt AS DOUBLE) * CAST(n_tok - s_cnt AS DOUBLE))""".stripMargin), 4))
      .select("source", "token", "a_cnt", "chi2")
    graft.plans.TopK.perKey(scored, Seq("source"),
      Seq(col("chi2").desc, col("token").asc), Chi2TopK)
  }

  val fs1Sql: String =
    s"""WITH $toksCte,
       |tok AS (SELECT source, unnest(tk) AS token FROM (
       |          SELECT d.source, t.tk FROM toks t JOIN documents d USING (doc_id))),
       |st AS (SELECT source, token, count(*) AS a_cnt FROM tok GROUP BY 1, 2),
       |tt AS (SELECT token, CAST(count(*) AS BIGINT) AS t_cnt FROM tok GROUP BY 1),
       |stot AS (SELECT source, CAST(count(*) AS BIGINT) AS s_cnt FROM tok GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok),
       |scored AS (
       |  SELECT source, token, a_cnt,
       |    round(CAST(n_tok AS DOUBLE)
       |      * CAST(a_cnt * (n_tok - s_cnt - (t_cnt - a_cnt)) - (t_cnt - a_cnt) * (s_cnt - a_cnt) AS DOUBLE)
       |      * CAST(a_cnt * (n_tok - s_cnt - (t_cnt - a_cnt)) - (t_cnt - a_cnt) * (s_cnt - a_cnt) AS DOUBLE)
       |      / (CAST(t_cnt AS DOUBLE) * CAST(n_tok - t_cnt AS DOUBLE)
       |         * CAST(s_cnt AS DOUBLE) * CAST(n_tok - s_cnt AS DOUBLE)), 4) AS chi2
       |  FROM st JOIN tt USING (token) JOIN stot USING (source) CROSS JOIN nn)
       |SELECT source, token, a_cnt, chi2, rnk FROM (
       |  SELECT source, token, a_cnt, chi2,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY chi2 DESC, token ASC) AS rnk
       |  FROM scored) WHERE rnk <= $Chi2TopK""".stripMargin

  // ---- tn1_normalize --------------------------------------------------

  /** Canonical-form text normalization (see TextAnalysis.normalize). */
  def tn1Normalize(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.normalize(
      Tables.documents(s, d).select("doc_id", "text"), "text")

  val tn1Sql: String =
    s"""WITH n AS (
       |  SELECT doc_id, text,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |                        ' +', ' ', 'g')) AS norm
       |  FROM documents)
       |SELECT doc_id, CAST(length(norm) AS INT) AS n_chars_norm,
       |  CASE WHEN norm <> text THEN 1 ELSE 0 END AS changed,
       |  ${polyhashS("norm")} AS norm_hash
       |FROM n""".stripMargin

  // ---- d15_canonical_dedup --------------------------------------------

  /** Case/punctuation-insensitive exact dedup: tn1's canonical-form
    * polyhash as the group key, so "Hello World." and "hello world"
    * collapse where byte-exact dedup (d1) cannot. Planted variants
    * (doc_id < 30, uppercased + trailing period) are re-keyed above
    * max(doc_id) — cdc1's scale-safe re-keying; a fixed +2e6 offset
    * would collide with real ids once the corpus passes 2M docs —
    * and must every one fold onto its base doc. Same narrow-key
    * shuffle shape as d1: groups ship (len, hash), never the text. */
  def d15CanonicalDedup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select("doc_id", "text")
    val maxId = base.agg(max("doc_id")).head.getLong(0)
    val variants = base.filter(col("doc_id") < 30)
      .select((col("doc_id") + lit(maxId) + 1L).as("doc_id"),
        concat(upper(col("text")), lit(".")).as("text"))
    graft.operators.TextAnalysis.normalize(base.unionByName(variants), "text")
      .groupBy("n_chars_norm", "norm_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
  }

  val d15Sql: String =
    s"""WITH mk AS (SELECT max(doc_id) + 1 AS mk FROM documents),
       |dup AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + mk, upper(text) || '.' FROM documents, mk WHERE doc_id < 30),
       |n AS (SELECT doc_id,
       |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |                            ' +', ' ', 'g')) AS norm
       |      FROM dup)
       |SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       |FROM n GROUP BY length(norm), ${polyhashS("norm")}""".stripMargin

  // ---- b3_phrase_count ------------------------------------------------

  val Phrase = Seq("key", "agg")

  /** Exact-phrase occurrence counts per doc (boundary-exact token
    * matching, map-side fold — see TextAnalysis.phraseCount). */
  def b3PhraseCount(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.phraseCount(
      Tables.documents(s, d).select("doc_id", "text"), "text", Phrase)

  val b3Sql: String = {
    val n = Phrase.length
    val cond = Phrase.zipWithIndex
      .map { case (t, j) => s"tk[i + ${j + 1}] = '$t'" }.mkString(" AND ")
    s"""WITH $toksCte,
       |pos AS (SELECT doc_id, tk,
       |          unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS i
       |        FROM toks)
       |SELECT doc_id, count(*) AS n_occ FROM pos
       |WHERE $cond GROUP BY 1""".stripMargin
  }

  // ---- ka1_filter_kappa -----------------------------------------------

  /** Cohen's κ between two binary document filters (t2 quality ≥ 2/3
    * heuristics vs ppl1 not-tail): agreement beyond chance — the
    * pipeline question "is my second filter adding signal or just
    * echoing the first". κ = (n·agree − a₁b₁ − a₀b₀)/(n² − a₁b₁ − a₀b₀)
    * — every term an exact integer, ONE double division (0 when the
    * denominator degenerates, both engines alike). */
  /** ONE corpus scan + tokenize for the two-signal agreement rows
    * (sp1/ka1): the t2 quality columns and the token array come out of
    * the same projection and are materialized once; the t2 arm reads
    * its per-doc columns and the ppl1 arm tokeniz— derives its tf from
    * the stored `tk`, so the second full documents scan + tokenize pass
    * disappears (guide §1.2 duplicate-subtree materialization, §6 —
    * at 100 TB the old shape was a genuine 2× corpus-I/O factor).
    * Text itself is dropped before the checkpoint: stored bytes are the
    * token arrays the ppl arm needs anyway, not a second copy of the
    * corpus. Per-query state only — nothing survives the query. */
  private def qualityTokenFrame(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityWithTokens(
      Tables.documents(s, d).select("doc_id", "text"), "text")
      .drop("text")
      .localCheckpoint()

  def ka1FilterKappa(s: SparkSession, d: String): DataFrame = {
    val base = qualityTokenFrame(s, d)
    val a = base.select(col("doc_id"),
      (col("quality_score") >= 0.6667).cast("long").as("fa"))
    val b = TextAnalysis.unigramNllFromTokens(base.select("doc_id", "tk"))
      .select(col("doc_id"),
        (col("ppl_band") =!= "tail").cast("long").as("fb"))
    a.join(b, "doc_id")
      .agg(count(lit(1)).as("n"), sum("fa").as("a1"), sum("fb").as("b1"),
        sum(when(col("fa") === col("fb"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("n"), col("a1"), col("b1"), col("n_agree"),
        round(when(
          col("n") * col("n") - col("a1") * col("b1")
            - (col("n") - col("a1")) * (col("n") - col("b1")) =!= 0,
          (col("n") * col("n_agree") - col("a1") * col("b1")
            - (col("n") - col("a1")) * (col("n") - col("b1"))).cast("double")
            / (col("n") * col("n") - col("a1") * col("b1")
              - (col("n") - col("a1")) * (col("n") - col("b1"))).cast("double"))
          .otherwise(0.0), 6).as("kappa"))
  }

  lazy val ka1Sql: String =
    s"""WITH a AS (SELECT doc_id,
       |             CASE WHEN quality_score >= 0.6667 THEN 1 ELSE 0 END AS fa
       |           FROM ($t2Sql)),
       |b AS (SELECT doc_id,
       |        CASE WHEN ppl_band <> 'tail' THEN 1 ELSE 0 END AS fb
       |      FROM ($ppl1Sql)),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(fa) AS BIGINT) AS a1,
       |             CAST(sum(fb) AS BIGINT) AS b1,
       |             CAST(sum(CASE WHEN fa = fb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |      FROM a JOIN b USING (doc_id))
       |SELECT n, a1, b1, n_agree,
       |  round(CASE WHEN n * n - a1 * b1 - (n - a1) * (n - b1) <> 0
       |    THEN CAST(n * n_agree - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE)
       |         / CAST(n * n - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE)
       |    ELSE 0.0 END, 6) AS kappa
       |FROM g""".stripMargin

  // ---- sp1_rank_corr --------------------------------------------------

  /** Spearman rank correlation between two document quality signals
    * (t2 mean token length vs ppl1 unigram NLL) — how much two
    * independent filters agree before you stack them. Ranks come from
    * the distributed global-rank shape (Dist.globalRank — never a
    * one-task window) on the ROUNDED signal values with doc_id
    * tie-break, so both engines rank identically; ρ = 1 − 6Σd²/(n(n²−1))
    * has an exact integer numerator and denominator, one double
    * division total. */
  def sp1RankCorr(s: SparkSession, d: String): DataFrame = {
    val base = qualityTokenFrame(s, d)
    val a = base.select(col("doc_id"), col("mean_token_len").as("va"))
    val b = TextAnalysis.unigramNllFromTokens(base.select("doc_id", "tk"))
      .select(col("doc_id"), col("avg_nll").as("vb"))
    val ra = graft.Dist.globalRank(a, Seq(col("va").asc, col("doc_id").asc), "rank_a")
      .select("doc_id", "rank_a")
    val rb = graft.Dist.globalRank(b, Seq(col("vb").asc, col("doc_id").asc), "rank_b")
      .select("doc_id", "rank_b")
    ra.join(rb, "doc_id")
      .select(((col("rank_a") - col("rank_b"))
        * (col("rank_a") - col("rank_b"))).as("dd"))
      .agg(count(lit(1)).as("n"), sum("dd").as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        round(lit(1.0) - (lit(6L) * col("sum_d2")).cast("double")
          / (col("n") * (col("n") * col("n") - 1)).cast("double"), 6).as("rho"))
  }

  // lazy: t2Sql/ppl1Sql are declared later in the file — an eager val
  // here would interpolate null at object-init time
  lazy val sp1Sql: String =
    s"""WITH a AS (SELECT doc_id, mean_token_len FROM ($t2Sql)),
       |b AS (SELECT doc_id, avg_nll FROM ($ppl1Sql)),
       |ra AS (SELECT doc_id, row_number() OVER (ORDER BY mean_token_len, doc_id) AS rank_a FROM a),
       |rb AS (SELECT doc_id, row_number() OVER (ORDER BY avg_nll, doc_id) AS rank_b FROM b),
       |j AS (SELECT (rank_a - rank_b) * (rank_a - rank_b) AS dd
       |      FROM ra JOIN rb USING (doc_id))
       |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dd) AS BIGINT) AS sum_d2,
       |  round(1.0 - CAST(6 * sum(dd) AS DOUBLE)
       |        / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE), 6) AS rho
       |FROM j""".stripMargin

  // ---- wc1_cooccurrence -----------------------------------------------

  val CoocWindow = 2
  val CoocTopN = 100

  /** Top co-occurring token pairs (±2 window) with exact-integer lift
    * — the collocation/PMI feed of an LM data pipeline. */
  def wc1Cooccurrence(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.cooccurrence(
      Tables.documents(s, d).select("text"), "text", CoocWindow, CoocTopN)

  val wc1Sql: String =
    s"""WITH $toksCte,
       |g1 AS (SELECT tk, unnest(range(0, greatest(len(tk) - 1, 0))) AS i FROM toks),
       |g2 AS (SELECT tk, unnest(range(0, greatest(len(tk) - 2, 0))) AS i FROM toks),
       |pairs AS (
       |  SELECT least(tk[i+1], tk[i+2]) AS w1, greatest(tk[i+1], tk[i+2]) AS w2 FROM g1
       |  UNION ALL
       |  SELECT least(tk[i+1], tk[i+3]), greatest(tk[i+1], tk[i+3]) FROM g2),
       |pc AS (SELECT w1, w2, count(*) AS pair_count FROM pairs GROUP BY 1, 2),
       |ug AS (SELECT tok, count(*) AS c FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
       |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ug)
       |SELECT w1, w2, pair_count, lift, rank FROM (
       |  SELECT pc.w1, pc.w2, pc.pair_count,
       |    round(CAST(pc.pair_count * nt.n AS DOUBLE)
       |          / CAST(u1.c * u2.c AS DOUBLE), 6) AS lift,
       |    row_number() OVER (ORDER BY pc.pair_count DESC, pc.w1, pc.w2) AS rank
       |  FROM pc JOIN ug u1 ON pc.w1 = u1.tok
       |          JOIN ug u2 ON pc.w2 = u2.tok CROSS JOIN nt)
       |WHERE rank <= $CoocTopN""".stripMargin

  // ---- dc1_source_cap -------------------------------------------------

  val SourceCap = 15

  /** Domain-frequency capping: at most SourceCap docs survive per
    * source, drawn in mixed-hash order (uniform, engine-reproducible)
    * — the crawl-pipeline guard against one domain dominating the
    * training mixture. Bounded-heap TopKPerKey execution, so a hot
    * domain never funnels all its pages through one sort. */
  def dc1SourceCap(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.capPerGroup(
      Tables.documents(s, d).select("doc_id", "source"),
      "source", "doc_id", SourceCap)

  val dc1Sql: String =
    s"""WITH h AS (SELECT doc_id, source,
       |             ${mixedHashS("CAST(doc_id AS VARCHAR)")} AS hk FROM documents)
       |SELECT doc_id, source, keep_rank FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS keep_rank
       |  FROM h)
       |WHERE keep_rank <= $SourceCap""".stripMargin

  // ---- t5_vocab -------------------------------------------------------

  val VocabTopN = 100

  def t5Vocab(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.vocabulary(Tables.documents(s, d), "text", VocabTopN)

  val t5Sql: String =
    s"""WITH $toksCte,
       |f AS (SELECT tok AS token, count(*) AS freq FROM (
       |        SELECT unnest(tk) AS tok FROM toks) GROUP BY 1)
       |SELECT token, freq, rank FROM (
       |  SELECT token, freq,
       |    row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
       |  FROM f) WHERE rank <= $VocabTopN""".stripMargin

  // ---- hh1_heavy_hitters ----------------------------------------------

  /** Heavy iff n·denom ≥ total occurrences (denom 200 → ≥ 0.5%). */
  val HeavyDenom = 200L

  /** Count-Min-prefiltered exact heavy hitters over corpus tokens —
    * the sketch kills the long tail map-side before the exact groupBy
    * (see operators.Sketch scaladoc); the output is exactly the true
    * heavy-hitter set, so the oracle is the plain HAVING aggregate. */
  def hh1HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = graft.Dist.spread(Tables.documents(s, d).select("text"))
      .select(explode(Embed.tokens(col("text"))).as("token"))
    graft.operators.Sketch.heavyHitters(toks, "token", HeavyDenom)
  }

  val hh1Sql: String =
    s"""WITH $toksCte,
       |tok AS (SELECT unnest(tk) AS token FROM toks),
       |tot AS (SELECT count(*) AS n FROM tok)
       |SELECT token, count(*) AS n_occurrences
       |FROM tok GROUP BY 1
       |HAVING count(*) * $HeavyDenom >= (SELECT n FROM tot)""".stripMargin

  // ---- s3_split -------------------------------------------------------

  def s3Split(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.split(
      Tables.documents(s, d).select("doc_id", "lang", "source"), "doc_id")

  val s3Sql: String =
    s"""WITH h AS (SELECT doc_id, lang, source,
       |             ${mixedHashS("CAST(doc_id AS VARCHAR)")} % 100 AS b FROM documents)
       |SELECT doc_id, lang, source,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |FROM h""".stripMargin

  // ---- ws1_weighted_sample --------------------------------------------

  /** ws1_weighted_sample — deterministic WEIGHTED (importance)
    * sampling: keep each doc with probability proportional to its
    * length, p = min(n_chars, 2000)/2000, decided by the portable
    * mixed hash of the doc id against an integer threshold (keep iff
    * h % 10000 < 5·min(n_chars, 2000)) — reproducible on any engine,
    * any run, any partitioning; no RNG state. Emits the Horvitz-
    * Thompson inverse weight 1/p so downstream aggregates stay
    * unbiased (the upsample-high-quality / downsample-boilerplate
    * primitive; s1 is the uniform special case). Map-side only: no
    * shuffle, no join, filter pushes to the scan. */
  def ws1WeightedSample(s: SparkSession, d: String): DataFrame = {
    val thr = least(col("n_chars"), lit(2000L)) * 5
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .filter((graft.operators.Sampling.mixedHash(col("doc_id")) % 10000) < thr)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(lit(10000.0) / thr.cast("double"), 6).as("inv_weight"))
  }

  val ws1Sql: String =
    s"""SELECT doc_id, lang, n_chars,
       |  round(10000.0 / CAST(5 * least(n_chars, 2000) AS DOUBLE), 6) AS inv_weight
       |FROM documents
       |WHERE (${mixedHashS("CAST(doc_id AS VARCHAR)")}) % 10000
       |      < 5 * least(n_chars, 2000)""".stripMargin

  // ---- s4_mixture -----------------------------------------------------

  /** Per-source mixture weights: even sources kept at 0.8, odd at 0.25,
    * src19 deliberately unweighted (dropped) to exercise the
    * weight-0 path. Exact multiples of 1/1000 so the ×1000 threshold is
    * integral in both engines. */
  val MixtureWeights: Map[String, Double] =
    (0 until 19).map(i => s"src$i" -> (if (i % 2 == 0) 0.8 else 0.25)).toMap

  def s4Mixture(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.mixtureSample(
      Tables.documents(s, d).select("doc_id", "source", "n_chars"),
      "source", "doc_id", MixtureWeights)

  val s4Sql: String = {
    val rows = MixtureWeights.toSeq.sorted
      .map { case (src, w) => s"('$src', ${math.round(w * 1000)})" }
      .mkString(", ")
    s"""WITH w(source, thresh) AS (VALUES $rows)
       |SELECT d.source, d.doc_id, d.n_chars
       |FROM documents d JOIN w USING (source)
       |WHERE ${mixedHashS("CAST(d.doc_id AS VARCHAR)")} % 1000 < w.thresh""".stripMargin
  }

  // ---- t8_repetition --------------------------------------------------

  /** Driver shape casts the boolean flag to INT (the r1 precedent:
    * oracle booleans ride as 0/1). */
  def t8Repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, d).select("doc_id", "text"), "text")
      .withColumn("repetitive", col("repetitive").cast("int"))

  val t8Sql: String =
    s"""WITH $toksCte,
       |ts AS (SELECT doc_id, len(tk) AS n_tokens,
       |         len(list_distinct(tk)) AS n_distinct FROM toks WHERE len(tk) > 0),
       |bg AS (SELECT doc_id, ${polyhashS("s")} AS h FROM (
       |         SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |           __bi -> tk[__bi] || ' ' || tk[__bi+1])) AS s
       |         FROM toks WHERE len(tk) >= 2)),
       |bc AS (SELECT doc_id, h, count(*) AS c FROM bg GROUP BY 1, 2),
       |bs AS (SELECT doc_id, max(c) AS top_bigram, sum(c) AS n_bigrams FROM bc GROUP BY 1),
       |r AS (SELECT ts.doc_id, CAST(ts.n_tokens AS BIGINT) AS n_tokens,
       |        round(1.0 - ts.n_distinct::DOUBLE / ts.n_tokens, 4) AS dup_token_ratio,
       |        round(coalesce(bs.top_bigram::DOUBLE / bs.n_bigrams, 0.0), 4) AS top_bigram_ratio
       |      FROM ts LEFT JOIN bs USING (doc_id))
       |SELECT doc_id, n_tokens, dup_token_ratio, top_bigram_ratio,
       |  CASE WHEN n_tokens >= ${TextAnalysis.MinRepTokens}
       |        AND (dup_token_ratio > ${TextAnalysis.DupTokenMax}
       |          OR top_bigram_ratio > ${TextAnalysis.TopBigramMax})
       |       THEN 1 ELSE 0 END AS repetitive
       |FROM r""".stripMargin

  // ---- b2_bm25 --------------------------------------------------------

  val Bm25K = 5

  /** BM25 retrieval driven by the q0-generated queries (the reference
    * flow: querygen → retrieval), query_id = the sampled doc_id. */
  /** pl1_posting_stats — the inverted-index health report for the
    * Zipf-remapped corpus the b2/qe1/v12/rk1 family searches: vocab
    * size, total postings, the largest posting list and its corpus
    * share, mean df. The numbers that certify per-query work is
    * posting-list-bounded (the round-7 fixture had 31 terms and every
    * posting list was the corpus; this prints the distribution that
    * makes the bench numbers meaningful). */
  def pl1PostingStats(s: SparkSession, d: String): DataFrame = {
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(s, d).select("doc_id", "text"), "text", d)
    val df = graft.Dist.spread(docs)
      .select(col("doc_id"),
        explode(array_distinct(Embed.tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    df.agg(count(lit(1)).as("n_terms"),
      sum("df").as("n_postings"),
      max("df").as("max_df"),
      round(avg(col("df")), 4).as("avg_df"))
      .select(col("n_terms"), col("n_postings"), col("max_df"),
        col("avg_df"),
        round(col("max_df").cast("double")
          / col("n_postings").cast("double"), 6).as("top_share"))
  }

  lazy val pl1Sql: String =
    s"""WITH $zToksCte,
       |tfq AS (SELECT doc_id, unnest(list_distinct(tk)) AS term FROM toks),
       |dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(df) AS BIGINT) AS n_postings,
       |  CAST(max(df) AS BIGINT) AS max_df,
       |  round(avg(df), 4) AS avg_df,
       |  round(CAST(max(df) AS DOUBLE) / CAST(sum(df) AS DOUBLE), 6) AS top_share
       |FROM dfq""".stripMargin

  def b2Bm25(s: SparkSession, d: String): DataFrame = {
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(s, d).select("doc_id", "text"), "text", d)
    val tf = graft.operators.Bm25.tfTableCached(docs, "text", d)
    val ptf = graft.operators.Bm25.prunedTfCached(tf, d)
    val queries = TextAnalysis.zipfQueriesCached(tf, d)
      .select(col("doc_id").as("query_id"), col("query"))
    graft.operators.Bm25.searchPruned(tf, ptf, queries, "query", Bm25K)
  }

  /** b2's full CTE chain (ending in `sc`) + the ranked final select as
    * separate fragments: qe1 composes the same chain and MUST NOT
    * re-declare it — with the MATERIALIZED hints DuckDB binds CTE
    * names query-wide, so a nested duplicate `toks` is a binder error
    * (it was only ever accidental duplication anyway). */
  private lazy val b2Ctes: String = b2CtesW("")

  /** b2's CTE chain with an optional query-set predicate (the twin's
    * % HybridSubMod subset): corpus-side CTEs (tf/stats/ptf/tdf) are
    * untouched — only qt shrinks, exactly like hybridLexCtesW. */
  private def b2CtesW(qryWhere: String): String = {
    val K1 = graft.operators.Bm25.K1
    val B = graft.operators.Bm25.B
    val cap = graft.operators.Bm25.PostingCap
    s"""$zToksCte,
       |$zQryCtes,
       |tk2 AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
       |tf AS MATERIALIZED (SELECT doc_id, t AS term, count(*) AS tf, any_value(dl) AS dl FROM (
       |         SELECT doc_id, len(tk) AS dl, unnest(tk) AS t FROM tk2)
       |       GROUP BY 1, 2),
       |stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM tk2),
       |ptf AS MATERIALIZED (SELECT doc_id, term, tf, dl FROM (
       |         SELECT t.doc_id, t.term, t.tf, t.dl,
       |           row_number() OVER (PARTITION BY t.term ORDER BY
       |             round((t.tf * ${K1 + 1.0}) / (t.tf + ($K1 * (${1.0 - B}
       |               + (($B * t.dl) / s.avgdl)))), 4) DESC, t.doc_id ASC) AS prn
       |         FROM tf t CROSS JOIN stats s) WHERE prn <= $cap),
       |qt AS MATERIALIZED (SELECT query_id, unnest(list_distinct(
       |         list_filter(string_split(query, ' '), t -> length(t) > 0))) AS term
       |       FROM qry$qryWhere),
       |tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |qdf AS (SELECT query_id, term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |        FROM qt JOIN tdf USING (term) CROSS JOIN stats),
       |sc AS (SELECT q.query_id, t.doc_id,
       |         round(sum((q.idf * (t.tf * ${K1 + 1.0}))
       |           / (t.tf + ($K1 * (${1.0 - B} + (($B * t.dl) / s2.avgdl))))), 4) AS score
       |       FROM ptf t JOIN qdf q USING (term) CROSS JOIN stats s2
       |       GROUP BY 1, 2)""".stripMargin
  }

  private val b2RankedBody: String =
    s"""SELECT query_id, doc_id, score, rnk FROM (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM sc) WHERE rnk <= $Bm25K""".stripMargin

  lazy val b2Sql: String = s"WITH $b2Ctes\n$b2RankedBody"

  /** b2_bm25_s97 — b2 on the deterministic query subset (query_id %
    * HybridSubMod = 0, the v12_s97 rule): the scale-rung attestation
    * twin for the FULL-query b2 row at rungs where the oracle's
    * (query, doc) score aggregate exceeds the node (sf100: ~150k
    * queries x terms x cap keys spilled past the free disk at a
    * 100 GB memory limit). Corpus-side structures (tf, ptf, df) stay
    * full-size — only the query set shrinks. */
  def b2Bm25S(s: SparkSession, d: String): DataFrame = {
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(s, d).select("doc_id", "text"), "text", d)
    val tf = graft.operators.Bm25.tfTableCached(docs, "text", d)
    val ptf = graft.operators.Bm25.prunedTfCached(tf, d)
    val queries = TextAnalysis.zipfQueriesCached(tf, d)
      .select(col("doc_id").as("query_id"), col("query"))
      .filter(col("query_id") % HybridSubMod === 0)
    graft.operators.Bm25.searchPruned(tf, ptf, queries, "query", Bm25K)
  }

  lazy val b2SSql: String =
    s"WITH ${b2CtesW(s" WHERE query_id % $HybridSubMod = 0")}\n$b2RankedBody"

  // ---- prc1_filter_pr_curve -------------------------------------------

  val PrThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8)

  /** prc1_filter_pr_curve — precision/recall THRESHOLD SWEEP of the t2
    * quality filter against ppl1's not-tail band as truth (v18's
    * operating-point measurement, for the quality-filter knob — ka1
    * reports agreement at ONE threshold, this is the whole curve a
    * pipeline reads before picking it): four arms from one
    * parameterized template, each arm's tp/fp/fn exact integer counts
    * over the SAME joined score table (scored once, swept four
    * times), precision/recall one division each. */
  def prc1FilterPrCurve(s: SparkSession, d: String): DataFrame = {
    val scored = t2Quality(s, d).select(col("doc_id"), col("quality_score"))
      .join(ppl1UnigramNll(s, d).select(col("doc_id"),
        (col("ppl_band") =!= "tail").cast("long").as("truth")), "doc_id")
      .localCheckpoint() // one scoring pass feeds all four arms
    PrThresholds.map { th =>
      scored.agg(
          lit(th).as("threshold"),
          sum(when(col("quality_score") >= th, col("truth"))
            .otherwise(0L)).as("tp"),
          sum(when(col("quality_score") >= th, lit(1L) - col("truth"))
            .otherwise(0L)).as("fp"),
          sum(when(col("quality_score") < th, col("truth"))
            .otherwise(0L)).as("fn"))
        .select(col("threshold"), col("tp"), col("fp"), col("fn"),
          round(when(col("tp") + col("fp") === 0, 0.0)
            .otherwise(col("tp").cast("double")
              / (col("tp") + col("fp")).cast("double")), 6).as("precision"),
          round(when(col("tp") + col("fn") === 0, 0.0)
            .otherwise(col("tp").cast("double")
              / (col("tp") + col("fn")).cast("double")), 6).as("recall"))
    }.reduce(_ unionAll _)
  }

  lazy val prc1Sql: String = {
    val arms = PrThresholds.map { th =>
      s"""SELECT $th AS threshold,
         |  CAST(sum(CASE WHEN quality_score >= $th THEN truth ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN quality_score >= $th THEN 1 - truth ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN quality_score < $th THEN truth ELSE 0 END) AS BIGINT) AS fn,
         |  round(CASE WHEN sum(CASE WHEN quality_score >= $th THEN 1 ELSE 0 END) = 0 THEN 0.0
         |    ELSE CAST(sum(CASE WHEN quality_score >= $th THEN truth ELSE 0 END) AS DOUBLE)
         |      / CAST(sum(CASE WHEN quality_score >= $th THEN 1 ELSE 0 END) AS DOUBLE) END, 6)
         |    AS precision,
         |  round(CASE WHEN sum(truth) = 0 THEN 0.0
         |    ELSE CAST(sum(CASE WHEN quality_score >= $th THEN truth ELSE 0 END) AS DOUBLE)
         |      / CAST(sum(truth) AS DOUBLE) END, 6) AS recall
         |FROM scored""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t2s AS ($t2Sql),
       |pps AS ($ppl1Sql),
       |scored AS (SELECT t2s.doc_id, quality_score,
       |             CASE WHEN ppl_band <> 'tail' THEN 1 ELSE 0 END AS truth
       |           FROM t2s JOIN pps ON t2s.doc_id = pps.doc_id)
       |$arms""".stripMargin
  }

  // ---- cl1_cell_keywords ----------------------------------------------

  val CellK = 8       // corpus map cells
  val CellTerms = 3   // labels per cell

  /** cl1_cell_keywords — corpus CARTOGRAPHY: cluster the documents in
    * v0 embedding space (8 cells, nearest deterministic seed centroid
    * by cosine) and LABEL each cell with its most distinctive terms —
    * the human-readable map of what lives where, the report every
    * curation UI shows first. Distinctiveness is the INTEGER
    * share-difference score tf_ct·T − tf_t·T_c (positive iff the term
    * is overrepresented in the cell vs the corpus) in DECIMAL(38,0) —
    * a PMI-flavored ranking with no logarithm anywhere, so ranking is
    * exact. Centroids are the CellK smallest-mixed-hash docs (the Pq
    * codebook seeding rule); assignment is argmax cosine over the
    * 6-dp-rounded v0 vectors (identical arrays both engines), ties to
    * the smaller cell id. Costs: one embed pass, a doc×8 broadcast
    * score, one (cell, term) aggregation. */
  def cl1CellKeywords(s: SparkSession, d: String): DataFrame = {
    val (docs, asg) = cl1DocsAsg(s, d)
    val tf = cl1TfFrame(docs, asg)
      .localCheckpoint() // feeds cell totals, term totals, and scoring
    val ct = tf.groupBy("cell_id").agg(sum("tf").as("tc"))
    val gt = tf.groupBy("term").agg(sum("tf").as("tg"))
    val tot = tf.agg(sum("tf").as("tt"))
    val wS = org.apache.spark.sql.expressions.Window.partitionBy("cell_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(ct), "cell_id").join(gt, "term")
      .crossJoin(broadcast(tot))
      .withColumn("score", col("tf").cast("decimal(38,0)") * col("tt")
        - col("tg").cast("decimal(38,0)") * col("tc"))
      .withColumn("rnk", row_number().over(wS)).filter(col("rnk") <= CellTerms)
      .select(col("cell_id"), col("rnk"), col("term"),
        round(col("score").cast("double"), 6).as("score"))
  }

  /** cl1's (docs, per-doc cell assignment) inputs — factored out so
    * `graft.tools.Explain` can rebuild the tf stage below. */
  private[graft] def cl1DocsAsg(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val emb = Embed.embedDocs(docs, "text", HybridDim)
      .localCheckpoint() // consumed twice: centroid pick + assignment
    val cents = graft.plans.TopK.perKey(
      emb.withColumn("__h",
        graft.operators.Sampling.mixedHash(col("doc_id"))),
      Seq(), Seq(col("__h").asc, col("doc_id").asc), CellK)
      .select(col("doc_id").as("cell_id"), col("embedding").as("cv"))
    // argmax as max_by over the (cos, −cell_id) total order: the
    // rank-1 window shuffled AND sorted the doc×CellK rows; max_by is
    // one map-side-combinable aggregation (tie → smaller cell id,
    // identical to the window's ORDER BY cos DESC, cell ASC)
    val asg = emb.crossJoin(broadcast(cents))
      .withColumn("__cos",
        graft.functions.Vec.cosine(col("embedding"), col("cv")))
      .groupBy("doc_id")
      .agg(max_by(col("cell_id"),
        struct(col("__cos"), (-col("cell_id")).as("__nc"))).as("cell_id"))
      .select("doc_id", "cell_id")
    (docs, asg)
  }

  /** cl1's (cell_id, term, tf) stage — factored out so
    * `graft.tools.Explain stage:cl1_tf_stage` can dump the
    * checkpoint-interior plan. Token OCCURRENCES collapse to
    * per-document term counts, map-side-aggregated BEFORE the
    * assignment join, so the join probes and the downstream aggregation
    * see |distinct (doc,term)| rows instead of every occurrence; the
    * per-cell count becomes the identical sum of per-doc counts (sf1
    * median-of-5 pairs vs joining every occurrence: 7.27/8.62 →
    * 6.00/5.99 s; sf0.1: 6.00 → 4.53 s). */
  private[graft] def cl1TfFrame(docs: DataFrame, asg: DataFrame): DataFrame =
    graft.Dist.spread(docs)
      .select(col("doc_id"), explode(Embed.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("dtf"))
      .join(asg, "doc_id")
      .groupBy("cell_id", "term").agg(sum("dtf").as("tf"))

  lazy val cl1Sql: String = {
    val cos = "list_dot_product(e.vec, c.cv) / " +
      "(sqrt(list_dot_product(e.vec, e.vec)) * sqrt(list_dot_product(c.cv, c.cv)))"
    s"""WITH $toksCte,
       |${embedCteS("d", "toks", "doc_id", "demb")},
       |hk AS (SELECT doc_id, ${mixedHashS("CAST(doc_id AS VARCHAR)")} AS h
       |       FROM documents),
       |cents AS (SELECT e.doc_id AS cell_id, e.vec AS cv
       |          FROM demb e JOIN hk USING (doc_id)
       |          ORDER BY hk.h ASC, doc_id ASC LIMIT $CellK),
       |asg AS (SELECT doc_id, cell_id FROM (
       |    SELECT e.doc_id, c.cell_id,
       |      row_number() OVER (PARTITION BY e.doc_id
       |        ORDER BY $cos DESC, c.cell_id ASC) AS rn
       |    FROM demb e, cents c) WHERE rn = 1),
       |tfc AS (SELECT cell_id, t AS term, count(*) AS tf FROM (
       |          SELECT doc_id, unnest(tk) AS t FROM toks) x
       |        JOIN asg USING (doc_id) GROUP BY 1, 2),
       |ct AS (SELECT cell_id, CAST(sum(tf) AS BIGINT) AS tc FROM tfc GROUP BY 1),
       |gt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tg FROM tfc GROUP BY 1),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS tt FROM tfc),
       |sc AS (SELECT cell_id, term,
       |         CAST(tf AS DECIMAL(38,0)) * tt - CAST(tg AS DECIMAL(38,0)) * tc
       |           AS score
       |       FROM tfc JOIN ct USING (cell_id) JOIN gt USING (term), tot)
       |SELECT cell_id, rnk, term, round(CAST(score AS DOUBLE), 6) AS score
       |FROM (SELECT cell_id, term, score,
       |        row_number() OVER (PARTITION BY cell_id
       |          ORDER BY score DESC, term ASC) AS rnk
       |      FROM sc)
       |WHERE rnk <= $CellTerms""".stripMargin
  }

  // ---- red1_dedup_savings ---------------------------------------------

  /** red1_dedup_savings — the BUSINESS readout of the dedup pipeline
    * (what d1→d8→d9 actually buys): docs and characters before/after
    * near-dup removal, one row. Dropped docs are every component
    * member except its survivor (longest text, ties to min id —
    * GraphOps.survivors' exact rule, replicated as a window over the
    * component table so the whole report composes off ONE components
    * pass); savings share is one terminal division of exact integer
    * char sums. */
  def red1DedupSavings(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "n_chars")
    val comp = dedupComponentsCached(s, d).join(docs, "doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val dropped = comp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .agg(count(lit(1)).as("n_dropped"), sum("n_chars").as("chars_dropped"))
    val tot = docs.agg(count(lit(1)).as("n_docs"),
      sum("n_chars").as("chars_total"))
    tot.crossJoin(broadcast(dropped))
      .select(col("n_docs"), col("n_dropped"),
        (col("n_docs") - col("n_dropped")).as("n_kept"),
        col("chars_total"), col("chars_dropped"),
        round(col("chars_dropped").cast("double")
          / col("chars_total").cast("double"), 6).as("savings_share"))
  }

  lazy val red1Sql: String =
    s"""WITH cmp AS ($d8Sql),
       |m AS (SELECT c.doc_id, c.component, d.n_chars,
       |        row_number() OVER (PARTITION BY c.component
       |                           ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
       |      FROM cmp c JOIN documents d USING (doc_id)),
       |drp AS (SELECT count(*) AS n_dropped,
       |          CAST(sum(n_chars) AS BIGINT) AS chars_dropped
       |        FROM m WHERE rn > 1),
       |tot AS (SELECT count(*) AS n_docs,
       |          CAST(sum(n_chars) AS BIGINT) AS chars_total FROM documents)
       |SELECT n_docs, n_dropped, n_docs - n_dropped AS n_kept,
       |  chars_total, chars_dropped,
       |  round(CAST(chars_dropped AS DOUBLE) / CAST(chars_total AS DOUBLE), 6)
       |    AS savings_share
       |FROM tot, drp""".stripMargin

  // ---- xl1_cross_lang_dups --------------------------------------------

  /** xl1_cross_lang_dups — shared-TEMPLATE groups and their LANGUAGE
    * SPREAD: documents keyed by the polyhash of their canonical-form
    * (tn1's regex chain) 5-token PREFIX — the opening boilerplate a
    * template stamps on every instance — grouped across the whole
    * corpus; a group spanning several langs is the cross-locale
    * template contamination per-lang dedup can't see. Narrow-key
    * shuffle on the template hash; groups ship (hash, counts), never
    * text. */
  def xl1CrossLangDups(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val pfx = concat_ws(" ", slice(Embed.tokens(norm), 1, 5))
    Tables.documents(s, d).select(col("doc_id"), col("lang"),
        Embed.tokenHash(pfx).as("tpl_hash"))
      .groupBy("tpl_hash")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        min("doc_id").as("exemplar_id"))
      .filter(col("n_docs") > 1)
  }

  lazy val xl1Sql: String =
    s"""WITH n AS (SELECT doc_id, lang,
       |  array_to_string(list_filter(string_split(
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |                        ' +', ' ', 'g')), ' '),
       |    __xt -> length(__xt) > 0)[1:5], ' ') AS pfx
       |  FROM documents)
       |SELECT ${polyhashS("pfx")} AS tpl_hash, count(*) AS n_docs,
       |  count(DISTINCT lang) AS n_langs,
       |  CAST(min(doc_id) AS BIGINT) AS exemplar_id
       |FROM n GROUP BY 1 HAVING count(*) > 1""".stripMargin

  // ---- ent1_column_entropy --------------------------------------------

  /** ent1_column_entropy — Shannon entropy of the categorical columns
    * (event_type, lang, source), the one-number diversity profile a
    * pipeline watches for collapse (a crawler stuck on one domain, a
    * heuristic flattening lang distribution). nb1's determinism trick:
    * each category's ln(c/n) is quantized ONCE to floor(ln·1e6)
    * millinats, the expectation is then an exact integer sum
    * (DECIMAL(38,0) products — c·lnq overflows BIGINT at 100 TB),
    * one terminal division. Per column: one count aggregation over a
    * low-cardinality key. */
  def ent1ColumnEntropy(s: SparkSession, d: String): DataFrame = {
    def colEntropy(df: org.apache.spark.sql.DataFrame, c: String,
                   label: String): DataFrame = {
      val cnt = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").as("n"), count(lit(1)).as("nd"))
      cnt.crossJoin(broadcast(tot))
        .select(col("c"), col("n"), col("nd"),
          floor(log(col("c").cast("double") / col("n").cast("double")) * 1e6)
            .cast("long").as("lnq"))
        .agg(max("n").as("n"), max("nd").as("n_distinct"),
          sum(col("c").cast("decimal(38,0)") * col("lnq")).as("__s"))
        .select(lit(label).as("col_name"), col("n"), col("n_distinct"),
          round((-col("__s").cast("double"))
            / col("n").cast("double") / 1e6, 6).as("entropy_nats"))
    }
    colEntropy(Tables.events(s, d), "event_type", "event_type")
      .unionAll(colEntropy(Tables.documents(s, d), "lang", "lang"))
      .unionAll(colEntropy(Tables.documents(s, d), "source", "source"))
  }

  val ent1Sql: String = {
    def one(table: String, c: String, label: String): String =
      s"""SELECT '$label' AS col_name, n, n_distinct,
         |  round(-CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
         |    AS entropy_nats
         |FROM (
         |  SELECT max(n) AS n, max(nd) AS n_distinct,
         |    CAST(sum(CAST(c AS DECIMAL(38,0))
         |             * CAST(floor(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
         |                          * 1000000.0) AS BIGINT)) AS DECIMAL(38,0)) AS s
         |  FROM (SELECT c, CAST(sum(c) OVER () AS BIGINT) AS n,
         |          CAST(count(*) OVER () AS BIGINT) AS nd
         |        FROM (SELECT count(*) AS c FROM $table GROUP BY $c)))""".stripMargin
    s"""${one("events", "event_type", "event_type")}
       |UNION ALL ${one("documents", "lang", "lang")}
       |UNION ALL ${one("documents", "source", "source")}""".stripMargin
  }

  // ---- mi1_mutual_info ------------------------------------------------

  /** mi1_mutual_info — mutual information between lang and source
    * (does WHERE a doc came from predict WHAT language it is — the
    * feature-selection / leakage question): MI = Σ (c_xy/n)·
    * ln(n·c_xy/(c_x·c_y)). Margins DERIVE from the cell counts (one
    * aggregation over the (lang, source) key, no second corpus pass);
    * each cell's ln term is quantized once to millinats and the
    * expectation is an exact integer sum (ent1's arithmetic). Output
    * also carries both marginal entropies so the reader can normalize. */
  def mi1MutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("cxy"))
      .localCheckpoint() // margins + the MI sum both read it
    val mx = cells.groupBy("lang").agg(sum("cxy").as("cx"))
    val my = cells.groupBy("source").agg(sum("cxy").as("cy"))
    val tot = cells.agg(sum("cxy").as("n"), count(lit(1)).as("n_cells"))
    def entQ(cnt: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      floor(log(cnt.cast("double") / n.cast("double")) * 1e6).cast("long")
    val mi = cells.join(broadcast(mx), "lang").join(broadcast(my), "source")
      .crossJoin(broadcast(tot))
      .select(col("cxy"), col("n"), col("n_cells"),
        floor(log((col("n").cast("decimal(38,0)") * col("cxy")).cast("double")
          / (col("cx").cast("decimal(38,0)") * col("cy")).cast("double")) * 1e6)
          .cast("long").as("lnq"))
      .agg(max("n").as("n"), max("n_cells").as("n_cells"),
        sum(col("cxy").cast("decimal(38,0)") * col("lnq")).as("__s"))
    val hx = mx.crossJoin(broadcast(tot.select("n")))
      .select(col("cx"), entQ(col("cx"), col("n")).as("q"), col("n"))
      .agg((-sum(col("cx").cast("decimal(38,0)") * col("q")).cast("double")
        / max("n").cast("double") / 1e6).as("hx_raw"))
    val hy = my.crossJoin(broadcast(tot.select("n")))
      .select(col("cy"), entQ(col("cy"), col("n")).as("q"), col("n"))
      .agg((-sum(col("cy").cast("decimal(38,0)") * col("q")).cast("double")
        / max("n").cast("double") / 1e6).as("hy_raw"))
    mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("n"), col("n_cells"),
        round(col("__s").cast("double") / col("n").cast("double") / 1e6, 6)
          .as("mi_nats"),
        round(col("hx_raw"), 6).as("h_lang"),
        round(col("hy_raw"), 6).as("h_source"))
  }

  val mi1Sql: String =
    """WITH cells AS (SELECT lang, source, count(*) AS cxy
      |               FROM documents GROUP BY 1, 2),
      |mx AS (SELECT lang, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY 1),
      |my AS (SELECT source, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n,
      |               CAST(count(*) AS BIGINT) AS n_cells FROM cells),
      |mi AS (SELECT max(n) AS n, max(n_cells) AS n_cells,
      |         CAST(sum(CAST(cxy AS DECIMAL(38,0))
      |           * CAST(floor(ln(
      |               CAST(CAST(n AS DECIMAL(38,0)) * cxy AS DOUBLE)
      |               / CAST(CAST(cx AS DECIMAL(38,0)) * cy AS DOUBLE)) * 1000000.0)
      |             AS BIGINT)) AS DECIMAL(38,0)) AS s
      |       FROM cells JOIN mx USING (lang) JOIN my USING (source), tot),
      |hx AS (SELECT -CAST(sum(CAST(cx AS DECIMAL(38,0))
      |                * CAST(floor(ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
      |                             * 1000000.0) AS BIGINT)) AS DOUBLE)
      |              / CAST(max(n) AS DOUBLE) / 1000000.0 AS hx_raw
      |       FROM mx, tot),
      |hy AS (SELECT -CAST(sum(CAST(cy AS DECIMAL(38,0))
      |                * CAST(floor(ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
      |                             * 1000000.0) AS BIGINT)) AS DOUBLE)
      |              / CAST(max(n) AS DOUBLE) / 1000000.0 AS hy_raw
      |       FROM my, tot)
      |SELECT n, n_cells,
      |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mi_nats,
      |  round(hx_raw, 6) AS h_lang,
      |  round(hy_raw, 6) AS h_source
      |FROM mi, hx, hy""".stripMargin

  // ---- fh1_hash_collisions --------------------------------------------

  /** fh1_hash_collisions — feature-hashing collision report for the
    * v0 embedder: per 64-dim bucket, how many DISTINCT tokens fold
    * into it and how much tf mass they carry — the diagnostic that
    * says whether the hashing dimension is large enough for the vocab
    * (collided buckets conflate unrelated tokens and blur every
    * downstream cosine). Token hashed ONCE, two integer aggregations,
    * 64-row output at any corpus size. */
  def fh1HashCollisions(s: SparkSession, d: String): DataFrame = {
    val perTok = graft.Dist.spread(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(explode(Embed.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("tf"))
      .select((Embed.tokenHash(col("t")) % VectorQueries.EmbedDim)
        .cast("long").as("bucket"), col("t"), col("tf"))
    perTok.groupBy("bucket")
      .agg(countDistinct("t").as("n_tokens"), sum("tf").as("tf_mass"))
      .withColumn("collided", (col("n_tokens") > 1).cast("int"))
  }

  val fh1Sql: String =
    s"""WITH $toksCte,
       |tok AS (SELECT unnest(tk) AS t FROM toks),
       |tf AS (SELECT t, count(*) AS tf FROM tok GROUP BY 1),
       |b AS (SELECT ${polyhashS("t")} % ${VectorQueries.EmbedDim} AS bucket,
       |        t, tf FROM tf)
       |SELECT bucket, count(DISTINCT t) AS n_tokens,
       |  CAST(sum(tf) AS BIGINT) AS tf_mass,
       |  CASE WHEN count(DISTINCT t) > 1 THEN 1 ELSE 0 END AS collided
       |FROM b GROUP BY 1""".stripMargin

  // ---- qe1_prf --------------------------------------------------------

  /** qe1_prf — pseudo-relevance-feedback query expansion (Rocchio's
    * useful half): for each q0 query, BM25's top-3 documents are
    * assumed relevant and the terms most frequent in them — excluding
    * the query's own terms — become the top-2 expansion terms. The
    * ranking signal is the INTEGER feedback term frequency with a term
    * tie-break (no float mixing weights to diverge on), so the whole
    * IR loop — generate → retrieve → expand — is hash-exact. Cost: the
    * b2 retrieval (posting-list-bounded) + one tf join against the
    * 3·Q feedback docs — the expansion step is feedback-sized, not
    * corpus-sized. */
  def qe1Prf(s: SparkSession, d: String): DataFrame = {
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(s, d).select("doc_id", "text"), "text", d)
    val tfFull = graft.operators.Bm25.tfTableCached(docs, "text", d)
    val ptf = graft.operators.Bm25.prunedTfCached(tfFull, d)
    val queries = TextAnalysis.zipfQueriesCached(tfFull, d)
      .select(col("doc_id").as("query_id"), col("query"))
    val fb = graft.operators.Bm25.searchPruned(tfFull, ptf, queries, "query", Bm25K)
      .filter(col("rnk") <= 3).select("query_id", "doc_id")
    val tf = tfFull.select("doc_id", "term", "tf")
    val qt = queries.select(col("query_id"),
      explode(array_distinct(Embed.tokens(col("query")))).as("term"))
    val cand = fb.join(tf, "doc_id")
      .join(qt, Seq("query_id", "term"), "left_anti")
      .groupBy("query_id", "term").agg(sum("tf").as("fb_tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("fb_tf").desc, col("term").asc)
    cand.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 2)
  }

  lazy val qe1Sql: String =
    s"""WITH $b2Ctes,
       |fb AS (SELECT query_id, doc_id FROM ($b2RankedBody) WHERE rnk <= 3),
       |tf2 AS (SELECT doc_id, term, tf FROM tf),
       |cand AS (SELECT f.query_id, t.term, CAST(sum(t.tf) AS BIGINT) AS fb_tf
       |         FROM fb f JOIN tf2 t ON t.doc_id = f.doc_id
       |         LEFT JOIN qt ON qt.query_id = f.query_id AND qt.term = t.term
       |         WHERE qt.term IS NULL
       |         GROUP BY 1, 2)
       |SELECT query_id, term, fb_tf, rnk FROM (
       |  SELECT query_id, term, fb_tf,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY fb_tf DESC, term ASC) AS rnk
       |  FROM cand) WHERE rnk <= 2""".stripMargin

  // ---- cd1_cluster_profile --------------------------------------------

  /** cd1_cluster_profile — duplicate-cluster SIZE DISTRIBUTION from the
    * d8 components (the dedup report a pipeline reads before choosing
    * survivors: a fat tail of giant clusters means template spam, many
    * pairs means crawl overlap): components → sizes → histogram, all
    * integer counts over the already-bounded component table. */
  def cd1ClusterProfile(s: SparkSession, d: String): DataFrame =
    dedupComponentsCached(s, d)
      .groupBy("group_size")
      .agg(countDistinct("component").as("n_components"),
        count(lit(1)).as("n_docs"))

  lazy val cd1Sql: String =
    s"""WITH cmp AS ($d8Sql)
       |SELECT group_size, count(DISTINCT component) AS n_components,
       |  count(*) AS n_docs
       |FROM cmp GROUP BY 1""".stripMargin

  // ---- v12_hybrid_search ----------------------------------------------

  val HybridArmK = 10
  val HybridK = 5
  val HybridDim = 64
  // query ids are doc_id % 10 = 0 docs, so % 1000 keeps 1 query in 100
  // — the v12_s97/rk1_s97 attestation subset (oracle dense arm shrinks
  // 100×; the corpus-side structures stay full-size)
  val HybridSubMod = 1000

  /** Hybrid retrieval: BM25 lexical arm + hash-TF-embedding cosine arm
    * over the SAME q0-generated queries and corpus, fused by RRF. The
    * vector arm embeds the query TEXT with the same embedder as the
    * docs (the reference's query flow, chroma.py:96-106, with v0's
    * deterministic model). */
  def v12Hybrid(s: SparkSession, d: String): DataFrame =
    v12HybridQ(s, d, identity)

  /** v12_hybrid_s97 — v12 on the deterministic query subset
    * (query_id % HybridSubMod = 0): the scale-rung attestation row
    * (r11 task 4) whose oracle's dense arm is 1/100th of the full
    * cross join — exact within the subset, same fusion arithmetic.
    * The corpus side (tf table, doc embeddings) is untouched: only
    * the query set shrinks, so the row still exercises the full-size
    * retrieval structures. */
  def v12HybridS(s: SparkSession, d: String): DataFrame =
    v12HybridQ(s, d, _.filter(col("query_id") % HybridSubMod === 0))

  private def v12HybridQ(s: SparkSession, d: String,
                         qf: DataFrame => DataFrame): DataFrame = {
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(s, d).select("doc_id", "text"), "text", d)
    val tf = graft.operators.Bm25.tfTableCached(docs, "text", d)
    val ptf = graft.operators.Bm25.prunedTfCached(tf, d)
    val queries = qf(TextAnalysis.zipfQueriesCached(tf, d)
      .select(col("doc_id").as("query_id"), col("query")))
    val lex = graft.operators.Bm25.searchPruned(tf, ptf, queries, "query", HybridArmK)
      .select("query_id", "doc_id", "rnk")
    val dEmb = Embed.embedDocsCached(docs, "text", HybridDim, d)
      .select(col("doc_id").as("vec_id"), col("embedding").as("v"))
    val qEmb = Embed.embedDocs(
      queries.select(col("query_id").as("doc_id"), col("query").as("text")),
      "text", HybridDim)
      .select(col("doc_id").as("query_id"), col("embedding").as("qv"))
    val vec = graft.operators.VectorSearch.knnCosine(qEmb, dEmb, HybridArmK)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rnk"))
    graft.operators.Hybrid.rrfFuse(Seq(lex, vec), HybridK)
  }

  /** Hashing-TF embed CTEs over (idCol, tkCol) token lists → `outCte`
    * with the 6-dp-rounded normalized vector (matches Embed.embedDocs).
    * Lambda vars carry the prefix — DuckDB shadows reused names. */
  private def embedCteS(p: String, srcCte: String, idCol: String,
                        outCte: String): String =
    s"""${p}b AS (SELECT $idCol, list_transform(tk, __${p}t ->
       |    ${polyhashS(s"__${p}t")} % $HybridDim) AS buckets FROM $srcCte),
       |${p}c AS (SELECT $idCol, list_transform(range(0, $HybridDim),
       |    __${p}bb -> CAST(len(list_filter(buckets, __${p}z -> __${p}z = __${p}bb)) AS DOUBLE)) AS counts
       |  FROM ${p}b),
       |$outCte AS MATERIALIZED (SELECT $idCol,
       |    list_transform(counts, __${p}x -> round(__${p}x /
       |      sqrt(list_dot_product(counts, counts)), 6)) AS vec
       |  FROM ${p}c)""".stripMargin

  /** Shared cosine text for the dense-arm oracles (same op order as
    * VectorQueries' cosS / Spark's qn·vn convention). */
  private val hybridCosS = "list_dot_product(q.vec, d.vec) / " +
    "(sqrt(list_dot_product(q.vec, q.vec)) * sqrt(list_dot_product(d.vec, d.vec)))"

  /** CTE chain ending in `lexrank` + `vecrank` (v12's two retrieval
    * arms at HybridArmK) — shared by the v12 fusion oracle and the rk1
    * rank-agreement oracle. `qryWhere` (e.g. the % HybridSubMod subset
    * filter) cuts the query set only — corpus-side CTEs are full. */
  private def hybridArmCtesW(qryWhere: String): String = {
    val cos = hybridCosS
    s"""${hybridLexCtesW(qryWhere)},
       |vscored AS MATERIALIZED (SELECT q.query_id, d.doc_id, $cos AS vcos
       |  FROM qemb q, demb d),
       |vecrank AS MATERIALIZED (SELECT query_id, doc_id, rnk FROM (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY vcos DESC, doc_id ASC) AS rnk
       |  FROM vscored) WHERE rnk <= $HybridArmK)""".stripMargin
  }

  /** Everything both hybrid oracles share: tokenized corpus, query
    * set, the BM25 arm ranked to `lexrank`, and the doc/query
    * hashing-TF embeddings (`demb`/`qemb`) — the dense arm on top is
    * the variant point (exact cross join for v12, the N-adaptive LSH
    * probe for v19). */
  private def hybridLexCtesW(qryWhere: String): String = {
    val K1 = graft.operators.Bm25.K1
    val B = graft.operators.Bm25.B
    val cap = graft.operators.Bm25.PostingCap
    s"""$zToksCte,
       |$zQryCtes,
       |qryv AS (SELECT query_id, query FROM qry$qryWhere),
       |tk2 AS MATERIALIZED (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
       |tf AS MATERIALIZED (SELECT doc_id, t AS term, count(*) AS tf, any_value(dl) AS dl FROM (
       |         SELECT doc_id, len(tk) AS dl, unnest(tk) AS t FROM tk2)
       |       GROUP BY 1, 2),
       |stats AS MATERIALIZED (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM tk2),
       |ptf AS MATERIALIZED (SELECT doc_id, term, tf, dl FROM (
       |         SELECT t.doc_id, t.term, t.tf, t.dl,
       |           row_number() OVER (PARTITION BY t.term ORDER BY
       |             round((t.tf * ${K1 + 1.0}) / (t.tf + ($K1 * (${1.0 - B}
       |               + (($B * t.dl) / s.avgdl)))), 4) DESC, t.doc_id ASC) AS prn
       |         FROM tf t CROSS JOIN stats s) WHERE prn <= $cap),
       |qt AS (SELECT query_id, unnest(list_distinct(
       |         list_filter(string_split(query, ' '), t -> length(t) > 0))) AS term
       |       FROM qryv),
       |tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |qdf AS (SELECT query_id, term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |        FROM qt JOIN tdf USING (term) CROSS JOIN stats),
       |sc AS (SELECT q.query_id, t.doc_id,
       |         round(sum((q.idf * (t.tf * ${K1 + 1.0}))
       |           / (t.tf + ($K1 * (${1.0 - B} + (($B * t.dl) / s2.avgdl))))), 4) AS score
       |       FROM ptf t JOIN qdf q USING (term) CROSS JOIN stats s2
       |       GROUP BY 1, 2),
       |lexrank AS MATERIALIZED (SELECT query_id, doc_id, rnk FROM (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM sc) WHERE rnk <= $HybridArmK),
       |${embedCteS("d", "toks", "doc_id", "demb")},
       |qtk AS (SELECT query_id,
       |          list_filter(string_split(query, ' '), t -> length(t) > 0) AS tk
       |        FROM qryv),
       |${embedCteS("q", "qtk", "query_id", "qemb")}""".stripMargin
  }

  val v12Sql: String = v12SqlW("")
  lazy val v12SSql: String =
    v12SqlW(s" WHERE query_id % $HybridSubMod = 0")

  private def v12SqlW(qryWhere: String): String =
    rrfFusedSql(hybridArmCtesW(qryWhere))

  /** The RRF fusion tail over any arm-CTE chain ending in
    * `lexrank` + `vecrank`. */
  private def rrfFusedSql(armCtes: String): String =
    s"""WITH $armCtes,
       |contrib AS (
       |  SELECT query_id, doc_id, 1.0 / (${graft.operators.Hybrid.RrfK} + rnk) AS c FROM lexrank
       |  UNION ALL
       |  SELECT query_id, doc_id, 1.0 / (${graft.operators.Hybrid.RrfK} + rnk) AS c FROM vecrank),
       |fused AS (SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
       |          FROM contrib GROUP BY 1, 2)
       |SELECT query_id, doc_id, rrf_score, rnk FROM (
       |  SELECT query_id, doc_id, rrf_score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_score DESC, doc_id ASC) AS rnk
       |  FROM fused) WHERE rnk <= $HybridK""".stripMargin

  // ---- v19: production hybrid retrieval (ANN dense arm) ---------------

  /** Tables of the pair-LSH family the v19 dense arm probes: the arm's
    * candidate volume is tables × probes × occupancy per query, so 4
    * tables (of the family's 8) halve both engines' candidate join at
    * a measured ~0 recall cost on the RRF top-5 (the lexical arm
    * covers the few straddled neighbors). */
  val HybridTables = 4

  /** v19_hybrid_ann — the PRODUCTION hybrid retrieval shape (r12
    * verdict task 1): v12's BM25 arm + RRF fusion, with the dense arm
    * served by an N-adaptive multi-probe sign-LSH index instead of the
    * exact Q×N cosine scan. Per-query cost is posting lists (lexical)
    * + probed cells (dense: tables × (bits+1) probes × ~PairOcc
    * occupants ≈ 2k candidates at ANY corpus size — the width grows
    * with count(*) via VectorQueries.pairBits, mirrored in the
    * oracle's nb CTE), so the operator holds the serving shape of the
    * reference's index-backed query flow (chroma.py:96-106) at 100 TB
    * where v12's dense arm is the registered O(Q·N) baseline tier.
    * Candidate generation is deterministic (fixed ±1 planes over the
    * 6-dp-rounded embeddings), so the bucketed semantics — including
    * any ANN misses vs v12 — are identical in both engines and
    * hash-checked, not sampled. */
  def v19HybridAnn(s: SparkSession, d: String): DataFrame =
    v19HybridQ(s, d, identity)

  /** v19_hybrid_s97 — the ANN hybrid on the deterministic query subset
    * (query_id % HybridSubMod = 0), probing the SAME full-size bucket
    * index and tf table: the scale-rung attestation row for rungs
    * where the full oracle's rank step (426M candidate rows at sf10)
    * exceeds the gate node's memory/disk — the v12/rk1/d5 convention.
    * Exact within the subset; corpus-side structures untouched. */
  def v19HybridAnnS(s: SparkSession, d: String): DataFrame =
    v19HybridQ(s, d, _.filter(col("query_id") % HybridSubMod === 0))

  private def v19HybridQ(s: SparkSession, d: String,
                         qf: DataFrame => DataFrame): DataFrame = {
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(s, d).select("doc_id", "text"), "text", d)
    val tf = graft.operators.Bm25.tfTableCached(docs, "text", d)
    val ptf = graft.operators.Bm25.prunedTfCached(tf, d)
    val queries = qf(TextAnalysis.zipfQueriesCached(tf, d)
      .select(col("doc_id").as("query_id"), col("query")))
    val lex = graft.operators.Bm25.searchPruned(tf, ptf, queries, "query", HybridArmK)
      .select("query_id", "doc_id", "rnk")
    val dEmb = Embed.embedDocsCached(docs, "text", HybridDim, d)
      .select(col("doc_id").as("vec_id"), col("embedding").as("v"))
    val qEmb = Embed.embedDocs(
      queries.select(col("query_id").as("doc_id"), col("query").as("text")),
      "text", HybridDim)
      .select(col("doc_id").as("query_id"), col("embedding").as("qv"))
    val bits = VectorQueries.pairBits(VectorQueries.docCount(s, d))
    val w = VectorQueries.pairWeights(bits).take(HybridTables)
    // The bucketed corpus is a persisted INDEX artifact (fit-or-load,
    // like the tf table and embeddings above): serving probes a built
    // index, it does not re-project the corpus per query. Besides the
    // architecture, this is a measured JIT cliff: fusing the 56-plane
    // projection Generate into the probe-join/top-k stage produced one
    // generated method past HotSpot's huge-method limit — the whole
    // stage ran INTERPRETED (~230 µs/row, a 79-minute sf10 stage for a
    // 94-second plan when the index scan is a plain parquet read).
    val cb = graft.operators.FitOrLoad.parquet(s, "vixcb", d,
      s"dim=$HybridDim;tables=$HybridTables;bits=$bits", docs.count())(
      graft.operators.VectorSearch.rpBuckets(dEmb, w))
    val vec = graft.operators.VectorSearch
      .knnLshRpMultiProbeFrom(cb, qEmb, HybridArmK, w, radius = 1)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rnk"))
    graft.operators.Hybrid.rrfFuse(Seq(lex, vec), HybridK)
  }

  /** The ANN dense arm's oracle CTEs: the shared lexical/embedding
    * chain, then the SAME adaptive-width bucket/probe join the d6/d10
    * oracles use — width from count(*) over documents (nb), planes
    * from the shared VALUES literals, probe masks materialized as
    * columns (never join-predicate subqueries — the r12 planner
    * lesson).
    *
    * Candidate dedup is per-table-top-k-then-merge, NOT a global
    * max-per-(query, doc) aggregate: at sf10 the candidate join holds
    * 436M rows / 426M distinct pairs, and DuckDB's high-cardinality
    * hash aggregate overshot a 20GB memory_limit to ~100GB RSS (OOM-
    * killed twice). Within one table a (query, doc) pair occurs at
    * most once (one bucket per doc, distinct probe buckets), so the
    * per-(query, tbl) row_number window needs no dedup and runs as a
    * spill-friendly SORT; the union of per-table top-k contains the
    * global top-k (any pair beaten by ≤ k−1 others globally is beaten
    * by ≤ k−1 within each of its tables), so the ≤ tables·k rows/query
    * merge is exact, with bit-identical vcos (duplicate copies compute
    * the same dot). Mirrors the Spark side's bounded distinct top-k.
    *
    * The bucket aggregates carry NO vector payload: profiling the sf10
    * gate showed any_value(vec) list state dominating the whole oracle
    * (~84 µs per input row across 28M plane evaluations — 2,344 CPU-s
    * of a 2,400 CPU-s query); vectors and their precomputed norms
    * (dnv/qnv — sqrt once per vector, not per matched row) hash-join
    * back at scoring time, the same values in the same op order. */
  private def hybridAnnArmCtes: String = hybridAnnArmCtesW("")

  private def hybridAnnArmCtesW(qryWhere: String): String = {
    val probeMax = VectorQueries.RpBitsPairMax
    s"""${hybridLexCtesW(qryWhere)},
       |w(tbl, bit, wv) AS (VALUES
       |    ${VectorQueries.rpWeightRowsPairExtS}),
       |${VectorQueries.pairNbCteS("documents")},
       |cbk AS MATERIALIZED (
       |  SELECT s.doc_id, w.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(s.vec, w.wv) >= 0
       |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM demb s, w
       |  WHERE w.tbl < $HybridTables AND w.bit < (SELECT bits FROM nb)
       |  GROUP BY s.doc_id, w.tbl),
       |qbk0 AS MATERIALIZED (
       |  SELECT s.query_id, w.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(s.vec, w.wv) >= 0
       |             THEN (1::BIGINT << w.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM qemb s, w
       |  WHERE w.tbl < $HybridTables AND w.bit < (SELECT bits FROM nb)
       |  GROUP BY s.query_id, w.tbl),
       |qbk AS MATERIALIZED (
       |  SELECT query_id, tbl,
       |    xor(bucket, CASE WHEN m.range < 0 THEN 0
       |                     ELSE (1::BIGINT << m.range) END) AS bucket
       |  FROM qbk0, range(-1, $probeMax) m
       |  WHERE m.range < (SELECT bits FROM nb)),
       |dnv AS MATERIALIZED (SELECT doc_id, vec,
       |    sqrt(list_dot_product(vec, vec)) AS vn FROM demb),
       |qnv AS MATERIALIZED (SELECT query_id, vec,
       |    sqrt(list_dot_product(vec, vec)) AS qn FROM qemb),
       |vt AS (SELECT q.query_id, d.doc_id, q.tbl,
       |    list_dot_product(qq.vec, dd.vec) / (qq.qn * dd.vn) AS vcos
       |    FROM cbk d JOIN qbk q USING (tbl, bucket)
       |    JOIN dnv dd USING (doc_id) JOIN qnv qq USING (query_id)),
       |vtt AS (SELECT query_id, doc_id, vcos FROM (
       |    SELECT query_id, doc_id, vcos, row_number() OVER (
       |      PARTITION BY query_id, tbl
       |      ORDER BY vcos DESC, doc_id ASC) AS tr
       |    FROM vt) WHERE tr <= $HybridArmK),
       |vcand AS (SELECT query_id, doc_id, max(vcos) AS vcos
       |          FROM vtt GROUP BY 1, 2),
       |vecrank AS MATERIALIZED (SELECT query_id, doc_id, rnk FROM (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY vcos DESC, doc_id ASC) AS rnk
       |  FROM vcand) WHERE rnk <= $HybridArmK)""".stripMargin
  }

  lazy val v19Sql: String = rrfFusedSql(hybridAnnArmCtes)
  lazy val v19SSql: String =
    rrfFusedSql(hybridAnnArmCtesW(s" WHERE query_id % $HybridSubMod = 0"))

  // ---- rk1_rank_agreement (RBO) ---------------------------------------

  val RboP = 0.9
  val RboDepth = 5

  /** Per-depth RBO coefficients (1−p)·p^(d−1)/d as decimal literals —
    * generated ONCE in Scala and inlined into both engines' texts, so
    * the weighted sum is the identical fixed-order double expression
    * on exact integer agreement counts. */
  private val rboCoefs: Seq[String] =
    (1 to RboDepth).map(dd =>
      ((1.0 - RboP) * math.pow(RboP, dd - 1) / dd).toString)

  /** Truncated rank-biased overlap (Webber et al.) between the BM25
    * and embedding arms of v12 — how much the lexical and semantic
    * rankings agree, weighted toward the top (the metric that says
    * whether RRF fusion has anything to fuse). Agreement counts are
    * exact integers; the depth-weighted sum is one fixed-order
    * expression with shared literal coefficients. */
  def rk1RankAgreement(s: SparkSession, d: String): DataFrame =
    rk1RankAgreementQ(s, d, identity)

  /** rk1_rank_agreement_s97 — rk1 on the % HybridSubMod query subset
    * (the v12_s97 rule): the scale-rung attestation row whose oracle
    * dense arm is 1/100th of the full cross join. */
  def rk1RankAgreementS(s: SparkSession, d: String): DataFrame =
    rk1RankAgreementQ(s, d, _.filter(col("query_id") % HybridSubMod === 0))

  private def rk1RankAgreementQ(s: SparkSession, d: String,
                                qf: DataFrame => DataFrame): DataFrame = {
    val docs = TextAnalysis.zipfDocsCached(
      Tables.documents(s, d).select("doc_id", "text"), "text", d)
    val tf = graft.operators.Bm25.tfTableCached(docs, "text", d)
    val ptf = graft.operators.Bm25.prunedTfCached(tf, d)
    val queries = qf(TextAnalysis.zipfQueriesCached(tf, d)
      .select(col("doc_id").as("query_id"), col("query")))
    val lex = graft.operators.Bm25.searchPruned(tf, ptf, queries, "query", HybridArmK)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lr"))
      .filter(col("lr") <= RboDepth)
    val dEmb = Embed.embedDocsCached(docs, "text", HybridDim, d)
      .select(col("doc_id").as("vec_id"), col("embedding").as("v"))
    val qEmb = Embed.embedDocs(
      queries.select(col("query_id").as("doc_id"), col("query").as("text")),
      "text", HybridDim)
      .select(col("doc_id").as("query_id"), col("embedding").as("qv"))
    val vec = graft.operators.VectorSearch.knnCosine(qEmb, dEmb, HybridArmK)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rnk").as("vr"))
      .filter(col("vr") <= RboDepth)
    val aggs = (1 to RboDepth).map(dd =>
      sum(when(col("m") <= dd, 1L).otherwise(0L)).as(s"a$dd"))
    val ag = lex.join(vec, Seq("query_id", "doc_id"))
      .withColumn("m", greatest(col("lr"), col("vr")))
      .groupBy("query_id")
      .agg(aggs.head, aggs.tail: _*)
    val rboExpr = rboCoefs.zipWithIndex
      .map { case (c, i) => s"CAST($c AS DOUBLE) * a${i + 1}" }.mkString(" + ")
    ag.select(col("query_id"), col(s"a$RboDepth").as("n_common"),
      round(expr(rboExpr), 6).as("rbo"))
  }

  lazy val rk1Sql: String = rk1SqlW("")
  lazy val rk1SSql: String =
    rk1SqlW(s" WHERE query_id % $HybridSubMod = 0")

  private def rk1SqlW(qryWhere: String): String = {
    val sums = (1 to RboDepth).map(dd =>
      s"CAST(sum(CASE WHEN m <= $dd THEN 1 ELSE 0 END) AS BIGINT) AS a$dd")
      .mkString(", ")
    val rboExpr = rboCoefs.zipWithIndex
      .map { case (c, i) => s"CAST($c AS DOUBLE) * a${i + 1}" }.mkString(" + ")
    s"""WITH ${hybridArmCtesW(qryWhere)},
       |j AS (SELECT l.query_id, greatest(l.rnk, v.rnk) AS m
       |      FROM lexrank l JOIN vecrank v USING (query_id, doc_id)
       |      WHERE l.rnk <= $RboDepth AND v.rnk <= $RboDepth),
       |ag AS (SELECT query_id, $sums FROM j GROUP BY 1)
       |SELECT query_id, a$RboDepth AS n_common, round($rboExpr, 6) AS rbo
       |FROM ag""".stripMargin
  }

  // ---- t9_tfidf_keywords ----------------------------------------------

  val TfidfTopK = 3

  /** Per-document top-3 TF-IDF keywords — the classic keyword-
    * extraction / doc-summarization signal. Ranking on the 4-dp ROUNDED
    * score (ties by token) so ln()'s last ulp can't flip the top-k
    * across engines (b2's policy). One tokenize pass: df and the doc
    * count both derive from the persisted tf table. */
  def t9TfidfKeywords(s: SparkSession, d: String): DataFrame = {
    val toks = graft.Dist.spread(
      Tables.documents(s, d).select(col("doc_id"), Embed.tokens(col("text")).as("tk")))
      .filter(size(col("tk")) > 0)
    // eager localCheckpoint, not lazy cache: broadcast(nd) races the
    // scoring join into double-materializing a lazy cache (see Bm25)
    val tf = toks.select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val nd = tf.agg(countDistinct("doc_id").as("n_docs"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").crossJoin(broadcast(nd))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .select("doc_id", "term", "score")
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
      Seq(col("score").desc, col("term").asc), TfidfTopK)
  }

  val t9Sql: String =
    s"""WITH $toksCte,
       |tf AS (SELECT doc_id, t AS term, count(*) AS tf FROM (
       |         SELECT doc_id, unnest(tk) AS t FROM toks WHERE len(tk) > 0)
       |       GROUP BY 1, 2),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
       |tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, term, score, rnk FROM (
       |  SELECT tf.doc_id, tf.term,
       |    round(tf.tf * ln(nd.n_docs::DOUBLE / tdf.df), 4) AS score,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY round(tf.tf * ln(nd.n_docs::DOUBLE / tdf.df), 4) DESC,
       |               tf.term ASC) AS rnk
       |  FROM tf JOIN tdf USING (term) CROSS JOIN nd) WHERE rnk <= $TfidfTopK""".stripMargin

  // ---- d8_dedup_groups ------------------------------------------------

  /** Connected components over the d2 near-dup pair graph + group
    * sizes — the survivor-selection input of a dedup pipeline. */
  def d8DedupGroups(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.dedupGroups(d2PairsCached(s, d))

  /** d8's registry entry reads the SAME fit-or-load cache as its
    * consumers (d9/cd1/red1): the component table is ONE offline
    * artifact and its build cost lands exactly once per dataset, on
    * whichever row touches it first (the v8/hg2 first-consumer
    * attribution rule). Rebuild-always on d8's own row double-built
    * the table in every fresh-sandbox bench run (r9 verdict: cd1 12.0 s
    * beside d8 6.4 s). */
  def d8DedupGroupsCached(s: SparkSession, d: String): DataFrame =
    dedupComponentsCached(s, d)

  /** The d8 component table persisted fit-or-load per dataset: the
    * dedup pipeline is an offline batch job whose component table
    * every downstream report reads (d9 survivors, cd1 profile, red1
    * savings) — re-running the iterative CC inside each report charges
    * the build to every read (the v8/hg2 cost-attribution rule). */
  private def dedupComponentsCached(s: SparkSession, d: String): DataFrame =
    graft.operators.FitOrLoad.parquet(s, "d8comp", d,
      s"cap=${graft.operators.Dedup.DropDfCap}",
      Tables.documents(s, d).count())(d8DedupGroups(s, d))

  /** The d2 near-dup pair table (id_a, id_b) persisted fit-or-load
    * per dataset — the shared EDGE artifact under the whole graph
    * family (d8 components, g1 PageRank, kc1 k-core, tc1 triangles,
    * g3 BFS). At sf100 the pair GENERATION (df-capped shingle index +
    * self-join over 5 M docs) costs ~minutes and r18's first gating
    * ran it once per graph query (g1 614 s / kc1 497 s / tc1 295 s,
    * each mostly pair-gen); one dedup pipeline materializes its edge
    * list once and every graph report reads it (same first-consumer
    * attribution as d8comp/the BM25 posting artifact). Deterministic
    * derivation (integer intersections, per-pair division) ⇒ cached
    * and fresh pairs are row-identical, so the DuckDB oracles keep
    * recomputing their own pairGraphCtes unchanged. */
  private def d2PairsCached(s: SparkSession, d: String): DataFrame =
    graft.operators.FitOrLoad.parquet(s, "d2pairs", d,
      s"cap=${graft.operators.Dedup.DropDfCap},jmin=$JaccardMin",
      Tables.documents(s, d).count())(
      d2NgramJaccard(s, d).select("id_a", "id_b"))

  /** The d2 near-dup pair graph as CTEs ending in `sym` (symmetrized
    * src→dst edges) — shared by the d8 components oracle (transitive
    * closure via recursive min-label reachability; UNION-distinct
    * semantics bound the recursion to |V|·|component|) and the g1
    * PageRank oracle. */
  /** The df-capped shingle-hash inverted index as CTEs ending in `ex`
    * (doc_id, h, nsh) — reads from `toks`; shared by the jaccard (d2/
    * d8/g1) and containment (d13) pair oracles. */
  // NOTE the MATERIALIZED hints on every multi-referenced CTE below
  // (and in the unrolled-iteration oracles that consume these): DuckDB
  // 1.0 INLINES CTEs by default, so an unrolled k-core round chain
  // (eN referencing e(N-1) three times) re-plans the whole shingle
  // self-join 3^rounds times — ~50x the work and >60 GB of temp spill
  // at sf1, which is what actually caused the r10 "oracle-resource"
  // exclusions (measured: kc1 at sf0.1 plain 65 s / materialized
  // 1.3 s, identical rows). Results are unchanged; only the oracle's
  // own evaluation strategy is pinned.
  private def shingleIndexCtes: String =
    s"""exs AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
       |ex0 AS MATERIALIZED (SELECT doc_id, ${polyhashS("s")} AS h FROM exs),
       |hot AS (SELECT h FROM ex0 GROUP BY h HAVING count(*) > ${Dedup.DropDfCap}),
       |exk AS (SELECT doc_id, h FROM ex0 WHERE h NOT IN (SELECT h FROM hot)),
       |ex AS MATERIALIZED (SELECT doc_id, h, count(*) OVER (PARTITION BY doc_id) AS nsh FROM exk)""".stripMargin

  private def pairGraphCtes: String =
    s"""$toksCte, $shingleCte,
       |$shingleIndexCtes,
       |pairs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |    SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard FROM (
       |      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
       |             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
       |      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2))
       |  WHERE jaccard >= $JaccardMin),
       |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs)""".stripMargin

  val d8Sql: String =
    s"""WITH RECURSIVE $pairGraphCtes,
       |reach(id, lab) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN sym e ON r.id = e.src),
       |comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY 1)
       |SELECT doc_id, component,
       |  count(*) OVER (PARTITION BY component) AS group_size
       |FROM comp""".stripMargin

  // ---- tc1_triangles --------------------------------------------------

  /** Per-doc triangle participation over the d2 near-dup graph — the
    * local-clustering signal that separates a tight duplicate clique
    * (template boilerplate: every pair similar) from a star (one hub
    * doc loosely similar to many unrelated ones). Composes the same
    * capped pair generator as d8/g1. */
  def tc1Triangles(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.triangles(d2PairsCached(s, d))

  val tc1Sql: String =
    s"""WITH $pairGraphCtes,
       |tri AS MATERIALIZED (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
       |        FROM pairs e1 JOIN pairs e2 ON e1.id_b = e2.id_a
       |        JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |corners AS (SELECT a AS doc_id FROM tri
       |            UNION ALL SELECT b FROM tri
       |            UNION ALL SELECT c FROM tri)
       |SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY 1""".stripMargin

  // ---- g3_bfs_hops ----------------------------------------------------

  /** BFS hop distances from the smallest near-dup-graph node — "how
    * many similarity steps away is every related doc" (the
    * neighborhood-radius view the dedup triage UI shows). Frontier
    * expansion, one equi-join + anti-join per round, rounds bounded by
    * the component's eccentricity. Unreachable docs are absent. */
  def g3BfsHops(s: SparkSession, d: String): DataFrame = {
    val pairs = d2PairsCached(s, d)
    val seed = pairs.agg(min("id_a").as("doc_id"))
    graft.operators.GraphOps.bfsHops(pairs, seed)
      .select(col("id").as("doc_id"), col("hops"))
  }

  val g3Sql: String =
    s"""WITH RECURSIVE $pairGraphCtes,
       |seed AS (SELECT min(id_a) AS s FROM pairs),
       |reach(id, hops) AS (
       |  SELECT s, 0 FROM seed
       |  UNION
       |  SELECT e.dst, r.hops + 1 FROM reach r JOIN sym e ON r.id = e.src
       |  WHERE r.hops < 20)
       |SELECT id AS doc_id, CAST(min(hops) AS BIGINT) AS hops
       |FROM reach GROUP BY 1""".stripMargin

  // ---- d13_containment ------------------------------------------------

  val ContainMin = 0.8

  /** Corpus + prefix-truncated copies (doc_id < 30 re-keyed +3000000
    * keeping the first half of their tokens) — planted strict-subset
    * duplicates that jaccard under-scores but containment catches. */
  private def docsWithPrefixes(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    docs.unionAll(docs.filter(col("doc_id") < 30)
      .withColumn("tk", Embed.tokens(col("text")))
      .select((col("doc_id") + 3000000L).as("doc_id"),
        expr("array_join(slice(tk, 1, greatest(4, size(tk) div 2)), ' ')")
          .as("text")))
  }

  /** Asymmetric containment near-dup pairs (see Dedup.containmentPairs):
    * directed (id_in, id_out) with |S_in ∩ S_out| / |S_in| ≥ 0.8. */
  def d13Containment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docsWithPrefixes(s, d), 3, ContainMin)

  val d13Sql: String =
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id,
       |    list_aggregate(tk[1:greatest(4, len(tk) // 2)], 'string_agg', ' ') AS text
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS tk
       |        FROM documents WHERE doc_id < 30)),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS tk FROM docs2),
       |$shingleCte,
       |$shingleIndexCtes,
       |base AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
       |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
       |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dir AS (
       |  SELECT id_a AS id_in, id_b AS id_out, inter::DOUBLE / na AS containment FROM base
       |  UNION ALL
       |  SELECT id_b, id_a, inter::DOUBLE / nb FROM base)
       |SELECT id_in, id_out, round(containment, 6) AS containment
       |FROM dir WHERE containment >= $ContainMin""".stripMargin

  // ---- g1_pagerank ----------------------------------------------------

  val PrIters = 5
  val PrScale = 1000000000000L

  /** Fixed-point integer PageRank over the d2 near-dup graph (see
    * GraphOps.pageRank: all-integer arithmetic designs out
    * float-addition-order divergence, so an ITERATIVE numeric job is
    * oracle-hashable). */
  def g1PageRank(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.pageRank(d2PairsCached(s, d), PrIters, PrScale)

  /** Oracle: the same five iterations unrolled as CTEs with identical
    * integer arithmetic (`//` = Spark `DIV` for the positive operands
    * here); DuckDB sum() yields HUGEINT so each iteration re-casts its
    * rank to BIGINT. */
  val g1Sql: String = {
    val tele = PrScale * 15L / 100L
    val iters = (1 to PrIters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT e.dst AS id,
         |  $tele // (SELECT n FROM nn)
         |    + CAST((85 * sum(p.pr // g.deg)) // 100 AS BIGINT) AS pr
         |  FROM sym e JOIN p${i - 1} p ON e.src = p.id
         |             JOIN deg g ON e.src = g.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairGraphCtes,
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
       |p0 AS (SELECT src AS id, $PrScale // (SELECT n FROM nn) AS pr FROM deg),
       |$iters
       |SELECT id AS doc_id, pr FROM p$PrIters""".stripMargin
  }

  // ---- kc1_kcore ------------------------------------------------------

  val KcoreK = 2
  val KcoreRounds = 3

  /** kc1_kcore — fixed-round 2-core peeling over the d2 near-dup graph
    * (see GraphOps.kcorePeel): separates template cliques from loose
    * stars/chains for dedup triage. 3 declared rounds, oracle = the
    * same peels unrolled as CTEs (g1's pattern). */
  def kc1Kcore(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.kcorePeel(d2PairsCached(s, d), KcoreK, KcoreRounds)

  val kc1Sql: String = {
    val rounds = (1 to KcoreRounds).map { i =>
      s"""a$i AS MATERIALIZED (SELECT src AS id FROM e${i - 1}
         |        GROUP BY 1 HAVING count(*) >= $KcoreK),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |        JOIN a$i x ON e.src = x.id
         |        JOIN a$i y ON e.dst = y.id)""".stripMargin
    }.mkString(",\n")
    val survived = (1 to KcoreRounds).map(i =>
      s"CASE WHEN n.id IN (SELECT id FROM a$i) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $pairGraphCtes,
       |alln AS (SELECT DISTINCT src AS id FROM sym),
       |e0 AS (SELECT src, dst FROM sym),
       |$rounds
       |SELECT n.id AS doc_id,
       |  CAST($survived AS BIGINT) AS rounds_survived,
       |  CASE WHEN n.id IN (SELECT id FROM a$KcoreRounds)
       |       THEN 1 ELSE 0 END AS in_core
       |FROM alln n""".stripMargin
  }

  // ---- tv1_source_shift -----------------------------------------------

  /** tv1_source_shift — total-variation distance between the SOURCE
    * distributions of two corpus halves (doc_id parity — deterministic
    * balanced split): the mixture-drift alarm a pipeline checks before
    * blending a new crawl batch. TV = Σ|ca·Tb − cb·Ta| / (2·Ta·Tb):
    * the numerator is an EXACT integer sum (no per-source double
    * division whose addition order could flip bits), products in
    * DECIMAL(38,0) — counts at 100 TB overflow a BIGINT product — and
    * ONE terminal double division. */
  def tv1SourceShift(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy("source").agg(
        sum((col("doc_id") % 2 === 0).cast("long")).as("ca"),
        sum((col("doc_id") % 2 === 1).cast("long")).as("cb"))
    val tot = per.agg(sum("ca").as("ta"), sum("cb").as("tb"))
    per.crossJoin(broadcast(tot))
      .agg(max("ta").as("ta"), max("tb").as("tb"),
        count(lit(1)).as("n_sources"),
        sum(abs(col("ca").cast("decimal(38,0)") * col("tb")
          - col("cb").cast("decimal(38,0)") * col("ta"))).as("__num"))
      .select(col("ta"), col("tb"), col("n_sources"),
        round(col("__num").cast("double")
          / (lit(2.0) * col("ta").cast("double") * col("tb").cast("double")), 6)
          .as("tv_distance"))
  }

  val tv1Sql: String =
    """WITH per AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
      |               CAST(sum(cb) AS BIGINT) AS tb FROM per)
      |SELECT ta, tb, count(*) AS n_sources,
      |  round(CAST(sum(abs(CAST(ca AS DECIMAL(38,0)) * tb
      |                     - CAST(cb AS DECIMAL(38,0)) * ta)) AS DOUBLE)
      |        / (2.0 * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)), 6) AS tv_distance
      |FROM per, tot GROUP BY ta, tb""".stripMargin

  // ---- cmp1_compression_ratio (rows-only) -----------------------------

  /** Compression-ratio quality signal — see
    * TextAnalysis.compressionRatio. Rows-only: deflate output is not
    * SQL-expressible; CompressionSpec bounds planted repetitive vs
    * high-entropy docs. */
  def cmp1Compression(s: SparkSession, d: String): DataFrame =
    TextAnalysis.compressionRatio(
      Tables.documents(s, d).select("doc_id", "text"), "text")

  /** cmp1_roundtrip — the oracle-checkable attestation twin for cmp1
    * (the km1-for-v8 pattern, r16 verdict task 5): deflate OUTPUT
    * isn't SQL-expressible, but the decompress ROUND TRIP is. Each doc
    * is deflated at cmp1's level, inflated back, and the polyhash
    * digest of the RECOVERED text is emitted next to the original
    * UTF-8 byte length; the DuckDB oracle computes the same digest
    * over the ORIGINAL text. A hash-green row therefore proves the
    * compress→decompress cycle recovered every document byte-for-byte
    * — the lossless-codec property cmp1's rows-only declaration left
    * unchecked. Same per-partition codec reuse as compressionRatio
    * (one Deflater/Inflater pair per partition, zero per-row
    * allocation of codec state). */
  def cmp1Roundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val in = graft.Dist.spread(
        Tables.documents(s, d).select("doc_id", "text"))
      .as[(Long, String)]
    in.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(6)
      val inflater = new java.util.zip.Inflater()
      val chunk = new Array[Byte](1 << 16)
      val comp = new java.io.ByteArrayOutputStream(1 << 16)
      val back = new java.io.ByteArrayOutputStream(1 << 16)
      rows.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        deflater.reset(); deflater.setInput(bytes); deflater.finish()
        comp.reset()
        while (!deflater.finished())
          comp.write(chunk, 0, deflater.deflate(chunk))
        inflater.reset(); inflater.setInput(comp.toByteArray)
        back.reset()
        while (!inflater.finished())
          back.write(chunk, 0, inflater.inflate(chunk))
        val recovered = new String(back.toByteArray, "UTF-8")
        (id, bytes.length.toLong, graft.functions.PolyHash.hash(
          recovered, graft.functions.PolyHash.Base, Embed.HashMod))
      }
    }.toDF("doc_id", "n_bytes", "digest")
  }

  lazy val cmp1RoundtripSql: String =
    s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       |  ${polyhashS("text")} AS digest
       |FROM documents""".stripMargin

  // ---- d9_survivors ---------------------------------------------------

  /** Survivor per near-dup component: keep the longest doc (n_chars),
    * ties to the smallest doc_id — the final step of the dedup
    * pipeline (pairs → components → survivors). */
  def d9Survivors(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.survivorsFromGroups(
      dedupComponentsCached(s, d),
      Tables.documents(s, d).select("doc_id", "n_chars"), "n_chars")

  val d9Sql: String =
    s"""WITH RECURSIVE $toksCte, $shingleCte,
       |exs AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
       |ex0 AS (SELECT doc_id, ${polyhashS("s")} AS h FROM exs),
       |hot AS (SELECT h FROM ex0 GROUP BY h HAVING count(*) > ${Dedup.DropDfCap}),
       |exk AS (SELECT doc_id, h FROM ex0 WHERE h NOT IN (SELECT h FROM hot)),
       |ex AS (SELECT doc_id, h, count(*) OVER (PARTITION BY doc_id) AS nsh FROM exk),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard FROM (
       |      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
       |             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
       |      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2))
       |  WHERE jaccard >= $JaccardMin),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(id, lab) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN sym e ON r.id = e.src),
       |comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY 1),
       |sized AS (SELECT doc_id, component,
       |            count(*) OVER (PARTITION BY component) AS group_size
       |          FROM comp)
       |SELECT component, survivor_id, n_members, n_dropped FROM (
       |  SELECT s.component, s.doc_id AS survivor_id,
       |    s.group_size AS n_members, s.group_size - 1 AS n_dropped,
       |    row_number() OVER (PARTITION BY s.component
       |      ORDER BY d.n_chars DESC, s.doc_id ASC) AS rn
       |  FROM sized s JOIN documents d USING (doc_id)) WHERE rn = 1""".stripMargin

  // ---- u1_upsert ------------------------------------------------------

  /** Two synthetic batches over orders: version 0 = the base table,
    * version 1 = every 10th order re-submitted with a 10% price bump.
    * Last write wins per key (reference upsert semantics, db.py:72-80).
    */
  /** The +1000.0 update (not ×1.1) keeps prices on exact 2-dp doubles:
    * source prices are clean 2-dp, and round() on a ×1.1 product lands
    * on .xx5 boundaries where Spark (HALF_UP on shortest decimal repr)
    * and the oracle (round on the binary value) legitimately disagree.
    */
  def u1Upsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), lit(0).as("version"))
    val update = Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit(1).as("version"))
    Upsert.lastWriteWins(base.unionAll(update), "o_orderkey", "version")
  }

  val u1Sql: String =
    """WITH batches AS (
      |  SELECT o_orderkey, o_totalprice, 0 AS version FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice, 1 AS version
      |  FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT o_orderkey, o_totalprice, version FROM (
      |  SELECT o_orderkey, o_totalprice, version,
      |    row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      |  FROM batches) WHERE rn = 1""".stripMargin

  // ---- u4_scd2 --------------------------------------------------------

  /** Slowly-changing-dimension type 2: instead of last-write-wins (u1),
    * keep EVERY version with its validity interval — valid_to = the
    * next version for the key (null = current row). One window over the
    * same (key, version) shuffle u1 pays; the standard warehouse
    * history-table shape. Runs on u1's two-batch fixture. */
  def u4Scd2(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), lit(0).as("version"))
    val update = Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit(1).as("version"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderkey").orderBy("version")
    base.unionAll(update)
      .withColumn("valid_to", lead("version", 1).over(w))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .select("o_orderkey", "o_totalprice", "version", "valid_to", "is_current")
  }

  val u4Sql: String =
    """WITH batches AS (
      |  SELECT o_orderkey, o_totalprice, 0 AS version FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice, 1 AS version
      |  FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT o_orderkey, o_totalprice, version,
      |  lead(version, 1) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to,
      |  CASE WHEN lead(version, 1) OVER (PARTITION BY o_orderkey ORDER BY version)
      |            IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM batches""".stripMargin

  // ---- tt1_time_travel ------------------------------------------------

  /** Time-travel read over the u4 SCD2 history: the table AS OF
    * version 0 is every row whose validity interval covers 0
    * (version ≤ 0 < valid_to-or-∞) — and it must equal the ORIGINAL
    * table exactly, which is what the oracle asserts by aggregating
    * `orders` directly. Sums are exact decimals; the read is a filter
    * over the history table (no reconstruction join). */
  def tt1TimeTravel(s: SparkSession, d: String): DataFrame =
    u4Scd2(s, d)
      .filter(col("version") <= 0 &&
        (col("valid_to").isNull || col("valid_to") > 0))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("o_orderkey").as("n_keys"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))

  /** The oracle reads the ORIGINAL table — proving the history
    * reconstruction is exact, not just self-consistent. */
  val tt1Sql: String =
    """SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
      |  CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price
      |FROM orders""".stripMargin

  // ---- d11_dup_spans --------------------------------------------------

  val SpanW = 8

  /** Exact duplicated-span detection (Lee et al. substring dedup) —
    * every 8-token window, stride 1; duplicated iff its hash repeats
    * corpus-wide. */
  def d11DupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpans(Tables.documents(s, d).select("doc_id", "text"),
      "text", SpanW)

  /** Oracle: same windows via unnest(range) (DuckDB range() takes no
    * lateral column arg), same polyhash over the space-joined span. */
  val d11Sql: String =
    s"""WITH $toksCte,
       |w AS (SELECT doc_id, ${polyhashS(s"list_aggregate(tk[j:j+${SpanW - 1}], 'string_agg', ' ')")} AS h
       |      FROM toks, unnest(range(1, 4096)) AS u(j)
       |      WHERE j <= len(tk) - ${SpanW - 1}),
       |cnt AS (SELECT h, count(*) AS c FROM w GROUP BY 1),
       |per AS (SELECT doc_id, count(*) AS n_windows,
       |          CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
       |        FROM w JOIN cnt USING (h) GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(per.n_windows, 0) AS n_windows,
       |  coalesce(per.n_dup_windows, 0) AS n_dup_windows,
       |  CASE WHEN coalesce(per.n_windows, 0) > 0
       |       THEN round(per.n_dup_windows::DOUBLE / per.n_windows, 4)
       |       ELSE 0.0 END AS dup_ratio
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin

  // ---- bpe1_merges (rows-only: iterative argmax) ----------------------

  val BpeMerges = 8

  /** Distributed BPE tokenizer training — ranked merge table. Driver
    * check is rows-only (same policy as v8's k-means); BpeSpec replays
    * the reference algorithm and asserts identical output. */
  def bpe1Merges(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.learnMerges(
      Tables.documents(s, d).select("doc_id", "text"), "text", BpeMerges)

  // ---- bpe2_encode (rows-only: replays the iterative merge table) -----

  /** Tokenize the corpus with the bpe1-learned merge table (rank-order
    * greedy application — see Bpe.encode). Rows-only like bpe1: the
    * merge table itself comes from the iterative argmax; BpeSpec pins
    * the encode against a single-threaded replay + the trainer's
    * end-state symbol counts. */
  def bpe2Encode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val merges = graft.operators.Bpe.learnMerges(docs, "text", BpeMerges)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.encode(graft.Dist.spread(docs), "text", merges)
  }

  /** bpe1/bpe2 oracle: the 8 merge rounds UNROLLED as DuckDB CTEs
    * (g1-PageRank policy — a fixed round count makes the iterative
    * argmax SQL-expressible after all). Words fold to a chr(31)-
    * separated symbol string; one merge round is a list_reduce that
    * appends `r` to the accumulator iff it currently ends with
    * SEP||l (the separator guards symbol boundaries, so overlapping
    * occurrences resolve leftmost-first exactly like Bpe.mergeExpr). */
  private val BpeSepS = "chr(31)"

  private def bpeSymsS(s: String): String =
    s"string_split(substring($s, 2), $BpeSepS)"

  private lazy val bpeTrainCtesS: String = {
    val charsS =
      s"list_reduce(list_prepend('', list_transform(range(1, length(w) + 1), " +
        s"__ci -> substring(w, __ci, 1))), (__a, __x) -> __a || $BpeSepS || __x)"
    val base = Seq(
      toksCte,
      "wf AS MATERIALIZED (SELECT w, count(*) AS freq FROM " +
        "(SELECT unnest(tk) AS w FROM toks) u_wf GROUP BY 1)",
      s"w_0 AS MATERIALIZED (SELECT w, freq, $charsS AS s FROM wf)")
    val rounds = (1 to BpeMerges).flatMap { r =>
      val p = s"w_${r - 1}"
      Seq(
        s"""pr_$r AS MATERIALIZED (
           |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pf FROM (
           |    SELECT freq, unnest(list_transform(range(1, len(${bpeSymsS("s")})),
           |      __pi -> {'l': ${bpeSymsS("s")}[__pi], 'r': ${bpeSymsS("s")}[__pi + 1]})) AS p
           |    FROM $p) e_$r GROUP BY 1, 2)""".stripMargin,
        s"top_$r AS MATERIALIZED (SELECT l, r, pf FROM pr_$r " +
          s"ORDER BY pf DESC, l ASC, r ASC LIMIT 1)",
        s"""w_$r AS MATERIALIZED (
           |  SELECT w, freq, list_reduce(list_prepend('', ${bpeSymsS("s")}),
           |    (__a, __x) -> CASE WHEN __x = t.r AND ends_with(__a, $BpeSepS || t.l)
           |      THEN __a || __x ELSE __a || $BpeSepS || __x END) AS s
           |  FROM $p, top_$r t)""".stripMargin)
    }
    (base ++ rounds).mkString(",\n")
  }

  lazy val bpe1Sql: String =
    s"""WITH $bpeTrainCtesS
       |${(1 to BpeMerges).map(r =>
          s"""SELECT $r AS rank, l AS "left", r AS "right", pf AS pair_freq FROM top_$r""")
         .mkString("\nUNION ALL\n")}""".stripMargin

  /** bpe2: the training chain's end state w_N IS each distinct word's
    * encoded form (merges apply per word in rank order either way), so
    * the encode oracle reads symbol counts off w_N and aggregates per
    * document. */
  lazy val bpe2Sql: String =
    s"""WITH $bpeTrainCtesS,
       |wcnt AS MATERIALIZED (SELECT w, CAST(len(${bpeSymsS("s")}) AS BIGINT) AS nsym,
       |  CAST(length(w) AS BIGINT) AS nchar FROM w_$BpeMerges),
       |per AS (SELECT doc_id AS pdoc, count(*) AS n_tokens,
       |  CAST(sum(nsym) AS BIGINT) AS n_symbols, CAST(sum(nchar) AS BIGINT) AS nc
       |  FROM (SELECT doc_id, unnest(tk) AS w FROM toks) dt
       |  JOIN wcnt USING (w) GROUP BY 1)
       |SELECT d.doc_id, coalesce(per.n_tokens, 0) AS n_tokens,
       |  coalesce(per.n_symbols, 0) AS n_symbols,
       |  CASE WHEN coalesce(per.n_symbols, 0) = 0 THEN 0.0
       |    ELSE floor(CAST(per.nc AS DOUBLE) / per.n_symbols * 10000.0 + 0.5) / 10000.0 END AS compression
       |FROM documents d LEFT JOIN per ON d.doc_id = per.pdoc""".stripMargin

  // ---- ppl1_unigram_nll -----------------------------------------------

  /** Unigram-LM perplexity quality filter (CCNet shape). */
  def ppl1UnigramNll(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramNll(Tables.documents(s, d).select("doc_id", "text"),
      "text")

  // ---- nb1_naive_bayes ------------------------------------------------

  /** nb1_naive_bayes — a TRAINED classifier as one distributed query:
    * multinomial Naive Bayes language ID, trained on the labeled
    * corpus and evaluated on it (the learned upgrade of t3's fixed
    * marker list), reported as a confusion matrix. The determinism
    * trick that makes a float-log model hash-comparable: every log
    * term — prior ln(D_l/D) and add-one likelihood ln((c+1)/(T_l+V)) —
    * is QUANTIZED ONCE to floor(ln·1e6) (an integer "millinat" grid);
    * per-doc scores are then INTEGER sums Σ tf·llq, immune to
    * addition order, and argmax ties break on lang name. Train =
    * two aggregations off one tokenize pass; score = doc-tf × L langs
    * left-joined to the count table (unseen tokens coalesce to the
    * smoothing floor) — work is L·Σtf, never corpus × vocab. */
  def nb1NaiveBayes(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      graft.operators.Embed.tokens(col("text")).as("tk"))
    val tf = graft.Dist.spread(docs).select(col("doc_id"), col("lang"),
        explode(col("tk")).as("t"))
      .groupBy("doc_id", "lang", "t").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // consumed by training counts AND scoring
    val cLT = tf.groupBy("lang", "t").agg(sum("tf").as("c"))
    val tL = cLT.groupBy("lang").agg(sum("c").as("tl"))
    val vocab = cLT.select("t").distinct().agg(count(lit(1)).as("v"))
    val dL = docs.groupBy("lang").agg(count(lit(1)).as("dl"))
    val dTot = dL.agg(sum("dl").as("dtot"))
    // quantized log tables (small: L rows and L×V rows)
    val priors = dL.crossJoin(broadcast(dTot))
      .select(col("lang").as("ml"),
        floor(log(col("dl").cast("double") / col("dtot").cast("double"))
          * 1e6).cast("long").as("prior_q"))
    val lik = cLT.join(tL, "lang").crossJoin(broadcast(vocab))
      .select(col("lang").as("ml"), col("t"),
        floor(log((col("c") + 1).cast("double")
          / (col("tl") + col("v")).cast("double")) * 1e6).cast("long")
          .as("llq"))
    val floorQ = tL.crossJoin(broadcast(vocab))
      .select(col("lang").as("ml"),
        floor(log(lit(1.0) / (col("tl") + col("v")).cast("double")) * 1e6)
          .cast("long").as("floor_q"))
    // score every doc against every model lang
    val scored = tf.crossJoin(broadcast(floorQ))
      .join(broadcast(lik), Seq("ml", "t"), "left")
      .withColumn("term", col("tf") * coalesce(col("llq"), col("floor_q")))
      .groupBy("doc_id", "lang", "ml").agg(sum("term").as("ll"))
      .join(broadcast(priors), "ml")
      .withColumn("score", col("ll") + col("prior_q"))
    // per-doc argmax as min_by over (−score, ml): score is an integer
    // (quantized millinats) so negation is exact, and ml breaks ties
    // ascending — identical to the rank-1 window it replaces, minus the
    // per-partition sort and with map-side partial aggregation
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(min_by(col("ml"),
        struct((-col("score")).as("__ns"), col("ml"))).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val nb1Sql: String =
    s"""WITH $toksCte,
       |tf AS (SELECT doc_id, lang, t, count(*) AS tf
       |       FROM (SELECT tk0.doc_id, dd.lang, unnest(tk0.tk) AS t
       |             FROM toks tk0 JOIN documents dd USING (doc_id)) x
       |       GROUP BY 1, 2, 3),
       |clt AS (SELECT lang, t, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1, 2),
       |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM clt GROUP BY 1),
       |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM clt),
       |dl AS (SELECT lang, count(*) AS dl FROM documents GROUP BY 1),
       |dtot AS (SELECT CAST(sum(dl) AS BIGINT) AS dtot FROM dl),
       |priors AS (SELECT lang AS ml,
       |             CAST(floor(ln(CAST(dl AS DOUBLE) / CAST(dtot AS DOUBLE))
       |                        * 1000000.0) AS BIGINT) AS prior_q
       |           FROM dl, dtot),
       |lik AS (SELECT clt.lang AS ml, t,
       |          CAST(floor(ln(CAST(c + 1 AS DOUBLE) / CAST(tl + v AS DOUBLE))
       |                     * 1000000.0) AS BIGINT) AS llq
       |        FROM clt JOIN tl USING (lang), voc),
       |flr AS (SELECT lang AS ml,
       |          CAST(floor(ln(1.0 / CAST(tl + v AS DOUBLE)) * 1000000.0) AS BIGINT) AS floor_q
       |        FROM tl, voc),
       |scored AS (
       |  SELECT tf.doc_id, tf.lang, f.ml,
       |    CAST(sum(tf.tf * coalesce(l.llq, f.floor_q)) AS BIGINT) + any_value(p.prior_q) AS score
       |  FROM tf CROSS JOIN flr f
       |  LEFT JOIN lik l ON l.ml = f.ml AND l.t = tf.t
       |  JOIN priors p ON p.ml = f.ml
       |  GROUP BY 1, 2, 3),
       |pred AS (SELECT doc_id, lang, ml AS pred_lang,
       |           row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY score DESC, ml ASC) AS rn
       |         FROM scored)
       |SELECT lang, pred_lang, count(*) AS n_docs
       |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin

  // ---- pmi1_collocations ----------------------------------------------

  /** pmi1_collocations — pointwise mutual information collocation
    * extraction: PMI(w1,w2) = ln(T·c12/(c1·c2)) over adjacent-token
    * bigrams with c12 ≥ 5 (the min-count guard against PMI's
    * rare-pair bias). The products T·c12 and c1·c2 are computed in
    * DECIMAL(38,0) — at 100 TB token counts c1·c2 overflows a BIGINT
    * (jc1's lesson) — then cast to double for the single ln; 4-dp
    * rounding absorbs the last ulp (ppl1's policy). Counts all derive
    * from one tokenize pass; the scoring join keys the head/tail
    * token — posting-list-bounded. */
  def pmi1Collocations(s: SparkSession, d: String): DataFrame = {
    val base = graft.Dist.spread(
        Tables.documents(s, d).select(col("doc_id"),
          graft.operators.Embed.tokens(col("text")).as("tk")))
      .filter(size(col("tk")) >= 2)
      .localCheckpoint() // consumed twice: bigram and unigram counts
    val bg = base.select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5)
      .withColumn("w1", element_at(split(col("b"), " "), 1))
      .withColumn("w2", element_at(split(col("b"), " "), 2))
    val uni = base.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // joined twice (head + tail token)
    val tot = uni.agg(sum("c").as("t"))
    bg.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("b").as("bigram"), col("c12"),
        // + 0.0 canonicalizes IEEE -0.0 (m6's rule): a bigram whose
        // lift is exactly 1 rounds to ±0.0 depending on which side of
        // 1.0 the quotient lands in each engine — surfaced at the sf1
        // gate ('customer merge', lift exactly 1 there)
        (round(log((col("t").cast("decimal(38,0)") * col("c12")).cast("double")
          / (col("c1").cast("decimal(38,0)") * col("c2")).cast("double")), 4)
          + lit(0.0)).as("pmi"))
  }

  val pmi1Sql: String =
    s"""WITH $toksCte,
       |t2 AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 2),
       |bg AS (SELECT b, count(*) AS c12,
       |         string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2
       |       FROM (SELECT unnest(list_transform(range(1, len(tk)),
       |               i -> tk[i] || ' ' || tk[i+1])) AS b FROM t2)
       |       GROUP BY 1 HAVING count(*) >= 5),
       |uni AS (SELECT w, count(*) AS c
       |        FROM (SELECT unnest(tk) AS w FROM t2) GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni)
       |SELECT bg.b AS bigram, bg.c12,
       |  round(ln(CAST(CAST(t AS DECIMAL(38,0)) * c12 AS DOUBLE)
       |           / CAST(CAST(u1.c AS DECIMAL(38,0)) * u2.c AS DOUBLE)), 4)
       |    + 0.0 AS pmi
       |FROM bg JOIN uni u1 ON bg.w1 = u1.w
       |        JOIN uni u2 ON bg.w2 = u2.w
       |        CROSS JOIN tot""".stripMargin

  // ---- ppl2_bigram_nll ------------------------------------------------

  /** Bigram-LM perplexity filter (add-one smoothing) — see
    * TextAnalysis.bigramNll. */
  def ppl2BigramNll(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramNll(Tables.documents(s, d).select("doc_id", "text"),
      "text")

  val ppl2Sql: String =
    s"""WITH $toksCte,
       |t2 AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 2),
       |bgx AS (SELECT doc_id,
       |          unnest(list_transform(range(1, len(tk)),
       |            i -> tk[i] || ' ' || tk[i+1])) AS b
       |        FROM t2),
       |bf AS (SELECT doc_id, b, count(*) AS tf FROM bgx GROUP BY 1, 2),
       |c12 AS (SELECT b, CAST(sum(tf) AS BIGINT) AS c12,
       |          string_split(b, ' ')[1] AS w1
       |        FROM bf GROUP BY 1),
       |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
       |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vsz
       |        FROM (SELECT unnest(tk) AS t FROM t2))
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |  round(sum(-ln((c12 + 1)::DOUBLE / (c1 + vsz)::DOUBLE) * tf)
       |        / sum(tf), 4) AS avg_nll
       |FROM bf JOIN c12 USING (b) JOIN c1 USING (w1) CROSS JOIN voc
       |GROUP BY 1""".stripMargin

  val ppl1Sql: String =
    s"""WITH $toksCte,
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM (
       |         SELECT doc_id, unnest(tk) AS t FROM toks WHERE len(tk) > 0)
       |       GROUP BY 1, 2),
       |tc AS (SELECT t, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM tc),
       |per AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |          round(sum(-ln(c::DOUBLE / tt) * tf) / sum(tf), 4) AS avg_nll
       |        FROM tf JOIN tc USING (t) CROSS JOIN tot GROUP BY 1)
       |SELECT doc_id, n_tokens, avg_nll,
       |  CASE WHEN avg_nll < ${TextAnalysis.NllMidCut} THEN 'head'
       |       WHEN avg_nll < ${TextAnalysis.NllHighCut} THEN 'middle'
       |       ELSE 'tail' END AS ppl_band
       |FROM per""".stripMargin
}
