package graft.queries

import graft.functions.Hashing
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The training-data-pipeline extension surface (dedup, similarity
  * search, text analysis, sessionization, multimodal plumbing) as named
  * queries with DuckDB oracles — same parity conventions as C45Queries.
  *
  * Pairwise queries bound their input (`doc_id/vec_id < 1000`) IN THE
  * QUERY (mirrored in the oracle): the testdata vocabulary is 31 words,
  * so similarity joins degenerate toward n² candidate pairs — the bound
  * keeps the bench workload honest while the operators themselves stay
  * scale-shaped (bucketed candidate generation + verify). */
object ExtQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
  private def r6(c: Column): Column = round(c, 6)

  /** Half-up rounding spelled as explicit float ops so BOTH engines
    * compute bit-identical results even when the value sits EXACTLY on
    * a .5 decimal boundary (dyadic ratios like 130.2/128 do — Spark's
    * BigDecimal HALF_UP and DuckDB's round() disagree there). */
  private def r6x(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  private def r6xSql(x: String): String = s"floor(($x) * 1000000 + 0.5) / 1000000"

  private val SplitToksSql = "string_split_regex(trim(text), '\\s+')"
  private val SplitToksLowerSql = "string_split_regex(trim(lower(text)), '\\s+')"

  // ---- text statistics (token counting, quality scoring) ----
  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val c = col("text")
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(c).cast("long").as("n_tokens"),
      TextAnalysis.wordTokenCount(c).cast("long").as("n_wtokens"),
      TextAnalysis.punctCount(c).cast("long").as("n_punct"),
      r6x(TextAnalysis.stopwordRatio(c)).as("stop_ratio"),
      r6x(TextAnalysis.avgTokenLen(c)).as("avg_tok_len"),
      r6x(TextAnalysis.qualityScore(c)).as("quality"))
      .orderBy("doc_id")
  }
  val qTextStatsSql: String = {
    val toks = SplitToksSql
    val stopRatio = s"len(list_filter($toks, t -> list_contains(['the','a','of','and','to','is'], t)))::DOUBLE / len($toks)"
    val punct = """len(regexp_extract_all(text, '[.,!?;:''"()\[\]{}-]'))"""
    val avgLen = s"length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE / len($toks)"
    s"""SELECT doc_id,
       |  len($toks) AS n_tokens,
       |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_wtokens,
       |  $punct AS n_punct,
       |  ${r6xSql(stopRatio)} AS stop_ratio,
       |  ${r6xSql(avgLen)} AS avg_tok_len,
       |  ${r6xSql(s"$stopRatio * 2.0 + (1.0 - $punct::DOUBLE / length(text)) - abs($avgLen - 5.0) / 10.0")} AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- language ID (stopword-hit argmax heuristic) ----
  def qLangId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.langGuess(col("text")).as("lang_guess"))
      .orderBy("doc_id")
  val qLangIdSql: String = {
    val hits = TextAnalysis.StopWords.map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($SplitToksSql, t -> list_contains($lst, t))) AS h_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.StopWords.map(_._1)
    val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
    s"""WITH h AS (SELECT doc_id, $hits FROM documents),
       |m AS (SELECT doc_id, *, $mx AS mx FROM h)
       |SELECT doc_id, CASE WHEN mx = 0 THEN 'und' $cases END AS lang_guess
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- document fingerprinting (canonical token set + rolling-min sketch) ----
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.docSignature(col("text")).as("sig"))
      .orderBy("doc_id")
  val qFingerprintSql: String =
    s"""SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct($SplitToksLowerSql)), ' ')) AS fp,
       |  list_min([${Hashing.hash60Sql("t")} FOR t IN list_distinct($SplitToksLowerSql)]) AS sig
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- test-set decontamination (word-3-gram overlap vs a held-out
  //      slice; doc_id < 50 stands in for the benchmark set) ----
  private val DecontamN = 3
  private val DecontamThreshold = 0.5
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.testSetOverlap(
      d.filter(col("doc_id") >= 50), "doc_id", "text",
      d.filter(col("doc_id") < 50), "text", n = DecontamN)
      .filter(col("overlap") >= DecontamThreshold)
      .select(col("id").as("doc_id"), col("n_shared"), col("n_ngrams"),
        r6x(col("overlap")).as("overlap"))
      .orderBy("doc_id")
  }
  val qDecontaminateSql: String = {
    val gram = "tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]"
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
       |g AS (SELECT doc_id, CASE WHEN len(tk) >= $DecontamN THEN
       |    list_distinct(list_transform(generate_series(1, len(tk) - ${DecontamN - 1}), i -> $gram))
       |  ELSE []::VARCHAR[] END AS gs FROM t),
       |tr AS (SELECT doc_id AS id, unnest(gs) AS s FROM g WHERE doc_id >= 50),
       |te AS (SELECT DISTINCT unnest(gs) AS s FROM g WHERE doc_id < 50),
       |cnt AS (SELECT id, count(*) AS n_ngrams FROM tr GROUP BY 1),
       |sh AS (SELECT id, count(*) AS n_shared FROM tr JOIN te USING (s) GROUP BY 1),
       |j AS (SELECT cnt.id, coalesce(n_shared, 0) AS n_shared, n_ngrams
       |  FROM cnt LEFT JOIN sh USING (id))
       |SELECT id AS doc_id, n_shared, n_ngrams,
       |  ${r6xSql("n_shared::DOUBLE / n_ngrams")} AS overlap
       |FROM j WHERE n_shared::DOUBLE / n_ngrams >= $DecontamThreshold
       |ORDER BY doc_id""".stripMargin
  }

  // ---- Unicode NFC normalization (native expression; testdata is
  //      ASCII = already NFC, so the e2e oracle checks the identity
  //      path — real composition is pinned in ExpressionsSpec) ----
  def qNormalize(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      graft.functions.NfcNormalize.nfc(col("text")).as("text_nfc"),
      length(graft.functions.NfcNormalize.nfc(col("text"))).cast("long")
        .as("n_chars_nfc"))
      .orderBy("doc_id")
  val qNormalizeSql: String =
    """SELECT doc_id, nfc_normalize(text) AS text_nfc,
      |  length(nfc_normalize(text)) AS n_chars_nfc
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- exact dedup (hash groupBy) ----
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text").orderBy("text_hash")
  val qDedupExactSql: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- typo/variant mining: edit-distance-1 pairs over the corpus
  //      vocabulary (FastSS deletion-neighborhood join — key-equality
  //      candidates on O(len) deletion variants, never the n² cross
  //      join, exact levenshtein verify). The synthetic vocabulary is
  //      typo-free, so the query PLANTS one deterministic deletion
  //      typo for half the tokens (hash-chosen position, mirrored in
  //      the oracle) and the miner must recover every (clean, dirty)
  //      pair — plus any incidental pairs the planted forms create
  //      with each other. ----
  def qTypoPairs(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 4)
      .distinct()
    val h = Hashing.hash60(col("tok"))
    val p = (h % length(col("tok"))).cast("int") // deleted position (0-based)
    val dirty = toks.filter(h % 2 === 0)
      .select(concat(col("tok").substr(lit(1), p),
        col("tok").substr(p + lit(2), length(col("tok")))).as("tok"))
    val vocab = toks.union(dirty).distinct()
    Dedup.editDistanceOnePairs(vocab, "tok").orderBy("tok_a", "tok_b")
  }
  val qTypoPairsSql: String = {
    val h = Hashing.hash60Sql("tok")
    val pos = s"CAST($h % length(tok) AS INT)"
    s"""WITH t AS (SELECT DISTINCT unnest($SplitToksLowerSql) AS tok FROM documents),
       |t4 AS (SELECT tok FROM t WHERE length(tok) >= 4),
       |d AS (SELECT substr(tok, 1, $pos) || substr(tok, $pos + 2) AS tok
       |  FROM t4 WHERE $h % 2 = 0),
       |v0 AS (SELECT DISTINCT tok FROM (SELECT tok FROM t4 UNION ALL SELECT tok FROM d)),
       |var AS (SELECT tok, substr(tok, 1, i) || substr(tok, i + 2) AS v
       |  FROM v0, unnest(generate_series(0, length(tok))) AS u(i)),
       |c AS (SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
       |  FROM var a JOIN var b ON a.v = b.v AND a.tok < b.tok)
       |SELECT tok_a, tok_b FROM c WHERE levenshtein(tok_a, tok_b) <= 1
       |ORDER BY tok_a, tok_b""".stripMargin
  }

  // ---- line-level boilerplate removal (the C4/RefinedWeb cleanup
  //      stage). The documents table is single-line, so the corpus
  //      view builds multi-line "pages" (5 docs per page, ordered by
  //      doc_id, with injected header/footer chrome) — cross-page
  //      repeated lines then exist at EVERY tier (the chrome), plus
  //      the corpus's real duplicate texts at sf0.1+. The operator
  //      drops lines with doc-frequency >= 2 from every page while
  //      preserving line order; pages keep their row even when
  //      everything but chrome is unique ----
  def qDedupLines(s: SparkSession, dir: String): DataFrame = {
    val pages = docs(s, dir)
      .groupBy(expr("doc_id div 5").as("page_id"))
      .agg(concat(lit("=== header ===\n"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n"),
        lit("\n=== footer ===")).as("text"))
    Dedup.dedupLines(pages, "page_id", "text", maxDocFreq = 2)
      .orderBy("page_id")
  }
  val qDedupLinesSql: String =
    """WITH pages AS (
      |  SELECT doc_id // 5 AS page_id,
      |         '=== header ===' || chr(10) || string_agg(text, chr(10) ORDER BY doc_id)
      |           || chr(10) || '=== footer ===' AS text
      |  FROM documents GROUP BY 1),
      |l AS (SELECT page_id, unnest(list_distinct(string_split(text, chr(10)))) AS line
      |      FROM pages),
      |flagged AS (SELECT line FROM (SELECT line, count(*) AS df FROM l GROUP BY 1)
      |            WHERE df >= 2),
      |fl AS (SELECT coalesce(list(line), []) AS arr FROM flagged)
      |SELECT page_id,
      |  -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
      |  -- Spark's array_join is '' — an all-boilerplate page is ''
      |  coalesce(array_to_string(list_filter(string_split(text, chr(10)),
      |    x -> NOT list_contains(fl.arr, x)), chr(10)), '') AS clean_text,
      |  len(list_filter(string_split(text, chr(10)),
      |    x -> NOT list_contains(fl.arr, x))) AS n_kept,
      |  len(string_split(text, chr(10))) - len(list_filter(string_split(text, chr(10)),
      |    x -> NOT list_contains(fl.arr, x))) AS n_dropped
      |FROM pages, fl ORDER BY page_id""".stripMargin

  // ---- fingerprint dedup (order/repetition-insensitive) ----
  def qDedupFp(s: SparkSession, dir: String): DataFrame =
    Dedup.byFingerprint(docs(s, dir), "doc_id", "text").orderBy("fp")
  val qDedupFpSql: String =
    s"""SELECT md5(array_to_string(list_sort(list_distinct($SplitToksLowerSql)), ' ')) AS fp,
       |  count(*) AS n_docs, min(doc_id) AS min_doc_id
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- cross-document duplicate-substring screen (windowed
  //      exact-substring dedup: 40-char windows, stride 10) ----
  private val DupWin = 40
  private val DupStride = 10
  def qSubstringDup(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateWindows(docs(s, dir), "doc_id", "text", DupWin, DupStride)
      .orderBy("doc_id")
  val qSubstringDupSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) >= $DupWin),
       |w AS (SELECT doc_id, unnest(generate_series(0, len(text) - $DupWin, $DupStride)) AS off, text FROM d),
       |h AS (SELECT doc_id, md5(substr(text, off + 1, $DupWin)) AS wh FROM w),
       |dup AS (SELECT wh FROM h GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
       |per AS (SELECT h.doc_id, count(*) AS n_windows, count(dup.wh) AS n_dup_windows
       |  FROM h LEFT JOIN dup USING (wh) GROUP BY 1)
       |SELECT doc_id, n_windows, n_dup_windows,
       |  ${r6xSql("n_dup_windows::DOUBLE / n_windows")} AS dup_ratio
       |FROM per ORDER BY doc_id""".stripMargin

  // ---- span-level duplicate EXCISION (the rewrite stage of
  //      exact-substring dedup): same 40-char/stride-10 windows as
  //      q_substring_dup, but documents come back REWRITTEN with the
  //      cross-doc duplicated spans removed (overlapping/adjacent
  //      windows merged). The oracle reconstructs each affected doc
  //      character-by-character (kept = positions covered by no
  //      duplicated window) — O(len) per doc, fine at every tier on
  //      the ~300-char documents — while the Spark side is the
  //      map-side gap-carving fold. ----
  def qSubstringExcise(s: SparkSession, dir: String): DataFrame =
    Dedup.exciseDuplicateWindows(docs(s, dir), "doc_id", "text",
        DupWin, DupStride)
      .orderBy("doc_id")
  val qSubstringExciseSql: String =
    s"""WITH d AS (SELECT doc_id, text, len(text) AS ln FROM documents),
       |w AS (SELECT doc_id, unnest(generate_series(0, ln - $DupWin, $DupStride)) AS off, text
       |  FROM d WHERE ln >= $DupWin),
       |h AS (SELECT doc_id, off, md5(substr(text, off + 1, $DupWin)) AS wh FROM w),
       |dup AS (SELECT wh FROM h GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
       |dw AS (SELECT h.doc_id, h.off FROM h JOIN dup USING (wh)),
       |sp AS (SELECT doc_id, count(*) FILTER (
       |    WHERE prevmax IS NULL OR off > prevmax + $DupWin) AS n_spans
       |  FROM (SELECT doc_id, off, max(off) OVER (PARTITION BY doc_id ORDER BY off
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM dw)
       |  GROUP BY 1),
       |rm AS (SELECT DISTINCT doc_id, unnest(generate_series(off + 1, off + $DupWin)) AS p FROM dw),
       |ch AS (SELECT d.doc_id, unnest(generate_series(1, d.ln)) AS p, d.text
       |  FROM d WHERE d.doc_id IN (SELECT doc_id FROM dw)),
       |nt AS (SELECT ch.doc_id,
       |    coalesce(string_agg(substr(ch.text, ch.p, 1), '' ORDER BY ch.p), '') AS clean_text
       |  FROM ch LEFT JOIN rm ON ch.doc_id = rm.doc_id AND ch.p = rm.p
       |  WHERE rm.p IS NULL GROUP BY 1)
       |SELECT d.doc_id,
       |  CASE WHEN sp.n_spans IS NULL THEN d.text ELSE coalesce(nt.clean_text, '') END AS clean_text,
       |  coalesce(sp.n_spans, 0) AS n_dup_spans,
       |  d.ln - len(CASE WHEN sp.n_spans IS NULL THEN d.text ELSE coalesce(nt.clean_text, '') END) AS n_removed
       |FROM d LEFT JOIN sp USING (doc_id) LEFT JOIN nt USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- minhash signatures (k=8, one-pass aggregation) ----
  private val MinHashK = 8
  def qMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashSignatures(docs(s, dir), "doc_id", "text", MinHashK)
      .withColumnRenamed("id", "doc_id").orderBy("doc_id")
  val qMinhashSql: String = {
    val p = Dedup.MinHashMod
    val h0 = s"(CAST(('0x' || substr(d, 1, 15)) AS BIGINT) % $p)"
    val h1 = s"(CAST(('0x' || substr(d, 16, 15)) AS BIGINT) % $p)"
    val mins = (0 until MinHashK).map(i =>
      s"list_min([($h0 + $i * $h1) % $p FOR d IN ds]) AS m$i")
      .mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id,
       |  [md5(concat('0|', tok)) FOR tok IN list_distinct($SplitToksLowerSql)] AS ds
       |  FROM documents)
       |SELECT doc_id,\n  $mins\nFROM t ORDER BY doc_id""".stripMargin
  }

  // ---- exact n-gram (token-set) Jaccard similarity join, with the
  //      corpus-dedup stopword-shingle heuristic: shingles present in
  //      > 400 of the (up to 1000) docs are dropped from the sets
  //      before the join — they carry no dedup signal and fan the
  //      candidate join toward n². Cap mirrored in the oracle; the
  //      uncapped path keeps its exactness spec in ExtOpsSpec. ----
  private val ShingleDfCap = 400L
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
      n = 1, threshold = 0.8, maxShingleDf = ShingleDfCap)
      .select(col("i"), col("j"), r6(col("jaccard")).as("jaccard"))
      .orderBy("i", "j")
  /** Shared oracle CTEs: df-capped exploded shingles + post-cap sizes. */
  private val CappedShinglesSql: String =
    s"""sh0 AS (SELECT doc_id AS id, unnest(list_distinct($SplitToksLowerSql)) AS tok
       |  FROM documents WHERE doc_id < 1000),
       |keep AS (SELECT tok FROM sh0 GROUP BY 1 HAVING count(*) <= $ShingleDfCap),
       |ex AS (SELECT id, tok FROM sh0 JOIN keep USING (tok)),
       |sz AS (SELECT id, count(*) AS sz FROM ex GROUP BY 1),
       |common AS (SELECT a.id AS i, b.id AS j, count(*) AS c
       |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)""".stripMargin
  val qNgramJaccardSql: String =
    s"""WITH $CappedShinglesSql
       |SELECT i, j, round(c::DOUBLE / (si.sz + sj.sz - c), 6) AS jaccard
       |FROM common JOIN sz si ON si.id = i JOIN sz sj ON sj.id = j
       |WHERE c::DOUBLE / (si.sz + sj.sz - c) >= 0.8
       |ORDER BY i, j""".stripMargin

  // ---- asymmetric CONTAINMENT pairs — the duplication symmetric
  //      Jaccard is blind to: a short doc pasted inside a 10x longer
  //      one has Jaccard ~0.1 but containment ~1.0 (quote inclusion,
  //      boilerplate wrapping, doc-inside-doc copying). Word
  //      3-gram sets (phrase-level sharing, not vocabulary overlap),
  //      df-capped like every shingle pipeline, same bounded slice
  //      as q_ngram_jaccard; sizes are post-cap by contract ----
  private val ContN = 3
  private val ContMinShared = 5L
  private val ContThreshold = 800000L
  def qContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
        n = ContN, minShared = ContMinShared,
        contMicrosThreshold = ContThreshold, maxShingleDf = ShingleDfCap)
      .orderBy("i", "j")
  val qContainmentSql: String = {
    val gram = "tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]"
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
       |  FROM documents WHERE doc_id < 1000),
       |g AS (SELECT doc_id AS id, CASE WHEN len(tk) >= $ContN THEN
       |    list_distinct(list_transform(generate_series(1, len(tk) - ${ContN - 1}), i -> $gram))
       |  ELSE []::VARCHAR[] END AS gs FROM t),
       |sg AS (SELECT id, unnest(gs) AS s FROM g),
       |kp AS (SELECT s FROM sg GROUP BY 1 HAVING count(*) <= $ShingleDfCap),
       |ec AS (SELECT id, s FROM sg JOIN kp USING (s)),
       |zc AS (SELECT id, count(*) AS sz FROM ec GROUP BY 1),
       |cm AS (SELECT a.id AS i, b.id AS j, count(*) AS c
       |  FROM ec a JOIN ec b ON a.s = b.s AND a.id < b.id
       |  GROUP BY 1, 2 HAVING count(*) >= $ContMinShared)
       |SELECT i, j, c AS n_shared, si.sz AS sz_i, sj.sz AS sz_j,
       |  (c * 1000000) // least(si.sz, sj.sz) AS cont_micros
       |FROM cm JOIN zc si ON si.id = i JOIN zc sj ON sj.id = j
       |WHERE (c * 1000000) // least(si.sz, sj.sz) >= $ContThreshold
       |ORDER BY i, j""".stripMargin
  }

  // ---- near-dup clustering: connected components over the exact
  //      Jaccard similarity graph (min-reachable-id labels) ----
  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
        n = 1, threshold = 0.8, maxShingleDf = ShingleDfCap))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val qDedupClustersSql: String =
    s"""WITH RECURSIVE $CappedShinglesSql,
       |pairs AS (
       |  SELECT i, j FROM common
       |  JOIN sz si ON si.id = i JOIN sz sj ON sj.id = j
       |  WHERE c::DOUBLE / (si.sz + sj.sz - c) >= 0.8),
       |edges AS (SELECT i AS src, j AS dst FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id)
       |SELECT id AS doc_id, min(lbl) AS cluster_id
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- end-to-end near-dup removal: pair mining → connected
  //      components → keep each cluster's canonical (min-id) member.
  //      The dedup pipeline's actual deliverable — the corpus you
  //      train on — not just the pair/cluster diagnostics ----
  def qDedupApply(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 1000)
    Dedup.keepCanonical(d, "doc_id",
      Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 1, threshold = 0.8, maxShingleDf = ShingleDfCap))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }
  val qDedupApplySql: String =
    s"""WITH RECURSIVE $CappedShinglesSql,
       |pairs AS (
       |  SELECT i, j FROM common
       |  JOIN sz si ON si.id = i JOIN sz sj ON sj.id = j
       |  WHERE c::DOUBLE / (si.sz + sj.sz - c) >= 0.8),
       |edges AS (SELECT i AS src, j AS dst FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
       |losers AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) <> id)
       |SELECT doc_id, lang, source, n_chars FROM documents d
       |WHERE doc_id < 1000
       |  AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- contamination ATTRIBUTION: q_decontaminate (above, via
  //      Dedup.testSetOverlap) answers "which corpus docs are
  //      contaminated?"; this answers the reviewer's next question —
  //      "by WHICH benchmark item?" Per contaminated doc: distinct
  //      shared 3-grams, contamination ratio, and the single
  //      worst-overlapping benchmark doc (argmax, ties to the smaller
  //      id). Same benchmark slice as the screen (doc_id < 50); the
  //      per-item gram table broadcasts — eval sets are MBs against a
  //      100 TB corpus ----
  def qContamAttrib(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.ngramContamination(
        d.filter(col("doc_id") >= 50 && col("doc_id") < 1000),
        "doc_id", "text",
        d.filter(col("doc_id") < 50), "doc_id", "text",
        n = DecontamN)
      .select(col("id").as("doc_id"), col("n_hits"), col("total_grams"),
        col("contamination_micros"), col("worst_bench_id"),
        col("worst_overlap"))
      .orderBy("doc_id")
  }
  val qContamAttribSql: String = {
    val gram = "concat_ws(' ', tk[i], tk[i+1], tk[i+2])"
    s"""WITH tkb AS (SELECT doc_id AS bid, $SplitToksLowerSql AS tk
       |  FROM documents WHERE doc_id < 50),
       |bg AS (SELECT DISTINCT bid, $gram AS gram
       |  FROM tkb, UNNEST(generate_series(1, len(tk) - ${DecontamN - 1})) AS s(i)),
       |tkc AS (SELECT doc_id AS id, $SplitToksLowerSql AS tk
       |  FROM documents WHERE doc_id >= 50 AND doc_id < 1000),
       |cg AS (SELECT DISTINCT id, $gram AS gram
       |  FROM tkc, UNNEST(generate_series(1, len(tk) - ${DecontamN - 1})) AS s(i)),
       |sz AS (SELECT id, count(*) AS total_grams FROM cg GROUP BY 1),
       |hits AS (SELECT cg.id, bg.bid, cg.gram FROM cg JOIN bg USING (gram)),
       |pd AS (SELECT id, count(DISTINCT gram) AS n_hits FROM hits GROUP BY 1),
       |pp AS (SELECT id, bid, count(DISTINCT gram) AS c FROM hits GROUP BY 1, 2),
       |wb AS (SELECT id, bid AS worst_bench_id, c AS worst_overlap FROM (
       |  SELECT id, bid, c, row_number() OVER (PARTITION BY id
       |    ORDER BY c DESC, bid ASC) AS rn FROM pp) WHERE rn = 1)
       |SELECT pd.id AS doc_id, n_hits, total_grams,
       |  CAST(floor(n_hits::DOUBLE / total_grams::DOUBLE * 1000000.0 + 0.5)
       |    AS BIGINT) AS contamination_micros,
       |  worst_bench_id, worst_overlap
       |FROM pd JOIN wb ON pd.id = wb.id JOIN sz ON pd.id = sz.id
       |ORDER BY doc_id""".stripMargin
  }

  // ---- minhash-LSH near-dup pairs (candidate gen + exact verify);
  //      recall < 1 by construction → rows-only check ----
  def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairs(
      docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
      k = 16, rowsPerBand = 2, threshold = 0.5, maxShingleDf = ShingleDfCap)
      .select(col("i"), col("j"), r6(col("jaccard")).as("jaccard"))
      .orderBy("i", "j")

  /** Full SQL oracle for [[qMinhashLsh]]: the banding is pure
    * md5-derived arithmetic, so the WHOLE pipeline — capped shingles →
    * Carter-Wegman signatures → band hashes → candidate self-join →
    * exact-Jaccard verify — replays in DuckDB and hash-matches. */
  /** Shared CTE chain for the LSH near-dup PAIR GRAPH: capped
    * shingles → Carter-Wegman signatures → band hashes → candidate
    * self-join → exact-Jaccard verify, ending at
    * `prs(i, j, jaccard)` at threshold 0.5. MATERIALIZED at `prs`:
    * graph consumers (edge doubling, iterative ranks) reference it
    * repeatedly and default CTE inlining would replay the whole LSH
    * pipeline per reference. */
  private def lshPairsCtes(): String = {
    val p = Dedup.MinHashMod
    val k = 16
    val rows = 2
    val mins = (0 until k).map(i => s"min((h0 + $i * h1) % $p) AS m$i")
      .mkString(",\n  ")
    val bandSel = (0 until k / rows).map { b =>
      val bandExpr = (0 until rows)
        .map(r => s"m${b * rows + r}::VARCHAR").mkString(" || '|' || ")
      s"SELECT id, $b AS band, ${Hashing.hash60Sql(bandExpr, 1000 + b)} AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$CappedShinglesSql,
       |hh AS (SELECT id,
       |    CAST(('0x' || substr(d, 1, 15)) AS BIGINT) % $p AS h0,
       |    CAST(('0x' || substr(d, 16, 15)) AS BIGINT) % $p AS h1
       |  FROM (SELECT id, md5(concat('0|', tok)) AS d FROM ex)),
       |sig AS (SELECT id, $mins FROM hh GROUP BY 1),
       |bands AS ($bandSel),
       |cands AS (SELECT DISTINCT a.id AS i, b.id AS j FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
       |prs AS MATERIALIZED (SELECT i, j, round(c::DOUBLE / (si.sz + sj.sz - c), 6) AS jaccard
       |  FROM cands JOIN common USING (i, j)
       |  JOIN sz si ON si.id = i JOIN sz sj ON sj.id = j
       |  WHERE c::DOUBLE / (si.sz + sj.sz - c) >= 0.5)""".stripMargin
  }
  /** Session-memoized LSH near-dup pair mine over the bounded
    * doc_id < 1000 slice — the IDENTICAL verified pair table that eight
    * queries consume (q_dedup_eval's candidate side, q_pagerank,
    * q_label_prop, q_triangles, q_kcore, q_bfs_hops, q_link_pred,
    * q_dbscan_lsh). The mine (shingle cap → signatures → banding →
    * candidate join → exact verify) runs in one task on a slice this
    * size (a gate job and one shuffle, [[Dedup.minHashLshPairs]]); the
    * memo spares the later consumers in one session even that (Bench
    * resets it before every timed rep, so each timed query mines
    * once). The slice is ≤ 1000 docs at EVERY scale
    * factor, so the verified pair table is bounded (thousands of
    * rows); memoizing the COLLECTED pairs keyed by data dir and
    * replaying them as a local DataFrame is safe at any SF and changes
    * cost, never content — the mine is pure md5 arithmetic, fully
    * deterministic. q_minhash_lsh itself stays on the live miner: it
    * is the query that MEASURES the mine. */
  /** Memo bound: each entry is the verified pair array of one bounded
    * slice (≤ 1000 docs → at most a few thousand (long,long,double)
    * tuples ≈ 100 KB), but the map is keyed per data dir and a
    * long-lived driver cycling many corpora would otherwise grow it
    * for the JVM's lifetime — a small access-order LRU keeps the HOT
    * dirs and evicts the least-recently-read one past the cap, so
    * round-robin cycling over cap+1 dirs cannot thrash the entry
    * about to be reused (re-mining is correct either way, just
    * slower). */
  private val LshMemoMaxDirs = 8
  private val lshPairsMemo =
    new java.util.LinkedHashMap[String, Array[(Long, Long, Double)]](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[(Long, Long, Double)]]): Boolean =
        size() > LshMemoMaxDirs
    }
  graft.Memos.register(() => lshPairsMemo.synchronized(lshPairsMemo.clear()))
  private def lshDupPairs(s: SparkSession, dir: String): DataFrame = {
    // mine OUTSIDE the lock (it runs Spark jobs); a racing duplicate
    // mine is harmless — the content is deterministic by construction
    val cached = lshPairsMemo.synchronized(Option(lshPairsMemo.get(dir)))
    val rows = cached.getOrElse {
      val mined = Dedup.minHashLshPairs(
          docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
          k = 16, rowsPerBand = 2, threshold = 0.5,
          maxShingleDf = ShingleDfCap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      lshPairsMemo.synchronized(lshPairsMemo.put(dir, mined))
      mined
    }
    import s.implicits._
    s.createDataset(rows.toIndexedSeq).toDF("i", "j", "jaccard")
  }

  // ---- dedup-pipeline QA: measured RECALL of the MinHash-LSH
  //      candidate generator against the exact Jaccard truth set at
  //      the same threshold, same df-capped shingle sets, same
  //      bounded slice — the number a pipeline owner needs before
  //      trusting banded dedup at corpus scale (the 1-(1-J^r)^b
  //      curve is theory; this is the corpus's actual figure).
  //      Precision is 1 by construction (every candidate is exactly
  //      verified), so the table reports the misses: pair counts,
  //      recall in micros, and the worst (most-similar) missed pair's
  //      Jaccard — the damning one. One-row output ----
  def qDedupEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 1000)
    val truth = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 1, threshold = 0.5, maxShingleDf = ShingleDfCap)
      .select(col("i"), col("j"), r6(col("jaccard")).as("jaccard"))
    val got = lshDupPairs(s, dir)
      .select(col("i"), col("j"), lit(1L).as("__hit"))
    truth.join(got, Seq("i", "j"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        max(when(col("__hit").isNull, col("jaccard")))
          .as("worst_miss_jaccard"))
      .select(col("n_true"), col("n_hit"),
        when(col("n_true") === 0, lit(1000000L))
          .otherwise(floor(col("n_hit").cast("double") / col("n_true")
            * lit(1000000) + lit(0.5)).cast("long")).as("recall_micros"),
        col("worst_miss_jaccard"))
  }
  val qDedupEvalSql: String =
    s"""WITH ${lshPairsCtes()},
       |truth AS (SELECT i, j, round(c::DOUBLE / (si.sz + sj.sz - c), 6) AS jaccard
       |  FROM common JOIN sz si ON si.id = i JOIN sz sj ON sj.id = j
       |  WHERE c::DOUBLE / (si.sz + sj.sz - c) >= 0.5),
       |jj AS (SELECT t.jaccard, p.i IS NOT NULL AS hit
       |  FROM truth t LEFT JOIN prs p ON t.i = p.i AND t.j = p.j),
       |a AS (SELECT count(*) AS n_true,
       |    sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hit,
       |    max(CASE WHEN NOT hit THEN jaccard END) AS worst_miss_jaccard
       |  FROM jj)
       |SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_hit AS BIGINT) AS n_hit,
       |  CASE WHEN n_true = 0 THEN CAST(1000000 AS BIGINT)
       |    ELSE CAST(floor(n_hit::DOUBLE / n_true * 1000000 + 0.5) AS BIGINT)
       |  END AS recall_micros,
       |  worst_miss_jaccard
       |FROM a""".stripMargin

  val qMinhashLshSql: String =
    s"""WITH ${lshPairsCtes()}
       |SELECT i, j, jaccard FROM prs ORDER BY i, j""".stripMargin

  // ---- PageRank over the LSH near-dup graph (deterministic integer
  //      semantics): centrality-weighted ranking of the duplicate
  //      neighborhoods — the general iterative-graph shape beyond
  //      CC. Top-50 by rank; full pipeline (LSH pairs + 5
  //      unrolled rounds) replays in the oracle. VARIANT NOTE: like
  //      GraphRank.pagerank, dangling/isolated mass is NOT
  //      redistributed — nodes without out-edges decay toward the
  //      restart base instead of donating their rank to everyone, so
  //      ranks here run slightly below a textbook
  //      dangling-redistributing PageRank (the trade buys the exact
  //      integer replay both engines pin). The slice's graph fits one
  //      task, so all 5 rounds run in one task over the pair table ----
  private val PrIters = 5
  private val PrDamp = 850L
  private val PrTopK = 50
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 1000)
    val pairs = lshDupPairs(s, dir)
    val pr = GraphRank.pagerank(pairs, d, "doc_id",
      iters = PrIters, dampPermille = PrDamp)
    pr.orderBy(col("pr_picos").desc, col("id")).limit(PrTopK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("pr_picos").desc, col("id"))))
      .select(col("id").as("doc_id"), col("deg"), col("pr_picos"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("rnk")
  }
  val qPagerankSql: String = {
    val rounds = (1 to PrIters).map { r =>
      val p = r - 1
      s"""c$r AS MATERIALIZED (SELECT ed.v AS id,
         |    CAST(sum(((p.pr * $PrDamp) // 1000) // dg.deg) AS BIGINT) AS s
         |  FROM ed JOIN pr$p p ON ed.u = p.id JOIN dg ON ed.u = dg.u GROUP BY 1),
         |pr$r AS MATERIALIZED (SELECT nd.id,
         |    ((((1000 - $PrDamp) * 1000000000000) // 1000) // (SELECT n FROM nn)) + coalesce(s, 0) AS pr
         |  FROM nd LEFT JOIN c$r USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lshPairsCtes()},
       |ed AS MATERIALIZED (SELECT i AS u, j AS v FROM prs UNION ALL SELECT j AS u, i AS v FROM prs),
       |dg AS MATERIALIZED (SELECT u, count(*) AS deg FROM ed GROUP BY 1),
       |nd AS MATERIALIZED (SELECT doc_id AS id FROM documents WHERE doc_id < 1000),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nd),
       |pr0 AS MATERIALIZED (SELECT id, (1000000000000 // (SELECT n FROM nn)) AS pr FROM nd),
       |$rounds
       |SELECT r.id AS doc_id, coalesce(dg.deg, 0) AS deg, r.pr AS pr_picos, r.rnk
       |FROM (SELECT id, pr, row_number() OVER (ORDER BY pr DESC, id) AS rnk FROM pr$PrIters) r
       |LEFT JOIN dg ON r.id = dg.u
       |WHERE r.rnk <= $PrTopK ORDER BY r.rnk""".stripMargin
  }

  // ---- label propagation (Raghavan et al. 2007) over the SAME LSH
  //      near-dup graph as q_pagerank: community detection with the
  //      deterministic min-tie-break variant — the mode-voting
  //      sibling of connected components (a weak bridge between two
  //      dense dup neighborhoods does NOT merge them, because the
  //      bridge node adopts whichever side out-votes the other).
  //      Synchronous rounds, fixed count (part of the contract, like
  //      q_pagerank); every node reports its final community plus the
  //      community's size. Isolated docs are singleton communities. Like
  //      q_pagerank's, the 5 rounds run in one task over the pair table ----
  private val LpaIters = 5
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 1000)
    val pairs = lshDupPairs(s, dir)
    val lp = GraphRank.labelPropagation(pairs, d, "doc_id",
      iters = LpaIters)
    val sizes = lp.groupBy("community").agg(count(lit(1)).as("csize"))
    lp.join(sizes, "community")
      .select(col("id").as("doc_id"), col("community"), col("csize"))
      .orderBy("doc_id")
  }
  val qLabelPropSql: String = {
    val rounds = (1 to LpaIters).map { r =>
      val p = r - 1
      s"""c$r AS (SELECT ed.v AS id, l.lbl, count(*) AS c
         |  FROM ed JOIN l$p l ON ed.u = l.id GROUP BY 1, 2),
         |w$r AS (SELECT id, lbl FROM (SELECT id, lbl,
         |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl ASC) AS rn
         |  FROM c$r) WHERE rn = 1),
         |l$r AS MATERIALIZED (SELECT n.id, coalesce(w.lbl, n.lbl) AS lbl
         |  FROM l$p n LEFT JOIN w$r w USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lshPairsCtes()},
       |ed AS MATERIALIZED (SELECT i AS u, j AS v FROM prs UNION ALL SELECT j AS u, i AS v FROM prs),
       |nd AS MATERIALIZED (SELECT doc_id AS id FROM documents WHERE doc_id < 1000),
       |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nd),
       |$rounds,
       |csz AS (SELECT lbl AS community, count(*) AS csize FROM l$LpaIters GROUP BY 1)
       |SELECT l.id AS doc_id, l.lbl AS community, csz.csize
       |FROM l$LpaIters l JOIN csz ON l.lbl = csz.community
       |ORDER BY doc_id""".stripMargin
  }

  // ---- triangle counting / local clustering coefficient over the
  //      LSH near-dup graph (Suri & Vassilvitskii degree-oriented
  //      wedge join — out-degrees bounded O(√E), so hubs generate
  //      √-neighborhood wedges, not deg²): dup clusters are
  //      near-cliques (cc → 1), LSH false-positive hubs are open
  //      stars (cc → 0) — the density gauge that separates them ----
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshDupPairs(s, dir)
    GraphRank.triangleCounts(pairs)
      .select(col("id").as("doc_id"), col("deg"), col("n_tri"),
        col("cc_micros"))
      .orderBy("doc_id")
  }
  val qTrianglesSql: String =
    s"""WITH ${lshPairsCtes()},
       |und AS (SELECT least(i, j) AS i, greatest(i, j) AS j FROM prs
       |  WHERE i <> j GROUP BY 1, 2),
       |ed AS (SELECT i AS u, j AS v FROM und UNION ALL SELECT j AS u, i AS v FROM und),
       |dg AS MATERIALIZED (SELECT u, count(*) AS deg FROM ed GROUP BY 1),
       |eo AS MATERIALIZED (SELECT e.u, e.v, dv.deg AS dv
       |  FROM ed e JOIN dg du ON e.u = du.u JOIN dg dv ON e.v = dv.u
       |  WHERE du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)),
       |wg AS (SELECT a.u AS x, a.v AS y, b.v AS z
       |  FROM eo a JOIN eo b ON a.u = b.u
       |  WHERE a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v)),
       |tri AS MATERIALIZED (SELECT x, y, z
       |  FROM wg JOIN eo ON wg.y = eo.u AND wg.z = eo.v),
       |pn AS (SELECT id, count(*) AS n_tri FROM (
       |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri) GROUP BY 1)
       |SELECT pn.id AS doc_id, dg.deg, pn.n_tri,
       |  CAST(floor(pn.n_tri::DOUBLE * 2000000.0
       |    / (dg.deg * (dg.deg - 1))::DOUBLE + 0.5) AS BIGINT) AS cc_micros
       |FROM pn JOIN dg ON pn.id = dg.u ORDER BY doc_id""".stripMargin

  // ---- k-core of the near-dup graph (iterative peel, Seidman 1983):
  //      survivors all keep in-core degree >= K after the unrolled
  //      rounds — the DENSE duplication (template farms, mirror
  //      clusters) that deserves exact verification first; one-off
  //      near-dups peel away in round 1. Round count is part of the
  //      contract; the spec asserts the gate graph reaches its
  //      fixpoint within it ----
  private val KcoreK = 3L
  private val KcoreRounds = 5
  def qKcore(s: SparkSession, dir: String): DataFrame =
    GraphRank.kcore(lshDupPairs(s, dir), KcoreK, KcoreRounds)
      .select(col("id").as("doc_id"), col("deg"))
      .orderBy("doc_id")
  val qKcoreSql: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      val p = r - 1
      s"""k$r AS (SELECT u FROM (SELECT u, count(*) AS deg FROM e$p GROUP BY 1)
         |  WHERE deg >= $KcoreK),
         |e$r AS (SELECT e.u, e.v FROM e$p e
         |  JOIN k$r a ON e.u = a.u JOIN k$r b ON e.v = b.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lshPairsCtes()},
       |und AS (SELECT least(i, j) AS i, greatest(i, j) AS j FROM prs
       |  WHERE i <> j GROUP BY 1, 2),
       |e0 AS (SELECT i AS u, j AS v FROM und UNION ALL SELECT j AS u, i AS v FROM und),
       |$rounds
       |SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS deg
       |FROM e$KcoreRounds GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  // ---- multi-source BFS hop distance over the LSH near-dup graph:
  //      minimum hops from a seed set of "known-contaminated" docs
  //      (every 100th doc_id in the slice) to everything the dup graph
  //      transitively reaches — the contamination radius (a doc two
  //      hops out is a dup-of-a-dup: tainted even though no miner
  //      paired it with a seed directly). Frontier BFS, unrolled
  //      rounds replayed by the oracle; unreached docs are absent ----
  private val BfsMaxHops = 4
  def qBfsHops(s: SparkSession, dir: String): DataFrame = {
    val seeds = docs(s, dir)
      .filter(col("doc_id") < 1000 && col("doc_id") % 100 === 0)
    GraphRank.bfsHops(lshDupPairs(s, dir), seeds, "doc_id", BfsMaxHops)
      .select(col("id").as("doc_id"), col("hops"))
      .orderBy("doc_id")
  }
  val qBfsHopsSql: String = {
    val rounds = (1 to BfsMaxHops).map { r =>
      val p = r - 1
      s"""f$r AS (SELECT DISTINCT ed.v AS id FROM ed JOIN d$p ON ed.u = d$p.id
         |  WHERE NOT EXISTS (SELECT 1 FROM d$p x WHERE x.id = ed.v)),
         |d$r AS MATERIALIZED (SELECT id, hops FROM d$p
         |  UNION ALL SELECT id, CAST($r AS BIGINT) FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lshPairsCtes()},
       |ed AS MATERIALIZED (SELECT i AS u, j AS v FROM prs WHERE i <> j
       |  UNION ALL SELECT j AS u, i AS v FROM prs WHERE i <> j),
       |d0 AS MATERIALIZED (SELECT DISTINCT doc_id AS id, CAST(0 AS BIGINT) AS hops
       |  FROM documents WHERE doc_id < 1000 AND doc_id % 100 = 0),
       |$rounds
       |SELECT id AS doc_id, hops FROM d$BfsMaxHops ORDER BY doc_id""".stripMargin
  }

  // ---- common-neighbor link prediction over the SAME LSH near-dup
  //      graph: for every NON-edge sharing ≥ 2 neighbors, the shared
  //      count + neighborhood Jaccard (exact micros) — the classic
  //      missing-link score pointed at the miner's own blind spots
  //      (two docs tied to one dup neighborhood but never co-bucketed
  //      are LSH false negatives worth re-verifying). Wedge centers
  //      above the hub cap are dropped (no orientation escape exists
  //      for wedge ENUMERATION; the cap is the standard mitigation
  //      and part of the contract) ----
  private val LpredMaxCenterDeg = 50L
  private val LpredMinCommon = 2L
  def qLinkPred(s: SparkSession, dir: String): DataFrame =
    GraphRank.commonNeighborScores(lshDupPairs(s, dir),
        LpredMaxCenterDeg, LpredMinCommon)
      .orderBy("i", "j")
  val qLinkPredSql: String =
    s"""WITH ${lshPairsCtes()},
       |und AS MATERIALIZED (SELECT least(i, j) AS i, greatest(i, j) AS j FROM prs
       |  WHERE i <> j GROUP BY 1, 2),
       |ed AS (SELECT i AS u, j AS v FROM und UNION ALL SELECT j AS u, i AS v FROM und),
       |dg AS MATERIALIZED (SELECT u, count(*) AS deg FROM ed GROUP BY 1),
       |ctr AS (SELECT e.u, e.v FROM ed e JOIN dg ON e.u = dg.u
       |  WHERE dg.deg <= $LpredMaxCenterDeg),
       |cand AS (SELECT a.v AS i, b.v AS j, count(*) AS cn
       |  FROM ctr a JOIN ctr b ON a.u = b.u AND a.v < b.v
       |  GROUP BY 1, 2 HAVING count(*) >= $LpredMinCommon),
       |ne AS (SELECT c.i, c.j, c.cn FROM cand c
       |  LEFT JOIN und e ON c.i = e.i AND c.j = e.j WHERE e.i IS NULL)
       |SELECT ne.i, ne.j, ne.cn, di.deg AS deg_i, dj.deg AS deg_j,
       |  (ne.cn * 1000000) // (di.deg + dj.deg - ne.cn) AS jaccard_micros
       |FROM ne JOIN dg di ON ne.i = di.u JOIN dg dj ON ne.j = dj.u
       |ORDER BY i, j""".stripMargin

  // ---- incremental LSH: a NEW batch mined against the STANDING
  //      banded index at O(batch) cost — the daily-crawl-increment
  //      shape. Result == the one-shot recompute over index ∪ batch
  //      under the index's FROZEN boilerplate vocabulary, restricted
  //      to batch-touching pairs (spec-pinned); the oracle replays
  //      that pipeline: keep-set from the index docs' dfs only ----
  // index: doc_id < 450; batch: 450..999 (sf0.01 documents carry ids
  // 0..499 only, so the batch is 50 docs at the gate tier and 550 at
  // sf0.1). The boilerplate cap freezes on the INDEX corpus's dfs —
  // proportional to the index size (40%, mirroring ShingleDfCap's
  // 400-of-1000 selectivity; an absolute 400 over 450 docs would keep
  // near-ubiquitous tokens and densify the candidate join ~250×).
  private val LshIncrSplit = 450L
  private val LshIncrCap = 180L
  def qLshIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val idx = Dedup.buildLshIndex(
      d.filter(col("doc_id") < LshIncrSplit), "doc_id", "text",
      k = 16, rowsPerBand = 2, maxShingleDf = LshIncrCap)
    idx.pairsWith(
        d.filter(col("doc_id") >= LshIncrSplit && col("doc_id") < 1000),
        "doc_id", "text", threshold = 0.5)
      .select(col("i"), col("j"), r6(col("jaccard")).as("jaccard"))
      .orderBy("i", "j")
  }
  val qLshIncrSql: String = {
    val p = Dedup.MinHashMod
    val k = 16
    val rows = 2
    val mins = (0 until k).map(i => s"min((h0 + $i * h1) % $p) AS m$i")
      .mkString(",\n  ")
    val bandSel = (0 until k / rows).map { b =>
      val bandExpr = (0 until rows)
        .map(r => s"m${b * rows + r}::VARCHAR").mkString(" || '|' || ")
      s"SELECT id, $b AS band, ${Hashing.hash60Sql(bandExpr, 1000 + b)} AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH sh0 AS (SELECT doc_id AS id, unnest(list_distinct($SplitToksLowerSql)) AS tok
       |  FROM documents WHERE doc_id < 1000),
       |keep AS (SELECT tok FROM sh0 WHERE id < $LshIncrSplit
       |  GROUP BY 1 HAVING count(*) <= $LshIncrCap),
       |ex AS (SELECT id, tok FROM sh0 JOIN keep USING (tok)),
       |sz AS (SELECT id, count(*) AS sz FROM ex GROUP BY 1),
       |common AS (SELECT a.id AS i, b.id AS j, count(*) AS c
       |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2),
       |hh AS (SELECT id,
       |    CAST(('0x' || substr(d, 1, 15)) AS BIGINT) % $p AS h0,
       |    CAST(('0x' || substr(d, 16, 15)) AS BIGINT) % $p AS h1
       |  FROM (SELECT id, md5(concat('0|', tok)) AS d FROM ex)),
       |sig AS (SELECT id, $mins FROM hh GROUP BY 1),
       |bands AS ($bandSel),
       |cands AS (SELECT DISTINCT a.id AS i, b.id AS j FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bh = b.bh AND a.id < b.id)
       |SELECT i, j, round(c::DOUBLE / (si.sz + sj.sz - c), 6) AS jaccard
       |FROM cands JOIN common USING (i, j)
       |JOIN sz si ON si.id = i JOIN sz sj ON sj.id = j
       |WHERE c::DOUBLE / (si.sz + sj.sz - c) >= 0.5
       |  AND (i >= $LshIncrSplit OR j >= $LshIncrSplit)
       |ORDER BY i, j""".stripMargin
  }

  /** Full SQL oracle for [[qEmbedLsh]]: the ±1 hyperplanes are
    * deterministic (md5-derived), embedded here as literal arrays, so
    * signature bits, band packing, the candidate self-join, and the
    * exact-cosine verify all replay in DuckDB and hash-match. */
  /** Hyperplane width for q_embed_lsh, pinned ONCE for both engines:
    * the oracle must inline the hyperplanes as literals, so the Spark
    * side passes the same explicit dim instead of deriving it from the
    * data — a derived dim that drifted from the oracle's would silently
    * hash a different width and hash-mismatch with no hint why.
    * (Testdata embeddings are 64-dim; a mismatch now fails loudly in
    * the embeddingLshPairs width check rather than silently.) */
  private val EmbedLshDim = 64

  val qEmbedLshSql: String = {
    val nBits = 32
    val rows = 8
    val dim = EmbedLshDim
    def wLit(j: Int) = Dedup.hyperplane(0, j, dim)
      .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val bit = (j: Int) =>
      s"(CASE WHEN list_dot_product(v, ${wLit(j)}) >= 0 THEN 1 ELSE 0 END)"
    val bandSel = (0 until nBits / rows).map { b =>
      val packed = (0 until rows)
        .map(r => s"${bit(b * rows + r)} * ${1L << r}").mkString(" + ")
      s"SELECT id, $b AS band, $packed AS bits FROM e"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 1000),
       |bands AS ($bandSel),
       |cands AS (SELECT DISTINCT a.id AS i, b.id AS j FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bits = b.bits AND a.id < b.id),
       |nrm AS (SELECT id, sqrt(list_dot_product(v, v)) AS nrm FROM e)
       |SELECT i, j, round(cos, 6) AS cosine FROM (
       |  SELECT i, j, list_dot_product(ei.v, ej.v) / (ni.nrm * nj.nrm) AS cos
       |  FROM cands JOIN e ei ON ei.id = i JOIN e ej ON ej.id = j
       |  JOIN nrm ni ON ni.id = i JOIN nrm nj ON nj.id = j)
       |WHERE cos >= 0.3 ORDER BY i, j""".stripMargin
  }

  // ---- simhash (60-bit — the full hash60 width; with 4 hamming bands
  //      this gives 15-bit band keys = 32k buckets per band, vs the 256
  //      a 32-bit signature would leave: the banded candidate join is
  //      Σ bucket² per band ≈ n²/2^bandBits on an unclustered corpus,
  //      so band width IS the scale knob) ----
  private val SimHashBits = 60
  def qSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash(docs(s, dir), "doc_id", "text", SimHashBits)
      .withColumnRenamed("id", "doc_id").orderBy("doc_id")
  val qSimhashSql: String = {
    val votes = (0 until SimHashBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n  ")
    val assemble = (0 until SimHashBits).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id AS id, unnest($SplitToksLowerSql) AS t FROM documents),
       |h AS (SELECT id, ${Hashing.hash60Sql("t")} AS h FROM toks),
       |votes AS (SELECT id, $votes FROM h GROUP BY 1)
       |SELECT id AS doc_id, $assemble AS simhash FROM votes ORDER BY doc_id""".stripMargin
  }

  // ---- simhash near-dup pairs: banded hamming-distance join
  //      (Manku multi-index — exhaustive for hamming ≤ 3 by
  //      pigeonhole over 4 bands, so the banded Spark plan and the
  //      band-mirroring oracle agree EXACTLY; integer-only, no float
  //      parity risk) ----
  private val SimHashMaxHamming = 3
  def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(docs(s, dir), "doc_id", "text",
        SimHashBits, SimHashMaxHamming)
      .orderBy("i", "j")
  val qSimhashPairsSql: String = {
    val votes = (0 until SimHashBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n  ")
    val assemble = (0 until SimHashBits).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val bandBits = SimHashBits / (SimHashMaxHamming + 1)
    s"""WITH toks AS (SELECT doc_id AS id, unnest($SplitToksLowerSql) AS t FROM documents),
       |h AS (SELECT id, ${Hashing.hash60Sql("t")} AS h FROM toks),
       |votes AS (SELECT id, $votes FROM h GROUP BY 1),
       |sig AS (SELECT id, $assemble AS simhash FROM votes),
       |banded AS (SELECT id, simhash, b.band,
       |    (simhash >> (b.band * $bandBits)) & ${(1L << bandBits) - 1} AS key
       |  FROM sig, (SELECT unnest(range(${SimHashMaxHamming + 1})) AS band) b),
       |cands AS (SELECT DISTINCT a.id AS i, b.id AS j,
       |    a.simhash AS si, b.simhash AS sj
       |  FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       |SELECT i, j, bit_count(xor(si, sj))::INTEGER AS hamming
       |FROM cands WHERE bit_count(xor(si, sj)) <= $SimHashMaxHamming
       |ORDER BY i, j""".stripMargin
  }

  // ---- embedding cosine near-dup pairs — the EXACT all-pairs
  //      BASELINE on an explicitly BOUNDED input (vec_id < 1000, the
  //      same slice the LSH variant uses, so the two stay comparable):
  //      this is the correctness yardstick for q_embed_lsh, not the
  //      scaled path; bench readers should treat its cost as O(n²) by
  //      construction. The corpus-scale path is q_embed_lsh. ----
  def qEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    // norms precomputed once per vector (not per pair); numerically
    // identical to the per-pair form, so oracle parity holds
    val v = emb(s, dir).filter(col("vec_id") < 1000)
      .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .select(col("i"), col("j"), r6(col("cosine")).as("cosine"))
      .orderBy("i", "j")
  }
  val qEmbedNearDupSql: String =
    """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id < 1000),
      |p AS (SELECT a.id AS i, b.id AS j,
      |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
      |  FROM e a JOIN e b ON a.id < b.id)
      |SELECT i, j, round(cosine, 6) AS cosine FROM p
      |WHERE cosine >= 0.3 ORDER BY i, j""".stripMargin

  // ---- scale-safe embedding near-dup: hyperplane (sign) LSH band →
  //      candidate equi-join → exact-cosine verify. Approximate →
  //      rows-only check. On THIS corpus (random embeddings, cosine
  //      threshold 0.3) the default 8-bit bands prune away most
  //      moderate-cosine pairs BY DESIGN — no false positives, low
  //      recall; ExtOpsSpec asserts recall≥0.9 where it is owed: on
  //      genuinely-near (cosine≥0.95) pairs, plus the ≥4× candidate
  //      cut vs narrow bands. Same input bound and threshold as the
  //      exact baseline so the two results stay comparable. ----
  def qEmbedLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingLshPairs(
      emb(s, dir).filter(col("vec_id") < 1000), "vec_id", "embedding",
      threshold = 0.3, dim = EmbedLshDim)
      .select(col("i"), col("j"), r6(col("cosine")).as("cosine"))
      .orderBy("i", "j")

  // ---- brute-force cosine top-k (similarity-search baseline) ----
  def qKnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("qid", "rank")
  }
  val qKnnBruteSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
      |scored AS (SELECT qid, e.vec_id AS id,
      |    round(list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
      |  FROM q, e)
      |SELECT qid, id, cosine, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
      |  FROM scored) WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  // ---- MMR diversity re-ranking (Carbonell & Goldstein 1998) of the
  //      brute-force top-20: greedy λ·rel − (1−λ)·maxsim selection,
  //      k unrolled rounds of qid-keyed argmax + running-max update —
  //      the retrieval final stage that returns NEIGHBORHOODS instead
  //      of k copies of the nearest one. Exact micros arithmetic, no
  //      division (score stays a raw long), ties on smaller id ----
  private val MmrN = 20
  private val MmrK = 8
  private val MmrLambda = 700000L
  def qMmr(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cands = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = MmrN)
      .select(col("qid"), col("id"), col("cosine"))
    Similarity.mmrRerank(cands, e, "vec_id", "embedding", MmrK, MmrLambda)
      .orderBy("qid", "rank")
  }
  val qMmrSql: String = {
    val lam = MmrLambda
    val omm = 1000000L - MmrLambda
    val cosPS = "round(list_dot_product(p.v, s.v) / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(s.v, s.v))), 6)"
    val rounds = (1 to MmrK).map { t =>
      val p = t - 1
      val sel =
        s"""sel$t AS (SELECT qid, CAST($t AS BIGINT) AS rank, id, rel, maxsim,
           |    $lam * rel - $omm * maxsim AS score, v
           |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY $lam * rel - $omm * maxsim DESC, id ASC) AS rn FROM p$p)
           |  WHERE rn = 1)""".stripMargin
      val upd =
        if (t == MmrK) ""
        else
          s""",
             |p$t AS (SELECT p.qid, p.id, p.rel, p.v,
             |    greatest(p.maxsim, CAST(floor($cosPS * 1e6 + 0.5) AS BIGINT)) AS maxsim
             |  FROM p$p p JOIN sel$t s ON p.qid = s.qid AND p.id <> s.id)""".stripMargin
      sel + upd
    }.mkString(",\n")
    val unions = (1 to MmrK)
      .map(t => s"SELECT qid, rank, id, rel, maxsim, score FROM sel$t")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE id < 3),
       |sc AS (SELECT qid, e.id,
       |    round(list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
       |  FROM q, e),
       |cand AS (SELECT qid, id, cosine FROM (SELECT *,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rn
       |  FROM sc) WHERE rn <= $MmrN),
       |p0 AS (SELECT c.qid, c.id,
       |    CAST(floor(cosine * 1e6 + 0.5) AS BIGINT) AS rel, e.v,
       |    CAST(0 AS BIGINT) AS maxsim
       |  FROM cand c JOIN e ON c.id = e.id),
       |$rounds
       |SELECT qid, rank, id, rel AS rel_micros, maxsim AS maxsim_micros, score
       |FROM ($unions) ORDER BY qid, rank""".stripMargin
  }

  // ---- count-min sketch: bounded-state frequency estimation (the
  //      mergeable-sketch companion to exact q_heavy_hitters). The
  //      query builds the 4×512 corpus sketch, then point-estimates
  //      the exact top-20 tokens — est >= exact always (CMS never
  //      under-counts), and the overshoot is the collision mass ----
  private val CmsWidth = 512
  def qCmsCounts(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val exact = d.select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact_n"))
    val probes = exact.orderBy(desc("exact_n"), asc("token")).limit(20)
    val cells = Sketches.cmsBuild(d, "text", CmsWidth)
    Sketches.cmsEstimate(cells, probes.select("token"), "token", CmsWidth)
      .join(probes, Seq("token"))
      .select(col("token"), col("exact_n"), col("cms_est"))
      .orderBy(desc("exact_n"), asc("token"))
  }
  // ---- mergeable persisted CMS sketches: per-SHARD count-min
  //      matrices merged across shards (sketch-as-data — the 100 TB
  //      frequency-rollup shape: each ingest batch reduces to one
  //      depth×width long matrix; corpus-wide term frequencies then
  //      SUM matrices, never rescan raw text). Unlike HLL's register
  //      max, the CMS merge is exact — summed shard cells EQUAL the
  //      single-shot cells — so the query asserts that invariant
  //      in-row: the merged-sketch estimate must equal the one-pass
  //      relational sketch's estimate for every probe. Spark exercises
  //      two independent code paths (CmsAggregator UDAF per shard +
  //      higher-order zip_with fold vs cmsBuild's relational cells);
  //      estimates are reported beside the exact counts of the SAME
  //      top-10 tokens q_heavy_hitters ranks, est ≥ exact always. ----
  def qCmsTopk(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val exact = d.select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact_n"))
    val probes = exact.orderBy(desc("exact_n"), asc("token")).limit(10)
    val shards = Sketches.cmsPerGroup(
      d.withColumn("shard", pmod(col("doc_id"), lit(4L))),
      "shard", "text", CmsWidth)
    // 4 sketch rows → one merged matrix + the batch count (driver-tiny)
    val merged = shards.agg(count(lit(1)).as("n_batches"),
      Sketches.cmsMerge(collect_list(col("cms"))).as("cms"))
    val single = Sketches.cmsEstimate(
      Sketches.cmsBuild(d, "text", CmsWidth),
      probes.select("token"), "token", CmsWidth)
      .withColumnRenamed("cms_est", "single_est")
    probes.crossJoin(broadcast(merged))
      .withColumn("cms_est",
        Sketches.cmsPointEstimate(col("cms"), col("token"), CmsWidth))
      .join(single, Seq("token"))
      .select(col("token"), col("exact_n"), col("cms_est"),
        (col("cms_est") === col("single_est")).as("merge_invariant"),
        col("n_batches"))
      .orderBy(desc("exact_n"), asc("token"))
  }
  val qCmsTopkSql: String = {
    val d = Sketches.CmsDepth
    val cellArms = (0 until d).map(r =>
      s"SELECT $r AS row, ${Hashing.hash60Sql("token", r)} % $CmsWidth AS cell, count(*) AS n FROM tok GROUP BY 1, 2")
      .mkString("\n  UNION ALL ")
    val probeArms = (0 until d).map(r =>
      s"SELECT token, $r AS row, ${Hashing.hash60Sql("token", r)} % $CmsWidth AS cell FROM probes")
      .mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT doc_id % 4 AS shard,
       |    unnest($SplitToksLowerSql) AS token FROM documents),
       |exact AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY 1),
       |probes AS (SELECT * FROM exact ORDER BY exact_n DESC, token LIMIT 10),
       |nb AS (SELECT count(DISTINCT shard) AS n_batches FROM tok),
       |cells AS (
       |  $cellArms),
       |pc AS (
       |  $probeArms),
       |est AS (SELECT token, min(coalesce(n, 0)) AS cms_est
       |  FROM pc LEFT JOIN cells USING (row, cell) GROUP BY 1)
       |SELECT probes.token, exact_n, cms_est, TRUE AS merge_invariant,
       |  n_batches
       |FROM probes JOIN est USING (token) CROSS JOIN nb
       |ORDER BY exact_n DESC, token""".stripMargin
  }

  val qCmsCountsSql: String = {
    val d = Sketches.CmsDepth
    val cellArms = (0 until d).map(r =>
      s"SELECT $r AS row, ${Hashing.hash60Sql("token", r)} % $CmsWidth AS cell, count(*) AS n FROM tok GROUP BY 1, 2")
      .mkString("\n  UNION ALL ")
    val probeArms = (0 until d).map(r =>
      s"SELECT token, $r AS row, ${Hashing.hash60Sql("token", r)} % $CmsWidth AS cell FROM probes")
      .mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT unnest($SplitToksLowerSql) AS token FROM documents),
       |exact AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY 1),
       |probes AS (SELECT * FROM exact ORDER BY exact_n DESC, token LIMIT 20),
       |cells AS (
       |  $cellArms),
       |pc AS (
       |  $probeArms),
       |est AS (SELECT token, min(coalesce(n, 0)) AS cms_est
       |  FROM pc LEFT JOIN cells USING (row, cell) GROUP BY 1)
       |SELECT probes.token, exact_n, cms_est
       |FROM probes JOIN est USING (token)
       |ORDER BY exact_n DESC, token""".stripMargin
  }

  // ---- higher-order array functions over the embedding column:
  //      transform (float→double), filter, exists, aggregate (fold),
  //      zip_with, element_at — the per-vector feature-engineering
  //      surface, all codegen-friendly builtins (no UDFs). Both
  //      engines fold left-to-right over the same doubles, so sums
  //      agree bit-for-bit before the 6dp round ----
  def qArrayOps(s: SparkSession, dir: String): DataFrame = {
    val v = col("v")
    emb(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"),
        size(v).cast("long").as("dim"),
        size(filter(v, x => x > 0)).cast("long").as("n_pos"),
        r6(sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))).as("l2_norm"),
        r6(aggregate(zip_with(v, reverse(v), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)).as("rev_dot"),
        exists(v, x => x > lit(2.5)).as("has_big"),
        r6(element_at(v, 1) + element_at(v, -1)).as("ends_sum"))
      .orderBy("vec_id")
  }
  val qArrayOpsSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT vec_id,
      |  CAST(len(v) AS BIGINT) AS dim,
      |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
      |  round(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
      |  round(list_dot_product(v, list_reverse(v)), 6) AS rev_dot,
      |  len(list_filter(v, x -> x > 2.5)) > 0 AS has_big,
      |  round(v[1] + v[-1], 6) AS ends_sum
      |FROM e ORDER BY vec_id""".stripMargin

  // ---- IVF approximate top-k (bucketed scale path). The quantizer is
  //      DETERMINISTIC (hash-sampled init + rounded-mean Lloyd rounds),
  //      so the whole pipeline — training included — replays in SQL:
  //      the oracle unrolls the Lloyd iterations as chained CTEs. ----
  private val IvfCentroids = 8
  private val IvfProbe = 3
  private val IvfTopK = 10
  private val IvfIter = 5 // kmeansCentroids' default nIter cap
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = IvfTopK, nCentroids = IvfCentroids, nProbe = IvfProbe)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("qid", "rank")
  }

  /** Full SQL oracle for [[qAnnIvf]], Lloyd training included. Safe to
    * unroll the fixed `IvfIter` rounds even though Spark early-stops at
    * the rounded-mean fixpoint: a fixpoint is stable by definition —
    * further unrolled rounds reproduce the same rounded means — so both
    * engines land on identical centroids. Per round: normalize
    * centroids → per-vector argmax assignment (round(dot, 9), ties to
    * the smaller cid) → per-dimension rounded means (round_even = the
    * half-to-even `rint` the Spark side uses; empty clusters keep the
    * previous normalized centroid). Then bucket assignment, probe
    * ranking, and per-query top-k replay the probe path verbatim. */
  /** The full IVF replay as a reusable CTE list ending at
    * `scored(qid, id, cosine)` — shared by [[qAnnIvfSql]] and the
    * recall eval ([[qAnnEvalSql]]). */
  private def ivfScoredCtes(): String = {
    val dim = EmbedLshDim
    val rounds = (1 to IvfIter).map { r =>
      val p = r - 1
      s"""cn$r AS (SELECT cid, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cn FROM c$p),
         |sc$r AS (SELECT id, u, cid, round(list_dot_product(u, cn), 9) AS sim FROM u, cn$r),
         |best$r AS (SELECT id, u, cid FROM (SELECT id, u, cid,
         |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn FROM sc$r) WHERE rn = 1),
         |cell$r AS (SELECT cid, i, round_even(sum(u[i]) / count(*), 6) AS m
         |  FROM best$r, generate_series(1, $dim) AS g(i) GROUP BY cid, i),
         |nc$r AS (SELECT cid, list(m ORDER BY i) AS cv FROM cell$r GROUP BY cid),
         |c$r AS (SELECT cn$r.cid, coalesce(nc$r.cv, cn$r.cn) AS cv FROM cn$r LEFT JOIN nc$r USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |u AS (SELECT id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
       |c0 AS (SELECT cid, cv FROM (SELECT row_number() OVER (ORDER BY ${Hashing.hash60Sql("id::VARCHAR")}, id) - 1 AS cid, u AS cv FROM u) WHERE cid < $IvfCentroids),
       |$rounds,
       |bsc AS (SELECT e.id, e.v, c.cid,
       |    round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
       |  FROM e, c$IvfIter c),
       |bucketed AS (SELECT id, v, cid FROM (SELECT id, v, cid,
       |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn FROM bsc) WHERE rn = 1),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE id < 3),
       |psc AS (SELECT qid, qv, cid,
       |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
       |  FROM q, c$IvfIter),
       |probes AS (SELECT qid, qv, cid FROM (SELECT qid, qv, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, cid ASC) AS rn FROM psc) WHERE rn <= $IvfProbe),
       |scored AS (SELECT p.qid, b.id,
       |    round(list_dot_product(b.v, p.qv) / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cosine
       |  FROM bucketed b JOIN probes p USING (cid))""".stripMargin
  }
  val qAnnIvfSql: String =
    s"""WITH ${ivfScoredCtes()}
       |SELECT qid, id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank FROM scored)
       |WHERE rank <= $IvfTopK ORDER BY qid, rank""".stripMargin

  // ---- ANN-pipeline QA: measured RECALL@k of the IVF probe path
  //      against the exact brute-force truth set — same queries, same
  //      k, same tie-breaks as q_knn_brute / q_ann_ivf (the oracle
  //      reuses the IVF CTE chain verbatim and derives the truth from
  //      the same `q × e` tables). The recall a pipeline owner needs
  //      before trusting nProbe-bounded search at corpus scale; the
  //      companion of q_dedup_eval on the similarity side. The query
  //      vector's own cosine-1.0 self-hit is EXCLUDED from both sets
  //      (the conventional self-excluded recall definition — a
  //      guaranteed hit would only inflate the metric), so n_true is
  //      k−1 when the self-match made the truth top-k ----
  def qAnnEval(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < 3)
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = IvfTopK)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
    val got = Similarity.ivfTopKWith(e, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        k = IvfTopK, nProbe = IvfProbe, centroids = ivfCentroids(s, dir))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), lit(1L).as("__hit"))
    annRecall(truth, got)
  }

  /** Session-memoized TRAINED ANN models, keyed by data dir — the
    * same cost-not-content discipline as [[lshDupPairs]]: the Lloyd
    * trainers are deterministic, their outputs are tiny (nCentroids /
    * nSub·nCodes rows of dim doubles), and four queries consume the
    * IDENTICAL models (q_ann_eval's IVF side; q_ann_ivfpq and
    * q_annpq_eval's composed ranker). Collected once, replayed as
    * local DataFrames — doubles survive collect + re-literal
    * bit-exactly, so results are unchanged. q_ann_ivf and q_ann_pq
    * stay on the LIVE trainers: they are the queries that measure
    * training+serve end-to-end. At corpus scale this memo is the
    * stored-model table the `*With` serve paths exist for. */
  private val ivfCentroidMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Long, Seq[Double])]]()
  graft.Memos.register(() => ivfCentroidMemo.clear())
  private def ivfCentroids(s: SparkSession, dir: String): DataFrame = {
    val rows = ivfCentroidMemo.computeIfAbsent(dir, _ =>
      Similarity.kmeansCentroids(emb(s, dir), "vec_id", "embedding",
          IvfCentroids, IvfIter)
        .collect().map(r => (r.getAs[Long]("cid"), r.getSeq[Double](1))))
    import s.implicits._
    s.createDataset(rows.toIndexedSeq).toDF("cid", "cv")
  }
  private val pqCodebookMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Int, Int, Seq[Double])]]()
  graft.Memos.register(() => pqCodebookMemo.clear())
  private def pqCodebooks(s: SparkSession, dir: String): DataFrame = {
    val rows = pqCodebookMemo.computeIfAbsent(dir, _ =>
      Similarity.pqCodebooks(emb(s, dir), "vec_id", "embedding",
          PqSub, PqCodes, PqIter)
        .collect().map(r => (r.getAs[Int]("m"), r.getAs[Int]("cid"),
          r.getSeq[Double](2))))
    import s.implicits._
    s.createDataset(rows.toIndexedSeq).toDF("m", "cid", "cv")
  }

  /** Per-query recall table shared by the ANN evals: truth(qid, id)
    * LEFT JOIN got(qid, id, __hit) → (qid, n_true, n_hit,
    * recall_micros). */
  private def annRecall(truth: DataFrame, got: DataFrame): DataFrame =
    truth.join(got, Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("qid"), col("n_true"), col("n_hit"),
        floor(col("n_hit").cast("double") / col("n_true").cast("double")
          * lit(1000000.0) + lit(0.5)).cast("long").as("recall_micros"))
      .orderBy("qid")
  val qAnnEvalSql: String =
    s"""WITH ${ivfScoredCtes()},
       |ivfk AS (SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank FROM scored)
       |  WHERE rank <= $IvfTopK AND id <> qid),
       |tsc AS (SELECT qid, e.id,
       |    round(list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
       |  FROM q, e),
       |truth AS (SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank FROM tsc)
       |  WHERE rank <= $IvfTopK AND id <> qid),
       |jj AS (SELECT t.qid, i.id IS NOT NULL AS hit
       |  FROM truth t LEFT JOIN ivfk i ON t.qid = i.qid AND t.id = i.id)
       |SELECT qid, CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(floor(sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS recall_micros
       |FROM jj GROUP BY 1 ORDER BY qid""".stripMargin

  // ---- stored-model serving: the trained IVF coarse quantizer
  //      round-trips through PARQUET (train → store → load → serve) and
  //      the served ranking must be IDENTICAL to the live-trained
  //      q_ann_ivf — the model-registry link that makes the *With
  //      serve paths real: at corpus scale the quantizer is trained
  //      once, stored as an ordinary table, and every query batch
  //      loads it. Lossless because parquet preserves doubles
  //      bit-exactly; the oracle is q_ann_ivf's full replay ----
  def qAnnStored(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_scratch", "ivf_model").toString
    ivfCentroids(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val stored = s.read.parquet(tmp)
    Similarity.ivfTopKWith(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = IvfTopK, nProbe = IvfProbe, centroids = stored)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("qid", "rank")
  }
  val qAnnStoredSql: String = qAnnIvfSql

  // ---- ANN via product quantization (the memory-side scale path:
  //      nSub codes replace dim doubles per stored vector; asymmetric
  //      distance scores exact query slices against the codebooks).
  //      Like q_ann_ivf, the oracle replays the WHOLE pipeline in SQL:
  //      per-subspace L2 Lloyd rounds unrolled as CTEs (fixpoint
  //      rounds are idempotent, so Spark's early stop and the full
  //      unroll agree), encoding as an argmin, ADC as a LUT join. ----
  private val PqSub = 4     // subspaces (64-dim -> 4 x 16)
  private val PqCodes = 8   // codes per subspace
  private val PqIter = 3    // Lloyd rounds (cap; early-stops at fixpoint)
  private val PqTopK = 10
  private val PqRerank = 50 // ADC candidates kept for the exact rerank
  def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.pqTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = PqTopK, nSub = PqSub, nCodes = PqCodes, nIter = PqIter,
      rerank = PqRerank)
      .select(col("qid"), col("id"), col("score"),
        col("rank").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }
  val qAnnPqSql: String = {
    val dim = EmbedLshDim
    val sub = dim / PqSub
    def slices(src: String) =
      s"SELECT id, m, list_slice($src, m * $sub + 1, (m + 1) * $sub) AS um " +
        s"FROM SRC, generate_series(0, ${PqSub - 1}) AS g(m)"
    val rounds = (1 to PqIter).map { r =>
      val p = r - 1
      s"""sc$r AS (SELECT s.id, s.m, s.um, c.cid,
         |    round(list_dot_product(s.um, s.um) - 2 * list_dot_product(s.um, c.cv)
         |      + list_dot_product(c.cv, c.cv), 9) AS d
         |  FROM sub s JOIN c$p c ON s.m = c.m),
         |best$r AS (SELECT id, m, um, cid FROM (SELECT id, m, um, cid,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d ASC, cid ASC) AS rn FROM sc$r) WHERE rn = 1),
         |cell$r AS (SELECT m, cid, i, round_even(sum(um[i]) / count(*), 6) AS mv
         |  FROM best$r, generate_series(1, $sub) AS gi(i) GROUP BY m, cid, i),
         |nc$r AS (SELECT m, cid, list(mv ORDER BY i) AS cv FROM cell$r GROUP BY m, cid),
         |c$r AS (SELECT c$p.m, c$p.cid, coalesce(nc$r.cv, c$p.cv) AS cv
         |  FROM c$p LEFT JOIN nc$r ON c$p.m = nc$r.m AND c$p.cid = nc$r.cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |u AS (SELECT id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
       |seeds AS (SELECT cid, u FROM (SELECT row_number() OVER (ORDER BY ${Hashing.hash60Sql("id::VARCHAR")}, id) - 1 AS cid, u FROM u) WHERE cid < $PqCodes),
       |sub AS (${slices("u").replace("SRC", "u")}),
       |c0 AS (SELECT m, cid, list_slice(u, m * $sub + 1, (m + 1) * $sub) AS cv
       |  FROM seeds, generate_series(0, ${PqSub - 1}) AS g(m)),
       |$rounds,
       |esc AS (SELECT s.id, s.m, c.cid,
       |    round(list_dot_product(s.um, s.um) - 2 * list_dot_product(s.um, c.cv)
       |      + list_dot_product(c.cv, c.cv), 9) AS d
       |  FROM sub s JOIN c$PqIter c ON s.m = c.m),
       |codes AS (SELECT id, m, cid AS code FROM (SELECT id, m, cid,
       |    row_number() OVER (PARTITION BY id, m ORDER BY d ASC, cid ASC) AS rn FROM esc) WHERE rn = 1),
       |q AS (SELECT id AS qid, u FROM u WHERE id < 3),
       |qsub AS (SELECT qid, m, list_slice(u, m * $sub + 1, (m + 1) * $sub) AS um
       |  FROM q, generate_series(0, ${PqSub - 1}) AS g(m)),
       |lut AS (SELECT qs.qid, qs.m, c.cid, round(list_dot_product(qs.um, c.cv), 9) AS ip
       |  FROM qsub qs JOIN c$PqIter c ON qs.m = c.m),
       |scored AS (SELECT l.qid, k.id, round(sum(l.ip), 6) AS score
       |  FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.cid GROUP BY l.qid, k.id),
       |cand AS (SELECT qid, id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank FROM scored)
       |  WHERE rank <= $PqRerank),
       |qr AS (SELECT id AS qid, v AS qv FROM e WHERE id < 3),
       |rr AS (SELECT c.qid, c.id,
       |    round(list_dot_product(ev.v, qr.qv) / (sqrt(list_dot_product(ev.v, ev.v)) * sqrt(list_dot_product(qr.qv, qr.qv))), 6) AS score
       |  FROM cand c JOIN e ev ON c.id = ev.id JOIN qr ON c.qid = qr.qid)
       |SELECT qid, id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank FROM rr)
       |WHERE rank <= $PqTopK ORDER BY qid, rank""".stripMargin
  }

  // ---- IVF-PQ composed ANN (the standard large-scale index shape:
  //      IVF cell routing cuts WHAT a query scans, PQ codes cut what
  //      each scanned vector COSTS; ADC runs only inside the probed
  //      cells, then an exact rerank restores within-cell order).
  //      Both trainers are the deterministic Lloyd loops the separate
  //      q_ann_ivf / q_ann_pq oracles already replay, so the COMPOSED
  //      pipeline also unrolls fully in SQL and hash-matches. ----
  private val IvfPqRerank = 50
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfPqTopKWith(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = IvfTopK, nProbe = IvfProbe,
      centroids = ivfCentroids(s, dir), codebooks = pqCodebooks(s, dir),
      nSub = PqSub, rerank = IvfPqRerank)
      .select(col("qid"), col("id"), col("score"),
        col("rank").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** Full SQL replay for [[qAnnIvfPq]] as a reusable CTE list ending
    * at `rr(qid, id, score)` — the exact-reranked candidates. The IVF
    * chain (c0..c5 etc.) is copied verbatim from [[qAnnIvfSql]] and
    * the PQ chain from [[qAnnPqSql]] with k-prefixed CTE names (the
    * two pipelines share `e`/`u` but collide on every per-round name);
    * the composition point is the `adc` CTE, which scores codes ONLY
    * for (query, id) pairs whose IVF cell the query probes. Shared by
    * [[qAnnIvfPqSql]] and the recall eval ([[qAnnPqEvalSql]]). */
  private def ivfPqRerankedCtes(): String = {
    val dim = EmbedLshDim
    val sub = dim / PqSub
    val ivfRounds = (1 to IvfIter).map { r =>
      val p = r - 1
      s"""cn$r AS (SELECT cid, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cn FROM c$p),
         |sc$r AS (SELECT id, u, cid, round(list_dot_product(u, cn), 9) AS sim FROM u, cn$r),
         |best$r AS (SELECT id, u, cid FROM (SELECT id, u, cid,
         |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn FROM sc$r) WHERE rn = 1),
         |cell$r AS (SELECT cid, i, round_even(sum(u[i]) / count(*), 6) AS m
         |  FROM best$r, generate_series(1, $dim) AS g(i) GROUP BY cid, i),
         |nc$r AS (SELECT cid, list(m ORDER BY i) AS cv FROM cell$r GROUP BY cid),
         |c$r AS (SELECT cn$r.cid, coalesce(nc$r.cv, cn$r.cn) AS cv FROM cn$r LEFT JOIN nc$r USING (cid))""".stripMargin
    }.mkString(",\n")
    val pqRounds = (1 to PqIter).map { r =>
      val p = r - 1
      s"""ksc$r AS (SELECT s.id, s.m, s.um, c.cid,
         |    round(list_dot_product(s.um, s.um) - 2 * list_dot_product(s.um, c.cv)
         |      + list_dot_product(c.cv, c.cv), 9) AS d
         |  FROM sub s JOIN kc$p c ON s.m = c.m),
         |kbest$r AS (SELECT id, m, um, cid FROM (SELECT id, m, um, cid,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d ASC, cid ASC) AS rn FROM ksc$r) WHERE rn = 1),
         |kcell$r AS (SELECT m, cid, i, round_even(sum(um[i]) / count(*), 6) AS mv
         |  FROM kbest$r, generate_series(1, $sub) AS gi(i) GROUP BY m, cid, i),
         |knc$r AS (SELECT m, cid, list(mv ORDER BY i) AS cv FROM kcell$r GROUP BY m, cid),
         |kc$r AS (SELECT kc$p.m, kc$p.cid, coalesce(knc$r.cv, kc$p.cv) AS cv
         |  FROM kc$p LEFT JOIN knc$r ON kc$p.m = knc$r.m AND kc$p.cid = knc$r.cid)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |u AS (SELECT id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
       |c0 AS (SELECT cid, cv FROM (SELECT row_number() OVER (ORDER BY ${Hashing.hash60Sql("id::VARCHAR")}, id) - 1 AS cid, u AS cv FROM u) WHERE cid < $IvfCentroids),
       |$ivfRounds,
       |bsc AS (SELECT e.id, e.v, c.cid,
       |    round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
       |  FROM e, c$IvfIter c),
       |bucketed AS (SELECT id, cid FROM (SELECT id, cid,
       |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn FROM bsc) WHERE rn = 1),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE id < 3),
       |psc AS (SELECT qid, qv, cid,
       |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
       |  FROM q, c$IvfIter),
       |probes AS (SELECT qid, cid FROM (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, cid ASC) AS rn FROM psc) WHERE rn <= $IvfProbe),
       |kseeds AS (SELECT cid, u FROM (SELECT row_number() OVER (ORDER BY ${Hashing.hash60Sql("id::VARCHAR")}, id) - 1 AS cid, u FROM u) WHERE cid < $PqCodes),
       |sub AS (SELECT id, m, list_slice(u, m * $sub + 1, (m + 1) * $sub) AS um
       |  FROM u, generate_series(0, ${PqSub - 1}) AS g(m)),
       |kc0 AS (SELECT m, cid, list_slice(u, m * $sub + 1, (m + 1) * $sub) AS cv
       |  FROM kseeds, generate_series(0, ${PqSub - 1}) AS g(m)),
       |$pqRounds,
       |kesc AS (SELECT s.id, s.m, c.cid,
       |    round(list_dot_product(s.um, s.um) - 2 * list_dot_product(s.um, c.cv)
       |      + list_dot_product(c.cv, c.cv), 9) AS d
       |  FROM sub s JOIN kc$PqIter c ON s.m = c.m),
       |codes AS (SELECT id, m, cid AS code FROM (SELECT id, m, cid,
       |    row_number() OVER (PARTITION BY id, m ORDER BY d ASC, cid ASC) AS rn FROM kesc) WHERE rn = 1),
       |qu AS (SELECT id AS qid, u FROM u WHERE id < 3),
       |qsub AS (SELECT qid, m, list_slice(u, m * $sub + 1, (m + 1) * $sub) AS um
       |  FROM qu, generate_series(0, ${PqSub - 1}) AS g(m)),
       |lut AS (SELECT qs.qid, qs.m, c.cid, round(list_dot_product(qs.um, c.cv), 9) AS ip
       |  FROM qsub qs JOIN kc$PqIter c ON qs.m = c.m),
       |adc AS (SELECT l.qid, k.id, round(sum(l.ip), 6) AS score
       |  FROM codes k JOIN bucketed b ON k.id = b.id
       |  JOIN probes p ON p.cid = b.cid
       |  JOIN lut l ON l.qid = p.qid AND l.m = k.m AND l.cid = k.code
       |  GROUP BY l.qid, k.id),
       |cand AS (SELECT qid, id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank FROM adc)
       |  WHERE rank <= $IvfPqRerank),
       |rr AS (SELECT c.qid, c.id,
       |    round(list_dot_product(ev.v, q.qv) / (sqrt(list_dot_product(ev.v, ev.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
       |  FROM cand c JOIN e ev ON c.id = ev.id JOIN q ON c.qid = q.qid)""".stripMargin
  }
  val qAnnIvfPqSql: String =
    s"""WITH ${ivfPqRerankedCtes()}
       |SELECT qid, id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank FROM rr)
       |WHERE rank <= $IvfTopK ORDER BY qid, rank""".stripMargin

  // ---- IVF-PQ recall eval: the same measured-recall@k QA as
  //      q_ann_eval, but for the COMPOSED IVF-PQ ranker (ADC inside
  //      probed cells + exact rerank) — the index shape actually
  //      deployed at corpus scale, so ITS recall is the number that
  //      gates production use. Self-match excluded from both sets, as
  //      in q_ann_eval ----
  def qAnnPqEval(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < 3)
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = IvfTopK)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
    val got = Similarity.ivfPqTopKWith(e, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        k = IvfTopK, nProbe = IvfProbe,
        centroids = ivfCentroids(s, dir), codebooks = pqCodebooks(s, dir),
        nSub = PqSub, rerank = IvfPqRerank)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), lit(1L).as("__hit"))
    annRecall(truth, got)
  }
  val qAnnPqEvalSql: String =
    s"""WITH ${ivfPqRerankedCtes()},
       |pqk AS (SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank FROM rr)
       |  WHERE rank <= $IvfTopK AND id <> qid),
       |tsc AS (SELECT qid, e.id,
       |    round(list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
       |  FROM q, e),
       |truth AS (SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank FROM tsc)
       |  WHERE rank <= $IvfTopK AND id <> qid),
       |jj AS (SELECT t.qid, i.id IS NOT NULL AS hit
       |  FROM truth t LEFT JOIN pqk i ON t.qid = i.qid AND t.id = i.id)
       |SELECT qid, CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(floor(sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS recall_micros
       |FROM jj GROUP BY 1 ORDER BY qid""".stripMargin

  // ---- int8 scalar quantization of the embedding column (8x at-rest
  //      compression vs float64 staging; per-vector (min, scale)
  //      dequant params). Pure per-row Column pipeline; codes are
  //      elementwise double arithmetic -> engine-exact, MSE folds
  //      left-to-right under the q_array_ops discipline ----
  def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.scalarQuantize(emb(s, dir), "vec_id", "embedding")
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  val qEmbedQuantizeSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
      |    (list_max(v) - list_min(v)) / 255.0 AS scale FROM e),
      |q AS (SELECT vec_id, v, mn, mx, scale,
      |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0
      |      ELSE CAST(least(255, greatest(0, floor((x - mn) / scale + 0.5))) AS INT)
      |      END) AS cs
      |  FROM m)
      |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
      |  round(mn, 6) AS mn, round(mx, 6) AS mx,
      |  md5(array_to_string(cs, ',')) AS codes_sig,
      |  round(list_sum(list_transform(range(1, len(v) + 1),
      |    i -> pow(v[i] - (mn + cs[i] * scale), 2))) / len(v), 6) AS mse
      |FROM q ORDER BY vec_id""".stripMargin

  // ---- PCA of the embedding table in deterministic integer
  //      arithmetic (Pca.scala): millis quantization → exact-long
  //      centered covariance (normalized by n so magnitudes are
  //      n-independent) → 8 power-iteration rounds per component
  //      with Gram-Schmidt re-orthogonalization — every
  //      accumulation an order-free long sum, every normalization
  //      one double expression of exact inputs, so the WHOLE fit
  //      (training included) replays in the oracle, like q_kmeans.
  //      Output: per-vector scores on the top-2 components ----
  private val PcaIters = 8
  def qEmbedPca(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = Pca.fit(e, "embedding", nComponents = 2, iters = PcaIters)
    Pca.project(e, "vec_id", "embedding", model).orderBy("vec_id")
  }
  val qEmbedPcaSql: String = {
    val dim = EmbedLshDim
    // component 1: plain power iteration (renorm to VScale each round)
    val comp1 = (1 to PcaIters).map { r =>
      val p = r - 1
      s"""pw$r AS MATERIALIZED (SELECT cov.i, CAST(sum(cn * v.v) AS BIGINT) AS w
         |  FROM cov JOIN p$p v ON cov.j = v.i GROUP BY 1),
         |p$r AS MATERIALIZED (SELECT i, CAST(floor(w::DOUBLE * 1000000.0 /
         |    (SELECT max(abs(w))::DOUBLE FROM pw$r)) AS BIGINT) AS v FROM pw$r)""".stripMargin
    }.mkString(",\n")
    // component 2: matvec -> renorm to OrthScale -> subtract the
    // projection onto component 1 (exact-long cross terms) -> renorm
    // to OrthScale -> renorm to VScale (the driver does the same two
    // floors, so the oracle replays both)
    val comp2 = (1 to PcaIters).map { r =>
      val p = r - 1
      s"""qw$r AS MATERIALIZED (SELECT cov.i, CAST(sum(cn * v.v) AS BIGINT) AS w
         |  FROM cov JOIN q$p v ON cov.j = v.i GROUP BY 1),
         |qh$r AS MATERIALIZED (SELECT i, CAST(floor(w::DOUBLE * 10000.0 /
         |    (SELECT max(abs(w))::DOUBLE FROM qw$r)) AS BIGINT) AS v FROM qw$r),
         |qn$r AS MATERIALIZED (SELECT CAST(sum(u.v * a.v) AS BIGINT) AS pn
         |  FROM qh$r u JOIN p$PcaIters a USING (i)),
         |qo$r AS MATERIALIZED (SELECT u.i,
         |    u.v * (SELECT pd FROM ppd) - a.v * (SELECT pn FROM qn$r) AS o
         |  FROM qh$r u JOIN p$PcaIters a USING (i)),
         |qp$r AS MATERIALIZED (SELECT i, CAST(floor(o::DOUBLE * 10000.0 /
         |    (SELECT max(abs(o))::DOUBLE FROM qo$r)) AS BIGINT) AS v FROM qo$r),
         |q$r AS MATERIALIZED (SELECT i, CAST(floor(v::DOUBLE * 1000000.0 /
         |    (SELECT max(abs(v))::DOUBLE FROM qp$r)) AS BIGINT) AS v FROM qp$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |x AS (SELECT id, i, CAST(floor(v[i] * 1000.0 + 0.5) AS BIGINT) AS m
       |  FROM e, generate_series(1, $dim) AS g(i)),
       |nn AS (SELECT count(*) AS n FROM e),
       |mu AS (SELECT i, CAST(floor(sum(m)::DOUBLE / count(*)::DOUBLE + 0.5) AS BIGINT) AS mu
       |  FROM x GROUP BY 1),
       |cx AS MATERIALIZED (SELECT id, x.i, m - mu AS c FROM x JOIN mu USING (i)),
       |cov AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
       |    CAST(floor(CAST(sum(a.c * b.c) AS BIGINT)::DOUBLE
       |      / (SELECT n FROM nn)::DOUBLE + 0.5) AS BIGINT) AS cn
       |  FROM cx a JOIN cx b USING (id) GROUP BY 1, 2),
       |p0 AS (SELECT i, 1000000::BIGINT AS v FROM generate_series(1, $dim) AS g(i)),
       |$comp1,
       |ppd AS MATERIALIZED (SELECT CAST(sum(v * v) AS BIGINT) AS pd FROM p$PcaIters),
       |q0 AS (SELECT i, CASE WHEN (i - 1) % 2 = 0 THEN 1000000::BIGINT
       |    ELSE -1000000::BIGINT END AS v
       |  FROM generate_series(1, $dim) AS g(i)),
       |$comp2
       |SELECT cx.id AS vec_id,
       |  CAST(sum(cx.c * a.v) AS BIGINT) AS pc1_raw,
       |  CAST(sum(cx.c * b.v) AS BIGINT) AS pc2_raw
       |FROM cx JOIN p$PcaIters a ON cx.i = a.i JOIN q$PcaIters b ON cx.i = b.i
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- k-means clustering as a first-class operator (topic/domain
  //      clustering for data curation — the IVF quantizer promoted to
  //      a user-facing partition of the corpus, profiled per cluster).
  //      Same deterministic Lloyd trainer, so the oracle replays
  //      training AND assignment; the mean cohesion is DECIMAL-summed
  //      over 6dp-rounded sims, so it is partition-order independent
  //      and engine-exact. ----
  private val KmK = 8
  private val KmIter = 5 // kmeansCentroids' default nIter cap
  def qKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterProfile(emb(s, dir), "vec_id", "embedding",
      nCentroids = KmK, nIter = KmIter)
      .orderBy("cid")
  /** Shared Lloyd-training + assignment CTE chain: `e`, `u`, `c0`,
    * the unrolled rounds ending at `c$iter`, then `asc_`/`assigned`
    * (per-vector winning cluster, raw-vector cosine at 6dp — exactly
    * [[Similarity.assignBuckets]]). Every oracle that trains the
    * quantizer replays this verbatim so the training replay is
    * written once. The caller appends its own final SELECT (and may
    * join `assigned` back to `e` for the raw vectors). */
  private def kmeansAssignedCtes(k: Int, iter: Int): String = {
    val dim = EmbedLshDim
    val rounds = (1 to iter).map { r =>
      val p = r - 1
      s"""cn$r AS (SELECT cid, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cn FROM c$p),
         |sc$r AS (SELECT id, u, cid, round(list_dot_product(u, cn), 9) AS sim FROM u, cn$r),
         |best$r AS (SELECT id, u, cid FROM (SELECT id, u, cid,
         |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn FROM sc$r) WHERE rn = 1),
         |cell$r AS (SELECT cid, i, round_even(sum(u[i]) / count(*), 6) AS m
         |  FROM best$r, generate_series(1, $dim) AS g(i) GROUP BY cid, i),
         |nc$r AS (SELECT cid, list(m ORDER BY i) AS cv FROM cell$r GROUP BY cid),
         |c$r AS (SELECT cn$r.cid, coalesce(nc$r.cv, cn$r.cn) AS cv FROM cn$r LEFT JOIN nc$r USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |u AS (SELECT id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
       |c0 AS (SELECT cid, cv FROM (SELECT row_number() OVER (ORDER BY ${Hashing.hash60Sql("id::VARCHAR")}, id) - 1 AS cid, u AS cv FROM u) WHERE cid < $k),
       |$rounds,
       |asc_ AS (SELECT e.id, c.cid,
       |    round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
       |  FROM e, c$iter c),
       |assigned AS (SELECT id, cid, sim FROM (SELECT id, cid, sim,
       |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn FROM asc_) WHERE rn = 1)""".stripMargin
  }
  val qKmeansSql: String =
    s"""WITH ${kmeansAssignedCtes(KmK, KmIter)}
       |SELECT cid, count(*) AS n_members,
       |  round(CAST(sum(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_sim
       |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin

  // ---- simplified (centroid-based) silhouette per cluster: the
  //      clustering-quality gauge over the SAME trained quantizer as
  //      q_kmeans (shared CTE chain) — a(x) = cosine distance to own
  //      centroid, b(x) = min over others, s = (b-a)/max(a,b);
  //      O(n·k), never the O(n²) full silhouette. Per-point values
  //      floor to micros before the per-cluster mean, so the result
  //      is partition-order independent and engine-exact ----
  /** Session-memoized k=8 trained quantizer shared by q_silhouette,
    * q_cluster_terms, q_label_noise and q_semdedup — the same
    * cost-not-content discipline as [[ivfCentroids]]: q_kmeans stays
    * on the LIVE trainer (it is the query that measures the Lloyd
    * training end to end); the four consumers serve from the stored
    * model exactly as a corpus-scale run would. Doubles survive
    * collect + re-literal bit-exactly, so every output is unchanged. */
  private val kmCentroidMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Long, Seq[Double])]]()
  graft.Memos.register(() => kmCentroidMemo.clear())
  private def kmCentroids(s: SparkSession, dir: String): DataFrame = {
    val rows = kmCentroidMemo.computeIfAbsent(dir, _ =>
      Similarity.kmeansCentroids(emb(s, dir), "vec_id", "embedding",
          KmK, KmIter)
        .collect().map(r => (r.getAs[Long]("cid"), r.getSeq[Double](1))))
    import s.implicits._
    s.createDataset(rows.toIndexedSeq).toDF("cid", "cv")
  }

  def qSilhouette(s: SparkSession, dir: String): DataFrame =
    Similarity.silhouette(emb(s, dir), "vec_id", "embedding",
        kmCentroids(s, dir))
      .orderBy("cid")
  val qSilhouetteSql: String =
    s"""WITH ${kmeansAssignedCtes(KmK, KmIter)},
       |sec AS (SELECT a.id, max(round(list_dot_product(e.v, c.cv) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)) AS b_sim
       |  FROM assigned a JOIN e ON e.id = a.id
       |  JOIN c$KmIter c ON c.cid <> a.cid GROUP BY a.id),
       |sm AS (SELECT a.cid, CAST(floor((CASE
       |      WHEN greatest(1.0::DOUBLE - a.sim, 1.0::DOUBLE - s.b_sim) = 0 THEN 0.0::DOUBLE
       |      ELSE ((1.0::DOUBLE - s.b_sim) - (1.0::DOUBLE - a.sim))
       |        / greatest(1.0::DOUBLE - a.sim, 1.0::DOUBLE - s.b_sim) END)
       |    * 1000000 + 0.5) AS BIGINT) AS m
       |  FROM assigned a JOIN sec s USING (id))
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
       |  floor(CAST(sum(m) AS BIGINT) / count(*) + 0.5) / 1000000 AS mean_sil
       |FROM sm GROUP BY cid ORDER BY cid""".stripMargin

  // ---- distinctive terms per embedding cluster (cluster topic
  //      labeling — the c-TF-IDF idea with exact integer LIFT instead
  //      of a float idf): which tokens are over-represented in each
  //      trained cluster's documents relative to the corpus. This is
  //      what a curator reads to decide whether a cluster is
  //      boilerplate, spam, or a topic worth keeping — the human face
  //      of q_kmeans. Same trained quantizer as q_kmeans (shared CTE
  //      chain), 1:1 vec_id = doc_id join; the corpus-sized work is
  //      one token explode + partial-agg counts; ranking happens on
  //      the (clusters × vocabulary)-bounded lift table. Headroom:
  //      n_tc · n_total · 10^6 needs n_total ≲ 10^9/n_tc — shard or
  //      sample beyond ~10^8 corpus tokens ----
  private val CtMinTc = 5L
  private val CtTopK = 5
  def qClusterTerms(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val assigned = Similarity.assignBuckets(e, "vec_id", "embedding",
        kmCentroids(s, dir))
      .select(col("id").as("doc_id"), col("cid"))
    TextAnalysis.groupTermLift(
        docs(s, dir).join(assigned, "doc_id"), "cid", "text",
        CtMinTc, CtTopK)
      .withColumnRenamed("grp", "cid")
      .orderBy("cid", "rnk")
  }
  val qClusterTermsSql: String =
    s"""WITH ${kmeansAssignedCtes(KmK, KmIter)},
       |tok AS (SELECT a.cid, t.term FROM (SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents) t JOIN assigned a ON t.doc_id = a.id),
       |tc AS (SELECT cid, term, CAST(count(*) AS BIGINT) AS n_tc
       |  FROM tok GROUP BY 1, 2 HAVING count(*) >= $CtMinTc),
       |tt AS (SELECT term, CAST(count(*) AS BIGINT) AS n_t FROM tok GROUP BY 1),
       |cg AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_c FROM tok GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
       |lft AS (SELECT tc.cid, tc.term, tc.n_tc, tt.n_t,
       |    (tc.n_tc * nn.n_total * 1000000) // (cg.n_c * tt.n_t) AS lift_micros
       |  FROM tc JOIN tt USING (term) JOIN cg USING (cid), nn)
       |SELECT cid, rnk, term, n_tc, n_t, lift_micros FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY cid
       |      ORDER BY lift_micros DESC, term ASC) AS BIGINT) AS rnk FROM lft)
       |WHERE rnk <= $CtTopK ORDER BY cid, rnk""".stripMargin

  // ---- label-noise screen (Wilson 1972's kNN noise filter,
  //      bucketed): per label, how well each vector's k nearest
  //      in-cluster neighbors agree with its own label, and how many
  //      vectors a majority votes AGAINST (agree < 0.5) — the
  //      mislabeled-sample / contaminated-class detector run before
  //      training on weak labels. Same trained quantizer as q_kmeans;
  //      the pair join is within-cluster (Σ cluster² bound), never
  //      corpus all-pairs ----
  private val LnK = 5
  def qLabelNoise(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.labelAgreement(e, "vec_id", "embedding", "label",
        kmCentroids(s, dir), LnK)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("agree_micros")).as("sa"),
        sum(when(col("agree_micros") < 500000L, 1L).otherwise(0L))
          .as("n_suspect"))
      .select(col("label"), col("n_vecs"),
        expr("sa div n_vecs").as("mean_agree_micros"), col("n_suspect"))
      .orderBy("label")
  }
  val qLabelNoiseSql: String =
    s"""WITH ${kmeansAssignedCtes(KmK, KmIter)},
       |lbl AS (SELECT vec_id AS id, label FROM embeddings),
       |av AS (SELECT a.id, a.cid, e.v, l.label
       |  FROM assigned a JOIN e ON e.id = a.id JOIN lbl l ON l.id = a.id),
       |pw AS (SELECT x.id, x.label, y.label AS nlabel, y.id AS nid,
       |    round(list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS c
       |  FROM av x JOIN av y ON x.cid = y.cid AND x.id <> y.id),
       |nb AS (SELECT id, label, nlabel FROM (SELECT *,
       |    row_number() OVER (PARTITION BY id ORDER BY c DESC, nid ASC) AS rn
       |  FROM pw) WHERE rn <= $LnK),
       |ag AS (SELECT id, label, CAST(count(*) AS BIGINT) AS k_actual,
       |    CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM nb GROUP BY 1, 2),
       |am AS (SELECT id, label,
       |    (n_agree * 1000000) // k_actual AS agree_micros FROM ag)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(agree_micros) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_agree_micros,
       |  CAST(sum(CASE WHEN agree_micros < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
       |FROM am GROUP BY 1 ORDER BY label""".stripMargin

  // ---- triplet mining (FaceNet recipe): per anchor, the hardest
  //      positive (same label, lowest cosine) and hardest negative
  //      (different label, highest cosine) + margin violation — the
  //      metric-learning data-prep op. ONE aggregation over a
  //      broadcast anchor set; ties break to the smallest id ----
  def qTripletMine(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.tripletMine(e, "vec_id", "embedding", "label",
      e.filter(col("vec_id") < 20), "vec_id", "embedding", "label")
      .orderBy("qid")
  }
  val qTripletMineSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |a AS (SELECT vec_id AS qid, label AS qlbl, v AS qv FROM e WHERE vec_id < 20),
      |sc AS (SELECT qid, qlbl, e.vec_id AS id, e.label AS lbl,
      |    round(list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))), 6) AS c
      |  FROM a, e WHERE e.vec_id <> qid),
      |p AS (SELECT qid, id AS pos_id, c AS pos_cos FROM (SELECT qid, id, c,
      |    row_number() OVER (PARTITION BY qid ORDER BY c ASC, id ASC) AS rn
      |  FROM sc WHERE lbl = qlbl) WHERE rn = 1),
      |n AS (SELECT qid, id AS neg_id, c AS neg_cos FROM (SELECT qid, id, c,
      |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id ASC) AS rn
      |  FROM sc WHERE lbl <> qlbl) WHERE rn = 1)
      |SELECT a.qid, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
      |  round(n.neg_cos - p.pos_cos, 6) AS violation
      |FROM a LEFT JOIN p ON a.qid = p.qid LEFT JOIN n ON a.qid = n.qid
      |ORDER BY a.qid""".stripMargin

  // ---- DBSCAN (density clustering with explicit noise): core /
  //      border / noise roles + exact CC cluster labels over the
  //      ε-cosine neighbor graph, on the same bounded slice as the
  //      exact near-dup baseline. The oracle replays pair join,
  //      density gate, recursive-CTE components, and the min-label
  //      border attachment. Like q_embed_neardup, this gate query is
  //      the EXACT all-pairs BASELINE on an explicitly BOUNDED input
  //      (vec_id < 1000): bench readers should treat its cost as
  //      O(n²) by construction. Its ε pair table is far under the
  //      one-task capacity (~1M directed edges), so the labelling after
  //      the pair join is one task and a fixed handful of jobs. The
  //      corpus-scale paths are Similarity.dbscanBucketed (SemDeDup
  //      k-means candidate buckets) and dbscanFromPairs fed SRP-LSH
  //      band pairs — DbscanSpec pins bucketed ≡ exact on planted
  //      geometry ----
  private val DbEps = 0.35
  private val DbMinPts = 4
  def qDbscan(s: SparkSession, dir: String): DataFrame =
    Similarity.dbscan(emb(s, dir).filter(col("vec_id") < 1000),
        "vec_id", "embedding", DbEps, DbMinPts)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  val qDbscanSql: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 1000),
       |nb AS MATERIALIZED (SELECT a.id AS i, b.id AS j FROM e a JOIN e b ON a.id < b.id
       |  WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $DbEps),
       |dg AS MATERIALIZED (SELECT id, count(*) AS nc FROM
       |  (SELECT i AS id FROM nb UNION ALL SELECT j AS id FROM nb) GROUP BY 1),
       |nd AS MATERIALIZED (SELECT e.id, coalesce(nc, 0) + 1 >= $DbMinPts AS is_core
       |  FROM e LEFT JOIN dg USING (id)),
       |ce AS MATERIALIZED (SELECT nb.i, nb.j FROM nb
       |  JOIN nd a ON nb.i = a.id AND a.is_core
       |  JOIN nd b ON nb.j = b.id AND b.is_core),
       |edges AS (SELECT i AS src, j AS dst FROM ce UNION SELECT j, i FROM ce),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT ed.src, r.lbl FROM edges ed JOIN reach r ON ed.dst = r.id),
       |ccl AS MATERIALIZED (SELECT id, min(lbl) AS cl FROM reach GROUP BY 1),
       |corecl AS MATERIALIZED (SELECT nd.id, coalesce(ccl.cl, nd.id) AS cluster
       |  FROM nd LEFT JOIN ccl USING (id) WHERE nd.is_core),
       |adj AS (SELECT i AS x, j AS y FROM nb UNION ALL SELECT j AS x, i AS y FROM nb),
       |bcl AS MATERIALIZED (SELECT adj.y AS id, min(corecl.cluster) AS bcl
       |  FROM adj JOIN corecl ON adj.x = corecl.id
       |  JOIN nd ON adj.y = nd.id AND NOT nd.is_core GROUP BY 1)
       |SELECT nd.id AS vec_id,
       |  CASE WHEN nd.is_core THEN 'core' WHEN bcl.id IS NOT NULL THEN 'border'
       |    ELSE 'noise' END AS role,
       |  CASE WHEN nd.is_core THEN corecl.cluster ELSE bcl.bcl END AS cluster
       |FROM nd LEFT JOIN corecl USING (id) LEFT JOIN bcl USING (id)
       |ORDER BY vec_id""".stripMargin

  // ---- DBSCAN from an EXTERNAL candidate pair table — the 100 TB
  //      entry point (Similarity.dbscanFromPairs): the quadratic
  //      candidate step is the generator's to bound, here the shared
  //      banded-LSH near-dup mine (threshold-filtered to strong
  //      near-dups). Where q_dbscan is the bounded exact all-pairs
  //      BASELINE, this gate-verifies the scale path end to end:
  //      density gate over witness pairs, CC core labels, min-label
  //      border attachment. Nodes = the WHOLE corpus (no slice): the
  //      per-node work is one left join against the pair-degree table
  //      — pairs, not nodes, dominate the cost — so every doc gets a
  //      role and docs outside the mined slice surface as noise,
  //      exactly the shape a corpus-scale run has. ----
  private val DbLshJac = 0.9
  private val DbLshMinPts = 4
  def qDbscanLsh(s: SparkSession, dir: String): DataFrame = {
    val nodes = docs(s, dir).select(col("doc_id").as("id"))
    val pairs = lshDupPairs(s, dir).filter(col("jaccard") >= DbLshJac)
    Similarity.dbscanFromPairs(nodes, pairs, DbLshMinPts)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  val qDbscanLshSql: String =
    s"""WITH RECURSIVE ${lshPairsCtes()},
       |nb AS MATERIALIZED (SELECT i, j FROM prs WHERE jaccard >= $DbLshJac),
       |nd0 AS (SELECT doc_id AS id FROM documents),
       |dg AS MATERIALIZED (SELECT id, count(*) AS nc FROM
       |  (SELECT i AS id FROM nb UNION ALL SELECT j AS id FROM nb) GROUP BY 1),
       |nd AS MATERIALIZED (SELECT nd0.id, coalesce(nc, 0) + 1 >= $DbLshMinPts AS is_core
       |  FROM nd0 LEFT JOIN dg USING (id)),
       |ce AS MATERIALIZED (SELECT nb.i, nb.j FROM nb
       |  JOIN nd a ON nb.i = a.id AND a.is_core
       |  JOIN nd b ON nb.j = b.id AND b.is_core),
       |edges AS (SELECT i AS src, j AS dst FROM ce UNION SELECT j, i FROM ce),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT ed.src, r.lbl FROM edges ed JOIN reach r ON ed.dst = r.id),
       |ccl AS MATERIALIZED (SELECT id, min(lbl) AS cl FROM reach GROUP BY 1),
       |corecl AS MATERIALIZED (SELECT nd.id, coalesce(ccl.cl, nd.id) AS cluster
       |  FROM nd LEFT JOIN ccl USING (id) WHERE nd.is_core),
       |adj AS (SELECT i AS x, j AS y FROM nb UNION ALL SELECT j AS x, i AS y FROM nb),
       |bcl AS MATERIALIZED (SELECT adj.y AS id, min(corecl.cluster) AS bcl
       |  FROM adj JOIN corecl ON adj.x = corecl.id
       |  JOIN nd ON adj.y = nd.id AND NOT nd.is_core GROUP BY 1)
       |SELECT nd.id AS doc_id,
       |  CASE WHEN nd.is_core THEN 'core' WHEN bcl.id IS NOT NULL THEN 'border'
       |    ELSE 'noise' END AS role,
       |  CASE WHEN nd.is_core THEN corecl.cluster ELSE bcl.bcl END AS cluster
       |FROM nd LEFT JOIN corecl USING (id) LEFT JOIN bcl USING (id)
       |ORDER BY doc_id""".stripMargin

  // ---- SemDeDup (Abbas et al. 2023): semantic dedup by k-means
  //      clustering + within-cluster greedy cosine pair rule (drop b
  //      iff a smaller-id cluster-mate has cos >= thr). Same trained
  //      quantizer as q_kmeans (shared CTE chain); the within-cluster
  //      restriction is what bounds candidates at corpus scale:
  //      sum of cluster^2, not n^2 ----
  private val SemThr = 0.3
  def qSemdedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupWith(emb(s, dir), "vec_id", "embedding",
      kmCentroids(s, dir), simThreshold = SemThr)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  val qSemdedupSql: String =
    s"""WITH ${kmeansAssignedCtes(KmK, KmIter)},
       |av AS (SELECT a.id, a.cid, e.v FROM assigned a JOIN e ON a.id = e.id),
       |drp AS (SELECT DISTINCT b.id FROM av a JOIN av b
       |    ON a.cid = b.cid AND a.id < b.id
       |  WHERE round(list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= $SemThr)
       |SELECT av.id AS vec_id, av.cid, (d.id IS NULL) AS keep
       |FROM av LEFT JOIN drp d ON av.id = d.id
       |ORDER BY vec_id""".stripMargin

  // ---- event sessionization (gaps-and-islands) ----
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessionize(Tables.load(s, dir, "events"))
      .orderBy("user_id", "session_id")
  val qSessionizeSql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
       |l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > ${Sessionize.DefaultGapMs} THEN 1 ELSE 0 END AS is_new FROM l),
       |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f)
       |SELECT user_id, session_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- daily event statistics (batch windowing over event time;
  //      day index from exact ms arithmetic, schema-adaptive ts) ----
  def qEventDaily(s: SparkSession, dir: String): DataFrame =
    Tables.loadEventsMs(s, dir)
      .groupBy(expr("ts_ms div 86400000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day", "event_type")
  val qEventDailySql: String =
    """SELECT epoch_ms(ts) // 86400000 AS day, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- cohort retention (the product-analytics triangle: first
  //      active day = cohort; cell = users active offset days later).
  //      Day index from exact ms arithmetic, schema-adaptive ts ----
  def qRetention(s: SparkSession, dir: String): DataFrame =
    Retention.cohortRetention(
      Tables.loadEventsMs(s, dir)
        .withColumn("day", expr("ts_ms div 86400000")),
      "user_id", "day")
      .orderBy("cohort_day", "day_offset")
  val qRetentionSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |c AS (SELECT user_id, day,
      |  min(day) OVER (PARTITION BY user_id) AS cohort_day FROM ud)
      |SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- exponentially time-decayed activity (recency weighting for
  //      freshness-aware sampling): per-user score where each event
  //      contributes value · 2^(−age/halflife) against the DATA-
  //      derived horizon (corpus max event time); per-event micros
  //      rounding keeps the sum an exact long ----
  private val DecayHalfLifeMs = 604800000L // 7 days
  def qDecayScore(s: SparkSession, dir: String): DataFrame =
    Retention.decayedScore(
        Tables.loadEventsMs(s, dir), "user_id", "ts_ms", "value",
        DecayHalfLifeMs)
      .select(col("key").as("user_id"), col("n_events"), col("decay_micros"))
      .orderBy("user_id")
  val qDecayScoreSql: String =
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
       |t AS (SELECT max(ms) AS t_max FROM e)
       |SELECT user_id, count(*) AS n_events,
       |  CAST(sum(CAST(floor(value * pow(2.0, -(t_max - ms) / $DecayHalfLifeMs.0) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS decay_micros
       |FROM e, t GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- trailing-window daily features (the feature-store shape):
  //      per (user, active day) the day's activity plus 7-day rolling
  //      totals and the gap since the previous active day. Corpus work
  //      is ONE partial-agg rollup to (user, day); the window sorts
  //      then run over calendar-bounded per-user day series, never raw
  //      events. Day-level micros rounding makes rolling sums exact
  //      longs (double range-frame sums would be order-sensitive) ----
  private val RollWinDays = 7
  def qRollingFeatures(s: SparkSession, dir: String): DataFrame =
    Retention.rollingDailyFeatures(
        Tables.loadEventsMs(s, dir), "user_id", "ts_ms", "value",
        RollWinDays)
      .select(col("key").as("user_id"), col("day"), col("n_events"),
        col("v_micros"), col("n_win"), col("v_win_micros"),
        col("days_since_prev"))
      .orderBy("user_id", "day")
  val qRollingFeaturesSql: String =
    s"""WITH daily AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
       |    count(*) AS n_events,
       |    CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS v_micros
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, day, n_events, v_micros,
       |  CAST(sum(n_events) OVER w AS BIGINT) AS n_win,
       |  CAST(sum(v_micros) OVER w AS BIGINT) AS v_win_micros,
       |  day - lag(day, 1) OVER (PARTITION BY user_id ORDER BY day) AS days_since_prev
       |FROM daily
       |WINDOW w AS (PARTITION BY user_id ORDER BY day
       |  RANGE BETWEEN ${RollWinDays - 1} PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, day""".stripMargin

  // ---- multimodal: binary column + batched feature extraction ----
  def qMultimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.featuresFromDocuments(s, docs(s, dir))
      .select(col("media_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
        col("sig"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy("media_id")
  val qMultimodalSql: String =
    """SELECT doc_id AS media_id, 'image' AS kind,
      |  octet_length(encode(text)) AS n_bytes, md5(text) AS sig,
      |  octet_length(encode(text)) % 64 + 1 AS width,
      |  octet_length(encode(text)) % 48 + 1 AS height
      |FROM documents ORDER BY media_id""".stripMargin

  // ---- audio metadata plumbing (real javax.sound header reads for
  //      WAV/AIFF/AU payloads — spec-pinned on a generated WAV; the
  //      text-derived corpus takes the deterministic stub, which the
  //      oracle replays) ----
  def qAudioMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.extractAudioFeatures(
        Multimodal.mediaFromDocuments(docs(s, dir)).as[MediaRecord])
      .toDF()
      .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_frames"), col("duration_ms"))
      .orderBy("media_id")
  }
  val qAudioMetaSql: String =
    """WITH b AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n FROM documents)
      |SELECT media_id, n AS n_bytes,
      |  n % 40000 + 8000 AS sample_rate,
      |  n % 2 + 1 AS channels,
      |  n % 1000 + 1 AS n_frames,
      |  (n % 1000 + 1) * 1000 // (n % 40000 + 8000) AS duration_ms
      |FROM b ORDER BY media_id""".stripMargin

  // ---- rolling hash / content-defined chunking over the byte payload
  //      (incremental Rabin-Karp expression vs the direct per-window
  //      polynomial in SQL — mathematically identical values) ----
  private val RhWindow = 8
  def qRollingHash(s: SparkSession, dir: String): DataFrame = {
    val rh = graft.functions.RollingHash.rollingHash(
      col("text").cast("binary"), RhWindow)
    docs(s, dir)
      .select(col("doc_id"), rh.as("rh"))
      .select(col("doc_id"),
        size(col("rh")).cast("long").as("n_windows"),
        array_min(col("rh")).as("min_hash"),
        size(filter(col("rh"), h => h % 64 === 0)).cast("long").as("n_chunks"))
      .orderBy("doc_id")
  }
  val qRollingHashSql: String = {
    val b = graft.functions.RollingHash.B
    val p = graft.functions.RollingHash.P
    // direct formula: Σ_j byte(i+j)·B^(w-1-j) mod P, powers as literals
    val pows = (0 until RhWindow).map(j =>
      (0 until (RhWindow - 1 - j)).foldLeft(1L)((acc, _) => acc * b % p))
    val terms = (0 until RhWindow).map(j =>
      s"${pows(j)}::BIGINT * ascii(substr(text, i + $j, 1))").mkString(" + ")
    s"""WITH r AS (
       |  SELECT doc_id,
       |    [($terms) % $p FOR i IN range(1, octet_length(encode(text)) - ${RhWindow - 2})] AS rh
       |  FROM documents)
       |SELECT doc_id, len(rh) AS n_windows, list_min(rh) AS min_hash,
       |  len(list_filter(rh, h -> h % 64 = 0)) AS n_chunks
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---- multimodal: resize (stride-downsample stub) ----
  def qResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resize(Multimodal.mediaFromDocuments(docs(s, dir)), factor = 4)
      .select(col("media_id"), md5(col("content_small")).as("small_sig"),
        col("n_bytes_small"))
      .orderBy("media_id")
  val qResizeSql: String =
    """SELECT doc_id AS media_id,
      |  md5(array_to_string([substr(text, i, 1) FOR i IN range(1, length(text) + 1, 4)], '')) AS small_sig,
      |  len(range(1, length(text) + 1, 4))::BIGINT AS n_bytes_small
      |FROM documents ORDER BY media_id""".stripMargin

  // ---- multimodal: frame sampling (binary slicing) ----
  def qFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.mediaFromDocuments(docs(s, dir)), frameSize = 32, stride = 16)
      .select(col("media_id"), col("offset").cast("long").as("frame_off"),
        md5(col("frame")).as("frame_sig"))
      .orderBy("media_id", "frame_off")
  val qFrameSampleSql: String =
    """SELECT doc_id AS media_id, CAST(frame_off AS BIGINT) AS frame_off,
      |  md5(substr(text, frame_off, 32)) AS frame_sig
      |FROM documents,
      |  LATERAL (SELECT unnest(generate_series(1, greatest(octet_length(encode(text)) - 31, 1), 16)) AS frame_off)
      |ORDER BY media_id, frame_off""".stripMargin

  // ---- TF-IDF: top-3 terms per document (smoothed idf; ranked by the
  //      ROUNDED score with a term tiebreak so the cutoff is portable) ----
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val base = TextAnalysis
      .tfIdf(docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text")
      .withColumn("tfidf", r6x(col("tfidf")))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    base.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }
  val qTfidfSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($SplitToksLowerSql) AS term
       |  FROM documents WHERE doc_id < 100),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents WHERE doc_id < 100),
       |sc AS (SELECT doc_id, term, tf, df,
       |    ${r6xSql("tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0)")} AS tfidf
       |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
       |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rnk FROM sc)
       |SELECT doc_id, term, tf, df, tfidf, rnk FROM rk
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ---- PII redaction (emails/phones → placeholder tags + counts).
  //      The test corpus contains no PII, so the oracle's job here is
  //      regex DIALECT parity (Java vs RE2) and pipeline shape; the
  //      behavioral check on planted PII lives in ExtOpsSpec ----
  def qRedact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.emailCount(col("text")).cast("long").as("n_emails"),
      TextAnalysis.phoneCount(col("text")).cast("long").as("n_phones"),
      md5(TextAnalysis.redactPii(col("text"))).as("redacted_sig"))
      .orderBy("doc_id")
  val qRedactSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS n_emails,
       |  len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS n_phones,
       |  md5(regexp_replace(regexp_replace(text,
       |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
       |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g')) AS redacted_sig
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- Gopher-style repetition signals (dominant-token share,
  //      duplicate-token fraction) — degenerate-text screens ----
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_distinct"),
        r6x(col("top_ratio")).as("top_ratio"),
        r6x(col("dup_ratio")).as("dup_ratio"))
      .orderBy("doc_id")
  val qRepetitionSql: String =
    s"""WITH t AS (SELECT doc_id, unnest($SplitToksLowerSql) AS tok FROM documents),
       |c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
       |  ${r6xSql("max(n)::DOUBLE / sum(n)")} AS top_ratio,
       |  ${r6xSql("1.0 - count(*)::DOUBLE / sum(n)")} AS dup_ratio
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- Gopher n-gram repetition screens (sequence-aware: repeated
  //      PHRASES, which the unigram q_repetition signals can't see) ----
  def qNgramRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramRepetitionStats(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"),
        r6x(col("top2_ratio")).as("top2_ratio"),
        r6x(col("dup2_ratio")).as("dup2_ratio"),
        r6x(col("top3_ratio")).as("top3_ratio"),
        r6x(col("dup3_ratio")).as("dup3_ratio"))
      .orderBy("doc_id")
  val qNgramRepetitionSql: String =
    s"""WITH t AS (SELECT doc_id, $SplitToksLowerSql AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, 2 AS n, toks[i] || ' ' || toks[i+1] AS gram
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
       |  UNION ALL
       |  SELECT doc_id, 3, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t)),
       |c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
       |a AS (SELECT doc_id, n, sum(cnt) AS total, count(*) AS dist, max(cnt) AS top
       |  FROM c GROUP BY 1, 2)
       |SELECT d.doc_id,
       |  coalesce(max(CASE WHEN n = 2 THEN ${r6xSql("top::DOUBLE / total")} END), 0.0) AS top2_ratio,
       |  coalesce(max(CASE WHEN n = 2 THEN ${r6xSql("1.0 - dist::DOUBLE / total")} END), 0.0) AS dup2_ratio,
       |  coalesce(max(CASE WHEN n = 3 THEN ${r6xSql("top::DOUBLE / total")} END), 0.0) AS top3_ratio,
       |  coalesce(max(CASE WHEN n = 3 THEN ${r6xSql("1.0 - dist::DOUBLE / total")} END), 0.0) AS dup3_ratio
       |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- deterministic stratified sampling (hash-Bernoulli per
  //      stratum: pure filter, reproducible, partition-independent) ----
  def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(Tables.load(s, dir, "events"), "event_type", "event_id",
        Map("click" -> 200, "purchase" -> 500), defaultPermille = 50)
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id")
  val qSampleStratifiedSql: String =
    s"""SELECT event_id, event_type FROM events
       |WHERE ${Hashing.hash60Sql("event_id")} % 1000 <
       |  CASE event_type WHEN 'click' THEN 200 WHEN 'purchase' THEN 500 ELSE 50 END
       |ORDER BY event_id""".stripMargin

  // ---- mixture rebalancing: per-source rates derived IN-PLAN from
  //      target shares and observed weights (the data-mixing step of
  //      corpus construction); integer-exact rate arithmetic so the
  //      keep decision is bit-identical across engines ----
  private val MixtureShares = Seq(
    "src0" -> 400, "src1" -> 300, "src2" -> 200, "src3" -> 50, "src4" -> 50)
  private val MixtureBudget = 20000L // chars; > W_src0·0.4 at sf0.01 → exercises the keep-all cap
  def qMixtureSample(s: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(docs(s, dir), "source", "doc_id", "n_chars",
        MixtureShares.toMap, MixtureBudget)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  val qMixtureSampleSql: String = {
    val targetRows = MixtureShares
      .map { case (k, v) => s"('$k', $v)" }.mkString(", ")
    s"""WITH w AS (SELECT source, sum(n_chars) AS w FROM documents GROUP BY 1),
       |t(source, share_pm) AS (VALUES $targetRows),
       |r AS (SELECT w.source,
       |    least(1000000, ((${MixtureBudget}::HUGEINT * share_pm) // 1000) * 1000000 // w) AS ppm
       |  FROM w JOIN t ON w.source = t.source)
       |SELECT d.doc_id, d.source, d.n_chars
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE ${Hashing.hash60Sql("doc_id")} % 1000000 < ppm
       |ORDER BY doc_id""".stripMargin
  }

  // ---- deterministic fixed-size sample per stratum (rank-based
  //      reservoir: the n smallest id-hashes of each stratum) ----
  def qSampleFixed(s: SparkSession, dir: String): DataFrame =
    Sampling.fixedPerStratum(Tables.load(s, dir, "events"),
        "event_type", "event_id", n = 20)
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id")
  val qSampleFixedSql: String =
    s"""SELECT event_id, event_type FROM (
       |  SELECT event_id, event_type,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY ${Hashing.hash60Sql("event_id")}, event_id) AS rn
       |  FROM events) WHERE rn <= 20 ORDER BY event_id""".stripMargin

  // ---- KMV distinct-count sketch (deterministic, engine-portable;
  //      exact below k — see q_hll_distinct for the HLL sibling) ----
  private val KmvK = 64
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame =
    Sampling.kmvDistinct(Tables.load(s, dir, "events"), "user_id", KmvK)
  val qKmvDistinctSql: String =
    s"""WITH h AS (SELECT DISTINCT ${Hashing.hash60Sql("user_id")} AS h FROM events),
       |k AS (SELECT h FROM h ORDER BY h LIMIT $KmvK),
       |a AS (SELECT count(*) AS k_actual, max(h) AS kth_hash FROM k)
       |SELECT k_actual, kth_hash,
       |  ${r6xSql(s"CASE WHEN k_actual < $KmvK THEN k_actual::DOUBLE ELSE ${KmvK - 1}.0 * 1152921504606846976.0 / kth_hash END")} AS est_distinct
       |FROM a""".stripMargin

  // ---- KMV set algebra: estimated UNION / INTERSECTION / Jaccard of
  //      two distinct-user sets from their bottom-k sketches — the
  //      audience-overlap question ("how many high-value purchasers
  //      also click?") answered from two k·8-byte sketches instead of
  //      a full distinct join. Standard bottom-k estimator: the
  //      bottom-k of A ∪ B is itself a uniform sample of the union,
  //      so |A∩B| / |A∪B| ≈ (members of the sample in BOTH sets) / k.
  //      Exact counterparts ride along so the estimate's error is in
  //      the row, like q_dedup_eval / q_ann_eval ----
  private val KovK = 64
  private val KovLo = 200.0
  def qKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    def side(t: String) =
      ev.filter(col("event_type") === t && col("value") > KovLo)
        .select(Hashing.hash60(col("user_id").cast("string")).as("h"))
        .distinct()
    val ha = side("purchase")
    val hb = side("click")
    // bottom-k of the union: TakeOrdered (per-partition heaps), never
    // a global sort
    val u = ha.unionAll(hb).distinct().orderBy("h").limit(KovK)
    val st = u
      .join(ha.withColumn("ina", lit(1L)), Seq("h"), "left")
      .join(hb.withColumn("inb", lit(1L)), Seq("h"), "left")
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth"),
        sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
    val ex = ha.withColumn("a", lit(1L))
      .join(hb.withColumn("b", lit(1L)), Seq("h"), "full")
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("a").isNotNull && col("b").isNotNull, 1L)
          .otherwise(0L)).as("exact_inter"))
    val twoPow60 = 1152921504606846976.0
    val unionRaw = when(col("k_used") < KovK, col("k_used").cast("double"))
      .otherwise(lit((KovK - 1).toDouble) * lit(twoPow60)
        / col("kth").cast("double"))
    val jac = col("n_both").cast("double") / col("k_used").cast("double")
    st.crossJoin(ex)
      .select(col("k_used"), col("n_both"),
        r6x(unionRaw).as("union_est"),
        r6x(jac * unionRaw).as("inter_est"),
        floor(jac * lit(1000000.0) + lit(0.5)).cast("long")
          .as("jaccard_micros"),
        col("exact_union"), col("exact_inter"))
  }
  val qKmvOverlapSql: String = {
    val h = Hashing.hash60Sql("user_id::VARCHAR")
    val uRaw = s"CASE WHEN k_used < $KovK THEN k_used::DOUBLE " +
      s"ELSE ${KovK - 1}.0 * 1152921504606846976.0 / kth::DOUBLE END"
    val jac = "n_both::DOUBLE / k_used::DOUBLE"
    s"""WITH a AS (SELECT DISTINCT $h AS h FROM events
       |  WHERE event_type = 'purchase' AND value > $KovLo),
       |b AS (SELECT DISTINCT $h AS h FROM events
       |  WHERE event_type = 'click' AND value > $KovLo),
       |u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
       |  ORDER BY h LIMIT $KovK),
       |st AS (SELECT count(*) AS k_used, max(h) AS kth,
       |    CAST(sum(CASE WHEN h IN (SELECT h FROM a)
       |      AND h IN (SELECT h FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_both
       |  FROM u),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
       |    CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
       |  FROM a FULL JOIN b ON a.h = b.h)
       |SELECT k_used, n_both,
       |  ${r6xSql(uRaw)} AS union_est,
       |  ${r6xSql(s"($jac) * ($uRaw)")} AS inter_est,
       |  CAST(floor(($jac) * 1000000.0 + 0.5) AS BIGINT) AS jaccard_micros,
       |  exact_union, exact_inter
       |FROM st, ex""".stripMargin
  }

  // ---- HyperLogLog distinct-count sketch. KMV's comment above used
  //      to read "unlike HLL it hash-matches a SQL oracle exactly" —
  //      no longer true: pinning rho to `53 - length(bin(w))` (bin
  //      prints unpadded in BOTH engines), keeping the harmonic sum
  //      as an exact scaled long, and precomputing the 256 linear-
  //      counting values into a shared table removes every libm call
  //      from the replay path, so the industry-default sketch now
  //      hash-matches too. Two metrics on purpose: event_id (~10k
  //      distinct at sf0.01) exercises the raw harmonic-mean branch,
  //      user_id (~150) the linear-counting branch — and user_id
  //      crosses INTO the raw branch as the tiers scale up ----
  /** Shared estimator replay: takes a `vals(key, v)` CTE body, emits
    * registers → exact scaled harmonic sum → branch → est vs exact.
    * `keyAlias` names the key column in the final output. */
  private def hllEstSql(valsCte: String, keyAlias: String): String = {
    val lc = Hll.LinearCount.drop(1).mkString(", ")
    val a = Hll.AlphaM2TwoPow53
    s"""WITH vals AS ($valsCte),
       |hh AS (SELECT key, ${Hashing.hash60Sql("v")} AS h FROM vals
       |  WHERE v IS NOT NULL),
       |rh AS (SELECT key, h % 256 AS bucket,
       |    CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rho
       |  FROM hh),
       |regs AS (SELECT key, bucket, max(rho) AS r FROM rh GROUP BY 1, 2),
       |ag AS (SELECT key, CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS sp,
       |    count(*) AS p FROM regs GROUP BY 1),
       |hs AS (SELECT key, sp + (256 - p) * 9007199254740992 AS s, 256 - p AS nv FROM ag),
       |est AS (SELECT key, CAST(256 - nv AS BIGINT) AS n_buckets_set,
       |    CASE WHEN ($a / s::DOUBLE) <= 640.0 AND nv > 0
       |      THEN list_extract([$lc], nv)
       |      ELSE CAST(floor($a / s::DOUBLE + 0.5) AS BIGINT) END AS est_distinct
       |  FROM hs),
       |ex AS (SELECT key, count(DISTINCT v) AS exact_distinct FROM vals GROUP BY 1)
       |SELECT est.key AS $keyAlias, n_buckets_set, est_distinct, exact_distinct,
       |  CAST(floor(abs(est_distinct - exact_distinct)::DOUBLE
       |    / exact_distinct::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS err_micros
       |FROM est JOIN ex USING (key) ORDER BY $keyAlias""".stripMargin
  }

  /** est/exact/err columns shared by both HLL queries. */
  private def hllReport(est: DataFrame, exact: DataFrame,
                        keyAlias: String): DataFrame =
    est.join(exact, "key")
      .select(col("key").as(keyAlias), col("n_buckets_set"),
        col("est_distinct"), col("exact_distinct"),
        floor(abs(col("est_distinct") - col("exact_distinct")).cast("double")
          / col("exact_distinct").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("err_micros"))
      .orderBy(keyAlias)

  def qHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val vals = ev.select(lit("event_id").as("key"),
        col("event_id").cast("string").as("v"))
      .unionAll(ev.select(lit("user_id").as("key"),
        col("user_id").cast("string").as("v")))
    val exact = vals.groupBy("key")
      .agg(countDistinct(col("v")).as("exact_distinct"))
    hllReport(Sketches.hllPerGroup(vals, "key", "v"), exact, "metric")
  }
  val qHllDistinctSql: String = hllEstSql(
    """SELECT 'event_id' AS key, event_id::VARCHAR AS v FROM events
      |  UNION ALL SELECT 'user_id' AS key, user_id::VARCHAR AS v FROM events""".stripMargin,
    "metric")

  def qHllGroups(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val exact = ev.groupBy(col("event_type").as("key"))
      .agg(countDistinct(col("user_id").cast("string")).as("exact_distinct"))
    hllReport(Sketches.hllPerGroup(ev, "event_type", "user_id"), exact,
      "event_type")
  }
  val qHllGroupsSql: String = hllEstSql(
    "SELECT event_type AS key, user_id::VARCHAR AS v FROM events",
    "event_type")

  // ---- mergeable persisted HLL sketches: per-DAY register tables
  //      merged across days (sketch-as-data — the 100 TB rollup shape:
  //      each ingest day reduces to a days × keys × 256-row parquet
  //      table; distinct-users-over-any-date-range then merges
  //      REGISTERS, never rescans raw events). The query builds the
  //      daily register table, merges it across all days, and asserts
  //      the mergeability contract in-row: the merged estimate must
  //      EQUAL the single-shot UDAF estimate over the concatenated
  //      days (register max of maxes ≡ global max — lossless). Spark
  //      exercises two independent code paths (relational register
  //      pipeline vs HllAggregator); the oracle replays the register
  //      math ----
  def qHllUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEventsMs(s, dir)
      .select(expr("ts_ms div 86400000").as("day"),
        col("event_type"), col("user_id"))
    val regs = Sketches.hllRegisters(ev, "day", "event_type", "user_id")
    val merged = Sketches.hllMergeEstimate(regs)
    val single = Sketches.hllPerGroup(ev, "event_type", "user_id")
      .select(col("key"), col("est_distinct").as("single_est"))
    val exact = ev.groupBy(col("event_type").as("key"))
      .agg(countDistinct(col("user_id").cast("string")).as("exact_distinct"))
    val nb = regs.groupBy("key")
      .agg(countDistinct(col("batch")).as("n_batches"))
    merged.join(single, "key").join(exact, "key").join(nb, "key")
      .select(col("key").as("event_type"), col("n_batches"),
        col("n_buckets_set"), col("est_distinct"),
        (col("est_distinct") === col("single_est")).as("merge_invariant"),
        col("exact_distinct"))
      .orderBy("event_type")
  }
  val qHllUnionSql: String = {
    val lc = Hll.LinearCount.drop(1).mkString(", ")
    val a = Hll.AlphaM2TwoPow53
    s"""WITH ev AS (SELECT epoch_ms(ts) // 86400000 AS day,
       |    event_type AS key, user_id::VARCHAR AS v FROM events
       |  WHERE user_id IS NOT NULL),
       |hh AS (SELECT day, key, ${Hashing.hash60Sql("v")} AS h FROM ev),
       |rh AS (SELECT day, key, h % 256 AS bucket,
       |    CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rho
       |  FROM hh),
       |regs AS (SELECT day, key, bucket, max(rho) AS r FROM rh GROUP BY 1, 2, 3),
       |mrg AS (SELECT key, bucket, max(r) AS r FROM regs GROUP BY 1, 2),
       |ag AS (SELECT key, CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS sp,
       |    count(*) AS p FROM mrg GROUP BY 1),
       |hs AS (SELECT key, sp + (256 - p) * 9007199254740992 AS s, 256 - p AS nv FROM ag),
       |est AS (SELECT key, CAST(256 - nv AS BIGINT) AS n_buckets_set,
       |    CASE WHEN ($a / s::DOUBLE) <= 640.0 AND nv > 0
       |      THEN list_extract([$lc], nv)
       |      ELSE CAST(floor($a / s::DOUBLE + 0.5) AS BIGINT) END AS est_distinct
       |  FROM hs),
       |nb AS (SELECT key, count(DISTINCT day) AS n_batches FROM regs GROUP BY 1),
       |ex AS (SELECT key, count(DISTINCT v) AS exact_distinct FROM ev GROUP BY 1)
       |SELECT est.key AS event_type, nb.n_batches, est.n_buckets_set,
       |  est.est_distinct, TRUE AS merge_invariant, ex.exact_distinct
       |FROM est JOIN nb USING (key) JOIN ex USING (key)
       |ORDER BY event_type""".stripMargin
  }

  // ---- streaming sessionization, driven synchronously (AvailableNow →
  //      memory sink): the streaming engine's answer must match the
  //      batch oracle for every session CLOSED by a later event (the
  //      still-open tail session per user stays in state) ----
  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger()

  /** Block until an AvailableNow stream finishes, and fail LOUDLY on
    * timeout: a silently-still-running stream would read a partial (or
    * empty) memory table and surface as a baffling data mismatch in
    * the correctness gate instead of the real error. */
  private def awaitStreamOrFail(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long = 300000L): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query '${q.name}' still running after $timeoutMs ms")
    }

  /** A stateful streaming query's state-store count is pinned at start
    * from spark.sql.shuffle.partitions — an independent deploy decision
    * from the batch session's width: every micro-batch COMMITS every
    * store (delta file + fsync), so the count should track the
    * stream's key cardinality and throughput, not the cluster's batch
    * parallelism (a 32-wide batch session replaying one file would pay
    * 32 store commits per stateful op per batch for single-digit-MB
    * state; a production job sizes this to keys/throughput and scales
    * executors independently). Runs `body` (start + await) with the
    * conf pinned to `n`, restoring the session's value after — the
    * batch plans before and after are untouched. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** State-store count for the bounded single-file replays the gate
    * and bench drive (sf0.001–sf1): small enough that per-batch store
    * commits don't dominate, wide enough to keep all cores busy at the
    * largest replayed tier. */
  private val StreamStatePartitions = 8
  def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_sess_${streamRuns.incrementAndGet()}"
    withStatePartitions(s, StreamStatePartitions) {
      val q = graft.streaming.StreamingSessionize.sessionize(
          graft.streaming.StreamingSessionize.readEventStream(s, dir))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitStreamOrFail(q)
    }
    s.table(name)
      .select(col("user_id"), col("session_id"), col("start_ms"), col("end_ms"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "session_id")
  }
  val qStreamSessionizeSql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
       |l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > ${Sessionize.DefaultGapMs} THEN 1 ELSE 0 END AS is_new FROM l),
       |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f),
       |agg AS (SELECT user_id, session_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       |    count(*) AS n_events,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
       |  FROM s GROUP BY 1, 2),
       |mx AS (SELECT user_id, max(session_id) AS last_sid FROM agg GROUP BY 1)
       |SELECT user_id, session_id, start_ms, end_ms, n_events, sum_value
       |FROM agg JOIN mx USING (user_id) WHERE session_id <> last_sid
       |ORDER BY user_id, session_id""".stripMargin

  // ---- exact corpus heavy hitters (top-k tokens by frequency) ----
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.heavyHitters(docs(s, dir), "text", k = 10)
      .select(col("term"), col("n"), r6x(col("share")).as("share"))
      .orderBy(col("n").desc, col("term"))
  val qHeavyHittersSql: String =
    s"""WITH t AS (SELECT unnest($SplitToksLowerSql) AS term FROM documents),
       |c AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
       |tot AS (SELECT sum(n) AS n_total FROM c)
       |SELECT term, n, ${r6xSql("n::DOUBLE / n_total")} AS share
       |FROM c, tot ORDER BY n DESC, term LIMIT 10""".stripMargin

  // ---- streaming windowed aggregation (watermark + tumbling window,
  //      append mode): only windows the final watermark has passed are
  //      emitted — the oracle mirrors that emission rule explicitly
  //      (w_end <= max_event_time - watermark_delay) ----
  private val WStatsWindowMs = 3600000L  // 1 hour
  private val WStatsDelayMs = 7200000L   // 2 hours
  def qStreamWindowStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_wstats_${streamRuns.incrementAndGet()}"
    withStatePartitions(s, StreamStatePartitions) {
      val q = graft.streaming.StreamingStats.windowedTypeStats(
          graft.streaming.StreamingStats.readRawEventStream(s, dir),
          windowLen = "1 hour", watermark = "2 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitStreamOrFail(q)
    }
    s.table(name)
      .select(col("w_start"), col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("w_start", "event_type")
  }
  val qStreamWindowStatsSql: String =
    s"""WITH e AS (SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
       |m AS (SELECT max(ms) AS mx FROM e),
       |w AS (SELECT ms // $WStatsWindowMs * $WStatsWindowMs AS w_start, event_type,
       |    count(*) AS n,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
       |  FROM e GROUP BY 1, 2)
       |SELECT w_start, event_type, n, sum_value FROM w, m
       |WHERE w_start + $WStatsWindowMs <= mx - $WStatsDelayMs
       |ORDER BY w_start, event_type""".stripMargin

  // ---- second tumbling-window configuration (1-day windows, 6-hour
  //      watermark, no type key, extrema aggs) sharing the session:
  //      proves the append-mode emission-rule oracle generalizes
  //      beyond the hourly per-type shape ----
  private val WDailyWindowMs = 86400000L // 1 day
  private val WDailyDelayMs = 21600000L  // 6 hours
  def qStreamWindowDaily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_wdaily_${streamRuns.incrementAndGet()}"
    withStatePartitions(s, StreamStatePartitions) {
      val q = graft.streaming.StreamingStats.windowedDailyStats(
          graft.streaming.StreamingStats.readRawEventStream(s, dir),
          windowLen = "1 day", watermark = "6 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitStreamOrFail(q)
    }
    s.table(name)
      .select(col("w_start"), col("n"), round(col("sum_value"), 2).as("sum_value"),
        round(col("min_value"), 6).as("min_value"),
        round(col("max_value"), 6).as("max_value"))
      .orderBy("w_start")
  }
  val qStreamWindowDailySql: String =
    s"""WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events),
       |m AS (SELECT max(ms) AS mx FROM e),
       |w AS (SELECT ms // $WDailyWindowMs * $WDailyWindowMs AS w_start,
       |    count(*) AS n,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
       |    round(min(value), 6) AS min_value,
       |    round(max(value), 6) AS max_value
       |  FROM e GROUP BY 1)
       |SELECT w_start, n, sum_value, min_value, max_value FROM w, m
       |WHERE w_start + $WDailyWindowMs <= mx - $WDailyDelayMs
       |ORDER BY w_start""".stripMargin

  // ---- streaming per-window distinct cardinality via the mergeable
  //      KMV sketch UDAF: state capped at k longs per window no
  //      matter the key cardinality (exact streaming countDistinct
  //      state is unbounded), merge-order independent, so the
  //      streaming run hash-matches the batch replay; append-mode
  //      emission rule mirrored as in the other window queries ----
  private val SDistK = 64
  def qStreamDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_sdist_${streamRuns.incrementAndGet()}"
    withStatePartitions(s, StreamStatePartitions) {
      val q = graft.streaming.StreamingDistinct.windowedDistinct(
          graft.streaming.StreamingStats.readRawEventStream(s, dir),
          "user_id", SDistK, windowLen = "1 day", watermark = "6 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitStreamOrFail(q)
    }
    s.table(name).orderBy("w_start")
  }
  val qStreamDistinctSql: String =
    s"""WITH e AS (SELECT epoch_ms(ts) AS ms, ${Hashing.hash60Sql("user_id")} AS h FROM events),
       |m AS (SELECT max(ms) AS mx FROM e),
       |d AS (SELECT DISTINCT ms // $WDailyWindowMs * $WDailyWindowMs AS w_start, h FROM e),
       |r AS (SELECT w_start, h, row_number() OVER (PARTITION BY w_start ORDER BY h) AS rn FROM d),
       |a AS (SELECT w_start,
       |    CAST(sum(CASE WHEN rn <= $SDistK THEN 1 ELSE 0 END) AS BIGINT) AS k_actual,
       |    max(CASE WHEN rn <= $SDistK THEN h END) AS kth_hash
       |  FROM r GROUP BY 1)
       |SELECT w_start, k_actual, kth_hash,
       |  floor((CASE WHEN k_actual < $SDistK THEN k_actual::DOUBLE
       |    ELSE ${SDistK - 1}.0 * 1152921504606846976.0 / kth_hash END) * 1000000 + 0.5) / 1000000 AS est_distinct
       |FROM a, m WHERE w_start + $WDailyWindowMs <= mx - $WDailyDelayMs
       |ORDER BY w_start""".stripMargin

  // ---- streaming exact dedup at ingestion (dropDuplicates state).
  //      The SET of surviving content hashes is deterministic; WHICH
  //      duplicate doc_id survives is first-seen within a micro-batch
  //      (partition-order dependent — at sf0.1 the corpus has real
  //      duplicate texts, which caught an earlier doc_id-carrying
  //      oracle), so the query emits the hash set. Duplicate
  //      suppression across batches is pinned in StreamingSpec ----
  def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_dedup_${streamRuns.incrementAndGet()}"
    withStatePartitions(s, StreamStatePartitions) {
      val q = graft.streaming.StreamingDedup.dedupStream(
          graft.streaming.StreamingDedup.readDocStream(s, dir))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitStreamOrFail(q)
    }
    s.table(name).select("text_hash").orderBy("text_hash")
  }
  val qStreamDedupSql: String =
    "SELECT DISTINCT md5(text) AS text_hash FROM documents ORDER BY 1"

  // ---- stream-static enrichment (dimension attach at ingestion;
  //      stateless, so every arriving event appears exactly once and
  //      the batch join is the exact oracle). The stream is bounded to
  //      a 1-in-5 user slice IN THE QUERY (mirrored in the oracle,
  //      same convention as the pairwise bounds): a per-row enrichment
  //      emits one output row per input row, and the memory-sink
  //      harness collects them all to the driver — the slice keeps the
  //      bench honest while the operator stays scale-shaped (the
  //      filter pushes into the stream scan; production sinks are
  //      parquet/kafka, not a driver table). ----
  def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_enrich_${streamRuns.incrementAndGet()}"
    val customers = Tables.load(s, dir, "customer")
    val q = graft.streaming.StreamingEnrich.enrich(
        graft.streaming.StreamingStats.readRawEventStream(s, dir)
          .filter(col("user_id") % 5 === 0),
        customers, "user_id", "c_custkey", Seq("c_mktsegment"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    awaitStreamOrFail(q)
    val sunk = s.table(name)
    sunk
      .select(col("event_id"), col("user_id"),
        Tables.epochMs(sunk, "ts").as("ts_ms"),
        col("event_type"), col("value"), col("c_mktsegment"))
      .orderBy("event_id")
  }
  val qStreamEnrichSql: String =
    """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type, value,
      |  c_mktsegment
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE user_id % 5 = 0
      |ORDER BY event_id""".stripMargin

  // ---- streaming Bloom prune: the SAME runtime-filter Column
  //      q_bloom_semi builds (customer dimension → kilobyte filter)
  //      applied INSIDE a streaming scan — ingestion-time semi-join
  //      reduction: events that cannot join the dimension are dropped
  //      map-side at arrival, with zero streaming state (no watermark,
  //      no join state — the filter is pure arithmetic on a literal
  //      array), so at 100 TB/day the stream never shuffles rows that
  //      join nothing. Filter sized 64 KBit so the gate tiers sit on
  //      the sharp part of the FPR curve; survivors = true members ∪
  //      false positives, replayed exactly by the oracle ----
  private val SbM = 65536
  private val SbK = 4
  private val SbSalt = 91
  def qStreamBloom(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_bloom_${streamRuns.incrementAndGet()}"
    val bkeys = Tables.load(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val words = Sketches.bloomWords(bkeys, "c_custkey", SbM, SbK, SbSalt)
    val pass = Sketches.bloomMightContain(words, col("user_id"),
      SbM, SbK, SbSalt)
    val q = graft.streaming.StreamingStats.readRawEventStream(s, dir)
      .filter(pass)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    awaitStreamOrFail(q)
    s.table(name).select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id")
  }
  val qStreamBloomSql: String = {
    def h(expr: String, saltExpr: String): String =
      s"CAST(('0x' || substr(md5(concat($saltExpr, '|', $expr)), 1, 15)) AS BIGINT)"
    val salted = h("kk", s"CAST($SbSalt + s.i AS VARCHAR)")
    val saltedP = h("CAST(pk.user_id AS VARCHAR)", s"CAST($SbSalt + s.i AS VARCHAR)")
    s"""WITH bk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS kk
       |  FROM customer WHERE c_mktsegment = 'BUILDING'),
       |hs AS (SELECT $salted % $SbM AS pos
       |  FROM bk CROSS JOIN (VALUES (0), (1), (2), (3)) s(i)),
       |wd AS (SELECT pos // 32 AS word_idx,
       |    bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
       |  FROM hs GROUP BY 1),
       |pk AS (SELECT DISTINCT user_id FROM events),
       |pp AS (SELECT pk.user_id, $saltedP % $SbM AS pos
       |  FROM pk CROSS JOIN (VALUES (0), (1), (2), (3)) s(i)),
       |pv AS (SELECT user_id,
       |    bool_and((coalesce(wd.word, 0) & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0) AS pass
       |  FROM pp LEFT JOIN wd ON pp.pos // 32 = wd.word_idx GROUP BY 1)
       |SELECT e.event_id, e.user_id, e.event_type
       |FROM events e JOIN pv ON e.user_id = pv.user_id
       |WHERE pv.pass ORDER BY e.event_id""".stripMargin
  }

  // ---- stream-stream interval join: clicks matched to the same
  //      user's purchases within the following hour — watermarked on
  //      BOTH sides so join state stays bounded by the horizon, never
  //      by stream length. Inner append-mode join: each match emits
  //      exactly once regardless of arrival order (StreamingSpec pins
  //      the cross-micro-batch case), so the AvailableNow replay
  //      equals the batch interval join the oracle runs. ----
  def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_join_${streamRuns.incrementAndGet()}"
    val ev = graft.streaming.StreamingStats.readRawEventStream(s, dir)
    withStatePartitions(s, StreamStatePartitions) {
      val q = graft.streaming.StreamingJoin.intervalJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "user_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitStreamOrFail(q)
    }
    s.table(name).orderBy("l_id", "r_id")
  }
  val qStreamJoinSql: String =
    """SELECT c.event_id AS l_id, p.event_id AS r_id, c.user_id,
      |  epoch_ms(c.ts) AS l_ts_ms, epoch_ms(p.ts) AS r_ts_ms
      |FROM events c JOIN events p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY l_id, r_id""".stripMargin

  // ---- bloom-prefiltered blocklist removal: drop every document
  //      whose exact text appears in a blocklist (here: all zh-language
  //      texts — the "known-bad fingerprints" pipeline stage). The
  //      bloom is built with Spark's native BloomFilterAggregate and
  //      probed in-scan with BloomFilterMightContain; the anti-join
  //      then removes false positives exactly, so the result is
  //      independent of filter sizing (BlocklistSpec pins that with a
  //      deliberately undersized filter). sf0.1 is the interesting
  //      tier: it contains cross-language duplicate texts, so a few
  //      non-zh docs are swept too — exactly NOT EXISTS semantics. ----
  def qBlocklist(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val blocked = d.filter(col("lang") === "zh")
      .select(col("text").as("blocked_text")).distinct()
    Blocklist.filterOut(d, blocked, "text", "blocked_text",
      expectedItems = 4096).orderBy("doc_id")
  }
  val qBlocklistSql: String =
    """SELECT * FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM documents b
      |                  WHERE b.lang = 'zh' AND b.text = d.text)
      |ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_blocklist" -> (qBlocklist _),
    "q_stream_join" -> (qStreamJoin _),
    "q_stream_sessionize" -> (qStreamSessionize _),
    "q_text_stats" -> (qTextStats _),
    "q_lang_id" -> (qLangId _),
    "q_fingerprint" -> (qFingerprint _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_typo_pairs" -> (qTypoPairs _),
    "q_dedup_lines" -> (qDedupLines _),
    "q_dedup_fp" -> (qDedupFp _),
    "q_substring_dup" -> (qSubstringDup _),
    "q_substring_excise" -> (qSubstringExcise _),
    "q_dbscan_lsh" -> (qDbscanLsh _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_normalize" -> (qNormalize _),
    "q_minhash" -> (qMinhash _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_containment" -> (qContainment _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_apply" -> (qDedupApply _),
    "q_minhash_lsh" -> (qMinhashLsh _),
    "q_dedup_eval" -> (qDedupEval _),
    "q_lsh_incr" -> (qLshIncr _),
    "q_simhash" -> (qSimhash _),
    "q_simhash_pairs" -> (qSimhashPairs _),
    "q_embed_neardup" -> (qEmbedNearDup _),
    "q_embed_lsh" -> (qEmbedLsh _),
    "q_knn_brute" -> (qKnnBrute _),
    "q_array_ops" -> (qArrayOps _),
    "q_cms_counts" -> (qCmsCounts _),
    "q_cms_topk" -> (qCmsTopk _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_eval" -> (qAnnEval _),
    "q_ann_pq" -> (qAnnPq _),
    "q_ann_ivfpq" -> (qAnnIvfPq _),
    "q_annpq_eval" -> (qAnnPqEval _),
    "q_ann_stored" -> (qAnnStored _),
    "q_kmeans" -> (qKmeans _),
    "q_cluster_terms" -> (qClusterTerms _),
    "q_label_noise" -> (qLabelNoise _),
    "q_silhouette" -> (qSilhouette _),
    "q_semdedup" -> (qSemdedup _),
    "q_dbscan" -> (qDbscan _),
    "q_triplet_mine" -> (qTripletMine _),
    "q_pagerank" -> (qPagerank _),
    "q_label_prop" -> (qLabelProp _),
    "q_triangles" -> (qTriangles _),
    "q_link_pred" -> (qLinkPred _),
    "q_kcore" -> (qKcore _),
    "q_bfs_hops" -> (qBfsHops _),
    "q_mmr" -> (qMmr _),
    "q_embed_quantize" -> (qEmbedQuantize _),
    "q_embed_pca" -> (qEmbedPca _),
    "q_sessionize" -> (qSessionize _),
    "q_event_daily" -> (qEventDaily _),
    "q_retention" -> (qRetention _),
    "q_decay_score" -> (qDecayScore _),
    "q_rolling_features" -> (qRollingFeatures _),
    "q_multimodal" -> (qMultimodal _),
    "q_audio_meta" -> (qAudioMeta _),
    "q_rolling_hash" -> (qRollingHash _),
    "q_resize" -> (qResize _),
    "q_frame_sample" -> (qFrameSample _),
    "q_tfidf" -> (qTfidf _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_mixture_sample" -> (qMixtureSample _),
    "q_sample_fixed" -> (qSampleFixed _),
    "q_kmv_distinct" -> (qKmvDistinct _),
    "q_hll_distinct" -> (qHllDistinct _),
    "q_hll_groups" -> (qHllGroups _),
    "q_hll_union" -> (qHllUnion _),
    "q_kmv_overlap" -> (qKmvOverlap _),
    "q_contam_attrib" -> (qContamAttrib _),
    "q_redact" -> (qRedact _),
    "q_repetition" -> (qRepetition _),
    "q_ngram_repetition" -> (qNgramRepetition _),
    "q_stream_window_stats" -> (qStreamWindowStats _),
    "q_stream_window_daily" -> (qStreamWindowDaily _),
    "q_stream_distinct" -> (qStreamDistinct _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_stream_enrich" -> (qStreamEnrich _),
    "q_stream_bloom" -> (qStreamBloom _),
    "q_heavy_hitters" -> (qHeavyHitters _),
  )

  val oracles: Map[String, String] = Map(
    "q_blocklist" -> qBlocklistSql,
    "q_stream_join" -> qStreamJoinSql,
    "q_stream_sessionize" -> qStreamSessionizeSql,
    "q_text_stats" -> qTextStatsSql,
    "q_lang_id" -> qLangIdSql,
    "q_fingerprint" -> qFingerprintSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_typo_pairs" -> qTypoPairsSql,
    "q_dedup_lines" -> qDedupLinesSql,
    "q_dedup_fp" -> qDedupFpSql,
    "q_substring_dup" -> qSubstringDupSql,
    "q_substring_excise" -> qSubstringExciseSql,
    "q_dbscan_lsh" -> qDbscanLshSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_normalize" -> qNormalizeSql,
    "q_minhash" -> qMinhashSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_containment" -> qContainmentSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_dedup_apply" -> qDedupApplySql,
    "q_simhash" -> qSimhashSql,
    "q_simhash_pairs" -> qSimhashPairsSql,
    "q_embed_neardup" -> qEmbedNearDupSql,
    "q_knn_brute" -> qKnnBruteSql,
    "q_array_ops" -> qArrayOpsSql,
    "q_cms_counts" -> qCmsCountsSql,
    "q_cms_topk" -> qCmsTopkSql,
    "q_sessionize" -> qSessionizeSql,
    "q_event_daily" -> qEventDailySql,
    "q_retention" -> qRetentionSql,
    "q_decay_score" -> qDecayScoreSql,
    "q_rolling_features" -> qRollingFeaturesSql,
    "q_multimodal" -> qMultimodalSql,
    "q_audio_meta" -> qAudioMetaSql,
    "q_rolling_hash" -> qRollingHashSql,
    "q_resize" -> qResizeSql,
    "q_frame_sample" -> qFrameSampleSql,
    "q_tfidf" -> qTfidfSql,
    "q_sample_stratified" -> qSampleStratifiedSql,
    "q_mixture_sample" -> qMixtureSampleSql,
    "q_sample_fixed" -> qSampleFixedSql,
    "q_kmv_distinct" -> qKmvDistinctSql,
    "q_hll_distinct" -> qHllDistinctSql,
    "q_hll_groups" -> qHllGroupsSql,
    "q_hll_union" -> qHllUnionSql,
    "q_kmv_overlap" -> qKmvOverlapSql,
    "q_contam_attrib" -> qContamAttribSql,
    "q_redact" -> qRedactSql,
    "q_repetition" -> qRepetitionSql,
    "q_ngram_repetition" -> qNgramRepetitionSql,
    "q_stream_window_stats" -> qStreamWindowStatsSql,
    "q_stream_window_daily" -> qStreamWindowDailySql,
    "q_stream_distinct" -> qStreamDistinctSql,
    "q_stream_dedup" -> qStreamDedupSql,
    "q_stream_enrich" -> qStreamEnrichSql,
    "q_stream_bloom" -> qStreamBloomSql,
    "q_heavy_hitters" -> qHeavyHittersSql,
    "q_minhash_lsh" -> qMinhashLshSql,
    "q_dedup_eval" -> qDedupEvalSql,
    "q_lsh_incr" -> qLshIncrSql,
    "q_embed_lsh" -> qEmbedLshSql,
    "q_ann_ivf" -> qAnnIvfSql,
    "q_ann_eval" -> qAnnEvalSql,
    "q_ann_pq" -> qAnnPqSql,
    "q_ann_ivfpq" -> qAnnIvfPqSql,
    "q_annpq_eval" -> qAnnPqEvalSql,
    "q_ann_stored" -> qAnnStoredSql,
    "q_kmeans" -> qKmeansSql,
    "q_cluster_terms" -> qClusterTermsSql,
    "q_label_noise" -> qLabelNoiseSql,
    "q_silhouette" -> qSilhouetteSql,
    "q_semdedup" -> qSemdedupSql,
    "q_dbscan" -> qDbscanSql,
    "q_triplet_mine" -> qTripletMineSql,
    "q_pagerank" -> qPagerankSql,
    "q_label_prop" -> qLabelPropSql,
    "q_triangles" -> qTrianglesSql,
    "q_link_pred" -> qLinkPredSql,
    "q_kcore" -> qKcoreSql,
    "q_bfs_hops" -> qBfsHopsSql,
    "q_mmr" -> qMmrSql,
    "q_embed_quantize" -> qEmbedQuantizeSql,
    "q_embed_pca" -> qEmbedPcaSql,
  )
}
