package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * quality statistics, language ID, document fingerprinting. All are
  * pure `Column` compositions (codegen'd built-ins, no UDFs) so filters
  * over them still push down and stay inside whole-stage codegen.
  *
  * Every definition has an exact DuckDB mirror (see ExtQueries) — the
  * regexes are restricted to syntax Java and RE2 agree on.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish word/number/symbol tokens (count of regex matches). */
  val WordTokenRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def wordTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(WordTokenRe), lit(0)))

  /** Punctuation characters (explicit class — portable across regex
    * dialects). */
  val PunctRe = "[.,!?;:'\"()\\[\\]{}-]"
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit(PunctRe), lit(0)))

  /** Language-specific stopword sets for the n-gram/stopword language
    * heuristic. Closed, tiny, deterministic. */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "les", "et", "des", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Stopword hits (English set) / token count — a quality signal. */
  def stopwordRatio(c: Column): Column = {
    val t = tokens(c)
    hitCount(t, StopWords.find(_._1 == "en").get._2).cast("double") / size(t)
  }

  /** Average token length: non-whitespace chars / token count. */
  def avgTokenLen(c: Column): Column =
    length(regexp_replace(c, "\\s", "")).cast("double") / tokenCount(c)

  /** Composite quality score in [0,1]-ish: rewards stopword presence
    * and moderate token length, penalizes punctuation density. */
  def qualityScore(c: Column): Column =
    stopwordRatio(c) * lit(2.0) +
      (lit(1.0) - punctCount(c).cast("double") / length(c)) -
      abs(avgTokenLen(c) - lit(5.0)) / lit(10.0)

  /** Deterministic language guess: argmax of per-language stopword
    * hits; ties and all-zero resolve to the lexicographically first
    * language among the maxima ('und' when nothing hits at all). */
  def langGuess(c: Column): Column = {
    val t = tokens(c)
    val scored = StopWords.map { case (lang, ws) => lang -> hitCount(t, ws) }
    val maxHits = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val first = scored.foldRight(lit("und")) { case ((lang, hits), acc) =>
      when(hits === maxHits && maxHits > 0, lit(lang)).otherwise(acc)
    }
    // foldRight keeps the FIRST (lexicographic) max: each earlier lang
    // overwrites later ones in the when-chain
    first
  }

  /** Canonical token-set fingerprint (OpenRefine-style): lowercase,
    * tokenize, distinct, sort, join, md5. Catches reordered / repeated
    * word near-duplicates exactly. */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(lower(c))))))

  /** Rolling 60-bit content signature: min over token hashes — a
    * 1-permutation minhash usable as a cheap document sketch. */
  def docSignature(c: Column): Column =
    array_min(transform(array_distinct(tokens(lower(c))), t => Hashing.hash60(t)))

  /** PII patterns, restricted to syntax Java regex and RE2 agree on
    * (no lookaround, no \b): email local@domain.tld, and an
    * international-ish phone shape — a digit bracketed run of digits /
    * separators at least 8 chars long. Redaction/counting are pure
    * Column ops, so a redact stage pushes down and stays in codegen. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\. -]{6,}[0-9]"

  def emailCount(c: Column): Column =
    size(regexp_extract_all(c, lit(EmailRe), lit(0)))
  def phoneCount(c: Column): Column =
    size(regexp_extract_all(c, lit(PhoneRe), lit(0)))

  /** Text with emails/phones replaced by placeholder tags (emails
    * first: a phone-ish digit run inside an email must redact as the
    * email, not shred it). */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** PII spans as ROWS — the audit table behind [[redactPii]]'s
    * counts: every email/phone match, tagged and indexed in document
    * order, for review queues and leak accounting ("which docs leak
    * what, and how often") rather than just redaction. Phone spans are
    * extracted from the EMAIL-REDACTED text, mirroring [[redactPii]]'s
    * precedence (a digit run inside an email address is part of the
    * email, not a phone). One map-side explode per doc — no shuffle,
    * regexes in the Java/RE2-shared syntax both engines run
    * identically. Output: (id, kind, span_idx, span). */
  def extractPiiSpans(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val emails = regexp_extract_all(col(textCol), lit(EmailRe), lit(0))
    val phones = regexp_extract_all(
      regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
      lit(PhoneRe), lit(0))
    def rows(kind: String, arr: Column) = docs
      .select(col(idCol).as("id"),
        posexplode(arr).as(Seq("span_idx", "span")))
      .select(col("id"), lit(kind).as("kind"),
        col("span_idx").cast("long").as("span_idx"), col("span"))
    rows("email", emails).unionByName(rows("phone", phones))
  }

  /** Gopher-style repetition signals per document: token count,
    * distinct-token count, the dominant token's share of all tokens,
    * and the duplicate-token fraction — the standard cheap screens for
    * degenerate/boilerplate text in corpus curation. One explode and
    * two shuffles, both partial-aggregated; nothing leaves the
    * executors but one row per doc. */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    toks.groupBy("id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("id")
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_n"))
      .select(col("id"), col("n_tokens"), col("n_distinct"),
        (col("top_n").cast("double") / col("n_tokens")).as("top_ratio"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
          .as("dup_ratio"))
  }

  /** Gopher's n-gram repetition screens, the sequence-aware
    * complement of [[repetitionStats]]'s unigram signals: per document
    * and per n ∈ {2, 3}, the share of the most frequent CONSECUTIVE
    * n-gram (`topN_ratio` — boilerplate headers repeat whole phrases
    * that unigram stats miss) and the duplicate-n-gram fraction
    * (`dupN_ratio` = 1 − distinct/total — machine-generated spin
    * repeats many phrases a few times each). Token-count shares, the
    * engine-portable simplification of the paper's character
    * fractions; both n values ride ONE explode (~2 structs per token)
    * into two partial-aggregated shuffles, then a per-doc conditional
    * rollup — the [[repetitionStats]] scale shape exactly. Documents
    * too short for an n-gram score 0 for that n (nothing repeats). */
  def ngramRepetitionStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    def grams(n: Int) =
      when(size(toks) >= n, transform(
        sequence(lit(0), size(toks) - n),
        i => struct(lit(n).as("n"),
          concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)
            .as("gram"))))
      .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    val perN = docs
      .select(col(idCol).as("id"), explode(concat(grams(2), grams(3))).as("g"))
      .select(col("id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy("id", "n", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("id", "n").agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("dist"), max(col("cnt")).as("top"))
      .groupBy("id").agg(
        max(when(col("n") === 2, col("top").cast("double") / col("total")))
          .as("top2_ratio"),
        max(when(col("n") === 2,
          lit(1.0) - col("dist").cast("double") / col("total"))).as("dup2_ratio"),
        max(when(col("n") === 3, col("top").cast("double") / col("total")))
          .as("top3_ratio"),
        max(when(col("n") === 3,
          lit(1.0) - col("dist").cast("double") / col("total"))).as("dup3_ratio"))
    docs.select(col(idCol).as("id"))
      .join(perN, Seq("id"), "left")
      .na.fill(0.0, Seq("top2_ratio", "dup2_ratio", "top3_ratio", "dup3_ratio"))
  }

  /** EXACT corpus-level heavy hitters: the k most frequent lowercase
    * tokens with counts and corpus share. Scale shape: explode →
    * partial-aggregated groupBy(term) → global top-k via orderBy+limit
    * (TakeOrdered: per-partition heaps of k, no full sort) — the term
    * table this runs on is vocabulary-sized, not corpus-sized.
    * Deterministic ties: count desc, then term asc. */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   k: Int,
                   scope: CacheScope = CacheScope.unmanaged()): org.apache.spark.sql.DataFrame = {
    // the vocabulary-sized count table feeds BOTH the top-k branch and
    // the corpus-total branch — persist it so the corpus-wide explode +
    // groupBy runs once (lifetime: caller's scope, see CacheScope)
    val counts = scope.persist(docs
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n")))
    val total = counts.agg(sum(col("n")).as("n_total"))
    counts.orderBy(col("n").desc, col("term").asc).limit(k)
      .crossJoin(broadcast(total))
      .select(col("term"), col("n"),
        (col("n").cast("double") / col("n_total")).as("share"))
  }

  /** Gopher-style composite quality filter over lowercase whitespace
    * tokens, with a 0/1 flag per rule so a curation run can report WHY
    * each document was dropped, not just that it was:
    * token count in [minTokens, maxTokens], stopword mass ≥
    * minStopRatio, duplicate-token fraction ≤ maxDupRatio, dominant
    * token share ≤ maxTopRatio. Everything derives from ONE
    * (doc, token) count table — a single explode and two
    * partial-aggregated shuffles, no join, nothing leaves the
    * executors but one row per doc. */
  def qualityFilter(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, minTokens: Long, maxTokens: Long,
                    minStopRatio: Double, maxDupRatio: Double,
                    maxTopRatio: Double): org.apache.spark.sql.DataFrame = {
    val en = StopWords.find(_._1 == "en").get._2
    val perTok = docs
      .select(col(idCol).as("id"), explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("n"))
    val okLen = col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens
    val okStop = col("stop_n").cast("double") / col("n_tokens") >= minStopRatio
    val okDup = lit(1.0) - col("n_distinct").cast("double") / col("n_tokens") <= maxDupRatio
    val okTop = col("top_n").cast("double") / col("n_tokens") <= maxTopRatio
    perTok.groupBy("id")
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_n"),
        sum(when(col("tok").isInCollection(en), col("n")).otherwise(lit(0L)))
          .as("stop_n"))
      .select(col("id"), col("n_tokens"),
        okLen.cast("long").as("ok_len"), okStop.cast("long").as("ok_stop"),
        okDup.cast("long").as("ok_dup"), okTop.cast("long").as("ok_top"),
        (okLen && okStop && okDup && okTop).cast("long").as("keep"))
  }

  /** EXACT inverted index over lowercase whitespace tokens: per term,
    * document frequency, total term frequency, and the first
    * `maxPostings` doc ids (sorted) as a bounded posting-list preview.
    * Scale shape: explode → groupBy(term, doc) with partial aggregation
    * → groupBy(term); the output is vocabulary-sized and the posting
    * list is capped, so no term row grows with the corpus. */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, maxPostings: Int): org.apache.spark.sql.DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum(col("tf")).as("total_tf"),
      concat_ws(",", slice(sort_array(collect_list(col("doc_id"))), 1, maxPostings))
        .as("postings"))
  }

  /** Perplexity-style quality signal: average Laplace-smoothed bigram
    * log-probability of each document under a bigram model trained on
    * the corpus itself (the KenLM-filtering pattern, with the n-gram
    * model expressed relationally instead of as a binary artifact).
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V); score = Σ c·ln(p) / n.
    *
    * Determinism across engines and partitionings: each (doc, bigram)
    * contribution is rounded to integer MICROS before the per-doc sum,
    * so the aggregation is an integer sum — order-independent, unlike
    * a float Σ ln. Scale shape: one explode into bigrams, partial-agg
    * counts at (doc, bigram) and model level; the model tables are
    * vocabulary²-bounded (AQE broadcasts them); nothing reaches the
    * driver. Output: (doc, n_bigrams, avg_logprob). */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    val docBg = docs
      .select(col(idCol).as("id"), explode(bigrams).as("bg"))
      .groupBy("id", "bg").agg(count(lit(1)).as("c"))
    val bgCount = docBg.groupBy("bg").agg(sum(col("c")).as("c_bg"))
    val w1Count = docBg
      .select(split(col("bg"), " ").getItem(0).as("w1"), col("c"))
      .groupBy("w1").agg(sum(col("c")).as("c_w1"))
    val vocab = docs
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val contrib = floor(col("c") * log((col("c_bg") + lit(1.0)) /
      (col("c_w1") + col("v"))) * lit(1e6) + lit(0.5)).cast("long")
    docBg
      .join(bgCount, "bg")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(w1Count, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("id")
      .agg(sum(col("c")).as("n_bigrams"), sum(contrib).as("sum_micros"))
      .select(col("id"), col("n_bigrams"),
        (floor(col("sum_micros") / col("n_bigrams") + lit(0.5)) / lit(1e6))
          .as("avg_logprob"))
  }

  /** Per-(doc, term) TF-IDF over lowercase whitespace tokens:
    * tf = term occurrences in the doc, df = number of docs containing
    * the term, idf = ln((1+N)/(1+df)) + 1 (the smoothed sklearn
    * variant — never negative, defined for df == N).
    *
    * Scale shape: explode → groupBy(doc, term) with partial
    * aggregation; document frequency re-aggregates the (already tiny
    * relative to the corpus) tf table by term; the term join is a
    * plain equi-join (vocabulary can exceed broadcast size at corpus
    * scale — AQE will broadcast it when it is small); the one-row
    * corpus count joins via broadcast. */
  def tfIdf(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("idf",
        log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + lit(1.0))
      .withColumn("tfidf", col("tf") * col("idf"))
      .select("doc_id", "term", "tf", "df", "tfidf")
  }

  /** Okapi BM25 retrieval scoring (Robertson et al., TREC-3) of a
    * fixed query-term set against the corpus — the ranked-retrieval
    * companion to [[tfIdf]], and the scorer behind quality-weighted
    * example selection ("find the documents most about X") in a
    * curation pipeline. Per document d and query term t:
    *
    *   idf(t)   = ln(1 + (N − df_t + 0.5) / (df_t + 0.5))
    *   w(t, d)  = idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * summed over the query terms present in d (the Lucene-style
    * non-negative idf). Per-term contributions round to integer
    * MICROS before summing (the q_lm_score discipline), so the score
    * is partition-order independent and engine-exact; avgdl is one
    * double division of two exact longs.
    *
    * Scale shape: one explode pass feeds two partial-agg shuffles
    * (per-doc length, per-(doc, term) tf over the query terms only —
    * the `isin` prunes map-side, so the tf table is hit-sized, not
    * corpus-sized); df re-aggregates the tf table to |terms| rows;
    * the 1-row corpus stats broadcast; the tf⋈dl join is
    * hit-docs-sized (AQE broadcasts it when small). Output: one row
    * per document with ≥1 hit — (id, n_terms_hit, score_micros). */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
           textCol: String, terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val toks = docs.select(col(idCol).as("id"),
      explode(filter(tokens(lower(col(textCol))),
        w => length(w) > 0)).as("term"))
    val dl = toks.groupBy("id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    tf.join(dfreq, "term")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .withColumn("__m", floor(w * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("__m")).as("score_micros"))
  }

  /** BPE tokenizer training (Sennrich et al. 2016) as an iterative
    * relational job — the merge-table trainer of an LLM data
    * pipeline, run where the data is instead of exporting corpus
    * samples to a separate tool.
    *
    * The trick that makes this scale is the standard one: BPE trains
    * on the WORD-FREQUENCY table, not the corpus. One corpus pass
    * builds (word, freq) — vocabulary-sized from then on — and each
    * merge round is one explode+partial-agg job over that small table
    * plus a 1-row argmax collect. Words travel as their symbol
    * sequence rendered ` s1  s2  …  sN ` (symbols joined by TWO
    * spaces, one space of padding each side): applying the winning
    * merge (L, R) is then ONE literal string replace of ` L  R ` with
    * ` LR ` — both engines replace left-to-right without overlap,
    * which IS BPE's greedy within-word application order (the shared
    * boundary space between back-to-back matches is what a
    * single-space rendering would get wrong), and the surrounding
    * spaces keep a symbol from matching inside a longer symbol.
    * Rounds persist eagerly and free their predecessor, the fit
    * loop's discipline; ties in the pair argmax break on (freq desc,
    * left, right) so the merge table is deterministic.
    *
    * Output: the trained merge table (merge_rank, lhs, rhs,
    * pair_freq) — `nMerges` rows, fewer iff the corpus runs out of
    * adjacent pairs. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
               nMerges: Int): org.apache.spark.sql.DataFrame = {
    require(nMerges >= 1, "nMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // tokenize+explode is the corpus-sized pre-shuffle map phase —
    // widen a narrow one-file scan first (Widen scaladoc; no-op at
    // corpus scale)
    val words0 = graft.operators.Widen.toParallelism(docs)
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), concat(lit(" "),
        trim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")).as("s"))
    // every round's symbol table is an EAGER localCheckpoint and the
    // superseded round frees immediately — NOT a persist chain: the
    // rounds are execution-eager either way (the argmax collects),
    // but persist does not truncate LINEAGE, so round r's logical
    // plan would chain all r crossJoin+replace steps and per-round
    // analysis cost grows linearly — O(n²) total. At the gate query's
    // 10 merges that is invisible; at a tokenizer-realistic 500 it is
    // fatal (measured: the 100-merge plan's EXPLAIN STRING alone
    // OOMed a 4 GiB driver before round 50). localCheckpoint resets
    // each round to a constant-size LogicalRDD plan — the
    // PageRank/CC iterative discipline (GraphRank.scala) — and the
    // live state is one vocabulary-sized block set at a time.
    def keep(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.localCheckpoint() // eager: materializes now, truncates lineage
    var cur = keep(words0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    val profile = graft.fit.LevelLoop.profile
    var tWindow = System.nanoTime()
    try {
      var r = 1
      var dry = false
      while (r <= nMerges && !dry) {
        if (profile && r % 50 == 1 && r > 1) {
          println(f"[bpe] rounds ${r - 50}%d..${r - 1}%d: " +
            f"${(System.nanoTime() - tWindow) / 1e9}%.1fs")
          tWindow = System.nanoTime()
        }
        val arr = split(trim(col("s")), "  ")
        val top = cur
          .select(col("freq"), explode(zip_with(
            slice(arr, lit(1), size(arr) - 1),
            slice(arr, lit(2), size(arr) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("l"), col("r")).limit(1)
          .collect()
        if (top.isEmpty) dry = true
        else {
          val l: String = top.head.getString(0)
          val rr: String = top.head.getString(1)
          val c: Long = top.head.getLong(2)
          merges += ((r, l, rr, c))
          // the merge pair rides as broadcast DATA, not plan literals
          // (the Lloyd-trainer trick): every round's replace job then
          // shares ONE compiled plan instead of recompiling codegen
          // for each new literal pattern
          val mDf = Seq((s" $l  $rr ", s" $l$rr ")).toDF("__pat", "__rep")
          val next = keep(cur.crossJoin(broadcast(mDf))
            .withColumn("s", replace(col("s"), col("__pat"), col("__rep")))
            .drop("__pat", "__rep"))
          org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint(cur)
          cur = next
          r += 1
        }
      }
      // the merge table is driver-materialized — nothing references
      // the final round's checkpoint after this point
      merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_freq")
    } finally org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint(cur)
  }

  /** Apply a trained BPE merge table ([[bpeTrain]]) to a corpus in
    * ONE map-only pass: per doc, the token count under the real
    * tokenizer (the number that drives packing budgets and mixture
    * weights — whitespace counts under-count code/CJK and over-count
    * prose) and an md5 of the full tokenized rendering, which pins
    * every symbol boundary, not just the count.
    *
    * Rendering: each word's symbols join with TWO spaces (the
    * [[bpeTrain]] contract), words join with THREE — a merge pattern
    * ` L  R ` (double space) can therefore never match across a word
    * boundary. The whole apply is one chained literal-replace Column
    * (merge 1 innermost — merges apply in trained rank order, exactly
    * like the trainer's rounds): codegen'd, zero shuffle, scales with
    * scan bandwidth. */
  def bpeApply(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String,
               merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val toks = filter(tokens(lower(col(textCol))), w => length(w) > 0)
    val rendered = concat(lit(" "), array_join(transform(toks,
      w => trim(regexp_replace(w, "(.)", "$1  "))), "   "), lit(" "))
    val applied = merges.foldLeft(rendered) { case (s, (l, r)) =>
      replace(s, lit(s" $l  $r "), lit(s" $l$r "))
    }
    // split(trim(''), "\\s+") yields [""] — size 1 — so empty /
    // whitespace-only docs must short-circuit to 0, or they'd each
    // claim one phantom token against packing budgets.
    // The chained-replace tokenization is heavy per-row map work over
    // a possibly 1-partition scan — widen first (Widen scaladoc).
    graft.operators.Widen.toParallelism(docs).select(col(idCol).as("id"),
      when(length(trim(applied)) === 0, lit(0L))
        .otherwise(size(split(trim(applied), "\\s+")).cast("long"))
        .as("n_tokens"),
      md5(applied).as("tok_sig"))
  }

  /** Multinomial Naive Bayes text classifier, trained AND scored
    * relationally — the fastText-style classifier gate of a curation
    * pipeline (train on labeled reference data, score the crawl,
    * route/filter by predicted class), with Laplace(+1) smoothing.
    *
    * The score factors so that ABSENT (token, label) pairs cost
    * nothing to enumerate: with c_lt the token's count under label l,
    * C_l the label's total token count and V the training vocabulary,
    *
    *   score(d, l) = ln P(l) − len(d)·ln(C_l + V)
    *                 + Σ_{t ∈ d, c_lt > 0} c_dt · ln(c_lt + 1)
    *
    * — the middle term depends only on the doc LENGTH (every token
    * pays the 1/(C_l+V) smoothing floor), and the correction sum is
    * zero for unseen pairs (ln(0+1) = 0), so the only corpus-sized
    * join is docTokens ⋈ labelTokens on the token alone (inner,
    * observed pairs only). No |labels| × corpus-tokens fan-out.
    *
    * Scale shape: training is two partial-agg shuffles over the
    * exploded train corpus (label-token counts, then label totals);
    * scoring is one explode + one token equi-join (AQE broadcasts the
    * model when it is small) + one (id, label) partial-agg sum; the
    * per-label prior/denominator table is O(labels) and broadcasts.
    * Per-pair contributions round to integer MICROS before summation
    * (the [[bigramLmScore]] discipline), so scores are exact longs —
    * order-independent under any partitioning and engine-portable.
    * The argmax is a `min` over (−score, label) structs: partial
    * aggregation keeps one candidate per (id, partition) map-side,
    * and ties break on the lexicographically smallest label.
    *
    * Output: (id, pred, score_micros) — one row per scored doc. */
  def nbClassify(train: org.apache.spark.sql.DataFrame,
                 scoreDocs: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String,
                 labelCol: String): org.apache.spark.sql.DataFrame = {
    val toksL = tokens(lower(col(textCol)))
    // model: per-(label, token) counts, per-label totals + doc priors,
    // train-vocabulary size
    val labTok = train
      .select(col(labelCol).as("lab"), explode(toksL).as("tok"))
      .groupBy("lab", "tok").agg(count(lit(1)).as("c_lt"))
    val labTotals = labTok.groupBy("lab").agg(sum(col("c_lt")).as("c_l"))
    val labDocs = train.groupBy(col(labelCol).as("lab"))
      .agg(count(lit(1)).as("n_l"))
    val nDocs = train.agg(count(lit(1)).as("n_docs"))
    val vocab = labTok.agg(countDistinct(col("tok")).as("v"))
    // O(labels) side table: prior micros + the per-token smoothing
    // denominator ln(C_l + V). A label with docs but an empty token
    // table keeps C_l = 0 (left join), the smoothing floor still holds.
    val labTable = labDocs
      .join(labTotals, Seq("lab"), "left")
      .crossJoin(nDocs).crossJoin(vocab)
      .select(col("lab"),
        floor(log(col("n_l").cast("double") / col("n_docs").cast("double")) *
          lit(1e6) + lit(0.5)).cast("long").as("prior_m"),
        log(coalesce(col("c_l"), lit(0L)).cast("double") + col("v"))
          .as("denom_ln"))
    // score side: per-(doc, token) counts join the observed model rows
    val docTok = scoreDocs
      .select(col(idCol).as("id"), explode(toksL).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
    val s1 = docTok.join(labTok, "tok")
      .groupBy("id", "lab")
      .agg(sum(floor(col("c") * log(col("c_lt") + lit(1.0)) * lit(1e6) +
        lit(0.5)).cast("long")).as("s1"))
    val base = scoreDocs
      .select(col(idCol).as("id"), size(toksL).cast("long").as("len"))
      .crossJoin(broadcast(labTable))
      .select(col("id"), col("lab"),
        (col("prior_m") - floor(col("len") * col("denom_ln") * lit(1e6) +
          lit(0.5)).cast("long")).as("b"))
    base.join(s1, Seq("id", "lab"), "left")
      .select(col("id"),
        struct((-(col("b") + coalesce(col("s1"), lit(0L)))).as("ns"),
          col("lab").as("lab")).as("sc"))
      .groupBy("id")
      .agg(min(col("sc")).as("best"))
      .select(col("id"), col("best.lab").as("pred"),
        (-col("best.ns")).as("score_micros"))
  }

  /** Contamination ATTRIBUTION: [[Dedup.testSetOverlap]] is the
    * decontamination screen (per-doc overlap ratio against the whole
    * benchmark set); this answers the follow-up a benchmark owner
    * asks once the screen fires — by WHICH benchmark item is each
    * corpus document contaminated, and how badly.
    *
    * Per contaminated document: the number of distinct benchmark
    * n-grams it contains (`n_hits`), its own distinct-n-gram count
    * (`total_grams`), the contaminated fraction in micros, and the
    * single benchmark item it overlaps MOST (`worst_bench_id`, ties
    * to the smallest id, with `worst_overlap` shared n-grams) — the
    * item a reviewer inspects first. Clean documents are absent.
    *
    * Scale shape: the benchmark n-gram table is benchmark-sized and
    * BROADCASTS (the production screen: a few MB of eval n-grams
    * against a 100 TB corpus — map-side hash probe, no shuffle of
    * corpus grams except the per-doc partial-agg rollups); the corpus
    * side is one explode pass over [[Dedup.shingles]] (distinct
    * n-grams per doc by construction). The per-(doc, bench) argmax is
    * the partial-aggregating struct-max, never a window sort. */
  def ngramContamination(corpus: DataFrame, corpusId: String,
                         corpusText: String, bench: DataFrame,
                         benchId: String, benchText: String,
                         n: Int): DataFrame = {
    require(n >= 1, "n-gram order must be positive")
    val bg = bench.select(col(benchId).as("bid"),
      explode(Dedup.shingles(col(benchText), n)).as("gram"))
    val cg = corpus.select(col(corpusId).as("id"),
      explode(Dedup.shingles(col(corpusText), n)).as("gram"))
    val sizes = cg.groupBy("id").agg(count(lit(1)).as("total_grams"))
    // a gram shared with SEVERAL bench docs appears once per bid here;
    // n_hits counts distinct grams, the per-pair rollup keeps the bid
    val hits = cg.join(broadcast(bg), "gram")
    val perDoc = hits.groupBy("id")
      .agg(countDistinct(col("gram")).as("n_hits"))
    val worst = hits.groupBy("id", "bid")
      .agg(countDistinct(col("gram")).as("c"))
      .groupBy("id")
      .agg(max(struct(col("c"), (-col("bid")).as("nb"))).as("b"))
      .select(col("id"), (-col("b.nb")).as("worst_bench_id"),
        col("b.c").as("worst_overlap"))
    perDoc.join(worst, "id").join(sizes, "id")
      .select(col("id"), col("n_hits"), col("total_grams"),
        floor(col("n_hits").cast("double") / col("total_grams").cast("double")
          * lit(1000000.0) + lit(0.5)).cast("long")
          .as("contamination_micros"),
        col("worst_bench_id"), col("worst_overlap"))
  }

  /** Token-distribution drift between two corpus slices (crawl
    * snapshots, sources, time windows): per token, its occurrence
    * count on each side and the add-one-smoothed ODDS RATIO of
    * drawing it from side A vs side B — the monitoring signal that
    * catches a changed crawler, a new spam source, or a boilerplate
    * regression BEFORE the mixture shifts downstream training data.
    * or_micros > 10^6 means over-represented in A; ranking by it is
    * ranking by log-odds (Monroe et al. 2008's "fightin' words"
    * statistic) with no float log in either engine.
    *
    * Shape: one explode → (side, token) partial-agg count → one
    * vocabulary-sized pivot (sum of side-gated counts); totals ride a
    * broadcast scalar join. Output is vocabulary-sized; nothing else
    * leaves the executors.
    *
    * Determinism: with a = count(tok, A), b = count(tok, B), and tA/tB
    * the side totals, `or_micros = (a+1)·(tB−b+1)·10^6 div
    * ((b+1)·(tA−a+1))` — exact BIGINT arithmetic; headroom holds for
    * side totals ≤ ~3·10^6 tokens per run unit (shard larger runs).
    * `sideA` must partition docs two ways deterministically. */
  def tokenDrift(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 sideA: Column, minCount: Long): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(sideA.cast("boolean").as("in_a"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val counts = tok.groupBy("term").agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("in_a"), 0L).otherwise(1L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("t_a"),
      sum(col("n_b")).as("t_b"))
    counts.where(col("n_a") + col("n_b") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("term"), col("n_a"), col("n_b"),
        expr("((n_a + 1L) * (t_b - n_b + 1L) * 1000000L) div ((n_b + 1L) * (t_a - n_a + 1L))")
          .as("or_micros"))
  }

  /** Top distinctive terms per document group (cluster topic
    * labeling — the c-TF-IDF idea with exact integer LIFT instead of
    * a float idf): per (group, term), occurrence counts and
    * `lift_micros = n_tc·N·10^6 div (n_c·n_t)` — how over-represented
    * the term is in the group's token stream vs the corpus — then the
    * top `topK` terms per group by lift. [[tokenDrift]]'s two-cohort
    * monitoring signal, generalized to arbitrary groupings; pointed
    * at k-means cluster assignments it reads out what each embedding
    * cluster is ABOUT.
    *
    * Shape: one token explode → three partial-agg count tables
    * ((group, term), term, group) joined on the (groups × vocabulary)
    * result — the ranking window runs on that bounded table, never on
    * corpus rows; the global total rides a broadcast scalar.
    *
    * Determinism: counts are exact longs, lift one BIGINT division,
    * ties break lexicographically. Headroom: n_tc·N·10^6 must fit a
    * long — shard or sample past ~10^8 corpus tokens. Output:
    * (grp, rnk, term, n_tc, n_t, lift_micros). */
  def groupTermLift(docsWithGroup: DataFrame, groupCol: String,
                    textCol: String, minTermCount: Long,
                    topK: Int): DataFrame = {
    require(minTermCount >= 1, "minTermCount must be positive")
    require(topK >= 1, "topK must be positive")
    val tok = docsWithGroup.select(col(groupCol).as("grp"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tc = tok.groupBy("grp", "term").agg(count(lit(1)).as("n_tc"))
    val tt = tok.groupBy("term").agg(count(lit(1)).as("n_t"))
    val cc = tok.groupBy("grp").agg(count(lit(1)).as("n_c"))
    val nn = tok.agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy("grp")
      .orderBy(col("lift_micros").desc, col("term").asc)
    tc.where(col("n_tc") >= minTermCount)
      .join(tt, "term").join(cc, "grp").crossJoin(broadcast(nn))
      .select(col("grp"), col("term"), col("n_tc"), col("n_t"),
        expr("(n_tc * n_total * 1000000L) div (n_c * n_t)").as("lift_micros"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select("grp", "rnk", "term", "n_tc", "n_t", "lift_micros")
  }
}
