package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation: exact
  * (hash-groupBy), canonical-fingerprint, n-gram Jaccard set-similarity
  * join, MinHash+LSH banding, and SimHash — all formulated as
  * shuffle-minimal DataFrame pipelines:
  *
  *  - candidate generation is always a key-equality join (shared
  *    shingle / LSH band bucket), never a cross join, so it scales as
  *    Σ bucket² instead of n²;
  *  - per-doc set statistics are pre-aggregated before the pair join
  *    (partial aggregation under every shuffle);
  *  - all hashes derive from salted md5 (Hashing.hash60), so results
  *    are deterministic and reproducible across engines.
  */
object Dedup {

  /** Exact dedup: group identical normalized text by md5. Returns one
    * row per distinct content: (text_hash, n_docs, min_doc_id). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc_id"))

  /** Line-level boilerplate removal (the C4 / RefinedWeb cleanup
    * stage): drop every line whose exact text occurs in at least
    * `maxDocFreq` distinct documents — from ALL documents, preserving
    * each document's remaining line order. Returns one row per input
    * document: (idCol, clean_text, n_kept, n_dropped); a document
    * whose every line is boilerplate survives with empty clean_text.
    *
    * Scale shape: per-doc DISTINCT lines explode once into a
    * partial-agg doc-frequency count; the flagged set (lines at/above
    * the threshold — headers, footers, nav chrome) collapses to ONE
    * array row that rides a broadcast, so the cleanup itself is a
    * map-only `filter(split(text))` over the corpus — no second
    * shuffle and no per-line join against a skewed key distribution
    * (the hottest join key would BE the boilerplate). The flagged set
    * must fit the broadcast; it is the output of a ≥-threshold cut,
    * so raise the threshold if a corpus's boilerplate vocabulary
    * outgrows it. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 maxDocFreq: Int, maxBroadcastLines: Int = 1 << 20,
                 scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    require(maxDocFreq >= 2, "maxDocFreq < 2 would flag every line")
    // persisted: the shape-deciding count() below and the chosen
    // branch's consumption share ONE corpus-wide explode+groupBy
    // instead of recomputing it (the set itself is small — it is the
    // ≥-threshold cut). Lifetime: the caller's `scope` (see CacheScope).
    val flaggedLines = scope.persist(docs
      .select(explode(array_distinct(split(col(textCol), "\n"))).as("line"))
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= maxDocFreq))
    // one count decides the shape (the flagged set was going to be
    // materialized either way)
    if (flaggedLines.count() <= maxBroadcastLines) {
      val flagged = flaggedLines.agg(collect_list("line").as("__flagged"))
      val allLines = split(col(textCol), "\n")
      val kept = filter(allLines, x => !array_contains(col("__flagged"), x))
      docs.crossJoin(broadcast(flagged))
        .select(col(idCol), array_join(kept, "\n").as("clean_text"),
          size(kept).cast("long").as("n_kept"),
          (size(allLines) - size(kept)).cast("long").as("n_dropped"))
    } else {
      // Broadcast blow-up guard: a boilerplate vocabulary too large for
      // one broadcast array. Hybrid cleanup — broadcast only the
      // HOTTEST `maxBroadcastLines` flagged lines (df desc; these are
      // the headers/footers that would otherwise be white-hot join
      // keys) and strip them map-side; the long tail of rarer flagged
      // lines is removed by an anti-join on the survivors, where every
      // key's heat is bounded by the hot cutoff's doc frequency.
      val hot = flaggedLines
        .orderBy(col("df").desc, col("line").asc).limit(maxBroadcastLines)
        .agg(collect_list("line").as("__flagged"))
      val cold = flaggedLines
        .orderBy(col("df").desc, col("line").asc)
        .offset(maxBroadcastLines).select(col("line").as("__line"))
      val allLines = split(col(textCol), "\n")
      val preKept = filter(allLines, x => !array_contains(col("__flagged"), x))
      val exploded = docs.crossJoin(broadcast(hot))
        .select(col(idCol), size(allLines).cast("long").as("__total"),
          posexplode_outer(preKept).as(Seq("__pos", "__line")))
      val kept = exploded.join(cold, Seq("__line"), "left_anti")
      val agg = kept.filter(col("__line").isNotNull)
        .groupBy(col(idCol))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")), "\n").as("__clean"),
          count(lit(1)).as("__nk"))
      docs.select(col(idCol), size(allLines).cast("long").as("__total"))
        .join(agg, Seq(idCol), "left")
        .select(col(idCol), coalesce(col("__clean"), lit("")).as("clean_text"),
          coalesce(col("__nk"), lit(0L)).as("n_kept"),
          (col("__total") - coalesce(col("__nk"), lit(0L))).as("n_dropped"))
    }
  }

  /** Canonical-fingerprint dedup (token-set equality — catches
    * reordering/repetition). */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc_id"))

  /** Cross-document duplicate-substring detection — the windowed
    * formulation of exact-substring dedup (strided character windows
    * of `window` chars hashed and counted across the corpus, instead
    * of a monolithic suffix array; same signal, but expressed as two
    * relational passes that partition by window hash and scale out).
    * A window is "duplicated" when its exact text occurs in >= 2
    * DISTINCT documents (within-doc repetition is a different screen —
    * see TextAnalysis.repetition). Returns one row per document of at
    * least `window` chars: (idCol, n_windows, n_dup_windows,
    * dup_ratio), dup_ratio rounded to 6dp.
    *
    * Scale shape: windows are generated map-side (sequence + explode —
    * ~len/stride rows per doc, no per-char blowup) carrying ONLY
    * (id, md5) — the text itself never shuffles; the doc-frequency
    * count is a partial-aggregated groupBy on the window hash; the
    * flag-back is a second hash partition of the same key (the dup
    * side is pre-aggregated to one row per distinct duplicated hash,
    * so the join fans out only to true occurrences). */
  def duplicateWindows(df: DataFrame, idCol: String, textCol: String,
                       window: Int, stride: Int): DataFrame = {
    require(window >= 2 && stride >= 1, s"bad window/stride $window/$stride")
    val wins = df.filter(length(col(textCol)) >= window)
      .select(col(idCol),
        explode(sequence(lit(0), length(col(textCol)) - window, lit(stride)))
          .as("__off"),
        col(textCol))
      .select(col(idCol),
        md5(col(textCol).substr(col("__off") + 1, lit(window))).as("__wh"))
    val dup = wins.groupBy("__wh")
      .agg(count_distinct(col(idCol)).as("__ndocs"))
      .filter(col("__ndocs") >= 2)
      .select("__wh")
    wins.join(dup.withColumn("__dup", lit(1)), Seq("__wh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        count(col("__dup")).as("n_dup_windows"))
      .withColumn("dup_ratio",
        floor(col("n_dup_windows") / col("n_windows") * lit(1e6) + lit(0.5)) / lit(1e6))
  }

  /** Span-level duplicate EXCISION — the rewrite stage
    * [[duplicateWindows]] only flags: every document is returned with
    * the characters covered by any cross-document duplicated window
    * REMOVED (the suffix-array-excision step of exact-substring dedup
    * pipelines, e.g. Lee et al. "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — windowed formulation, same
    * two relational passes as the flagging screen).
    *
    * Overlapping/adjacent duplicated windows merge into one excised
    * span (`n_dup_spans` counts the MERGED spans); the kept text is
    * the concatenation of the inter-span gaps in order. Documents
    * shorter than `window` (or with no duplicated window) pass through
    * untouched with n_dup_spans = 0; a NULL text stays NULL (with
    * n_removed NULL — no length to subtract from).
    *
    * Scale shape: the two corpus passes of [[duplicateWindows]] —
    * windows carry ONLY (id, offset, md5), partial-agg doc-frequency
    * on the window hash, flag-back join on the same key pre-aggregated
    * to one row per duplicated hash — then the duplicated offsets
    * MERGE INTO SPANS RELATIONALLY (gaps-and-islands over the
    * offset-only table: running max-end window → island ids →
    * per-island min/max — all codegen'd, shuffling only the small
    * duplicated-offset rows, never the text) and collapse to ONE
    * sorted span array per affected doc (bounded by len/stride). The
    * rewrite itself is a single `transform` over that array — one
    * substring per KEPT GAP, concatenated once — instead of an
    * interpreted per-offset string fold: on a worst-case corpus where
    * every document is duplicated (the replicated sf1 tier) this is
    * ~6× cheaper, and cost scales with affected docs × merged spans,
    * not raw window count. Output: (idCol, clean_text, n_dup_spans,
    * n_removed). */
  def exciseDuplicateWindows(df: DataFrame, idCol: String, textCol: String,
                             window: Int, stride: Int): DataFrame = {
    require(window >= 2 && stride >= 1, s"bad window/stride $window/$stride")
    val wins = df.filter(length(col(textCol)) >= window)
      .select(col(idCol),
        explode(sequence(lit(0), length(col(textCol)) - window, lit(stride)))
          .as("__off"),
        col(textCol))
      .select(col(idCol), col("__off"),
        md5(col(textCol).substr(col("__off") + 1, lit(window))).as("__wh"))
    val dup = wins.groupBy("__wh")
      .agg(count_distinct(col(idCol)).as("__ndocs"))
      .filter(col("__ndocs") >= 2)
      .select("__wh")
    // gaps-and-islands over (id, off): a window starting past the
    // running span end opens a NEW merged span (adjacent or
    // overlapping windows — stride < window overlaps by construction —
    // merge). Exactly the oracle's prevmax formulation; rows here are
    // duplicated offsets only, a sliver of the corpus.
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__off"))
    val spans = wins.join(dup, Seq("__wh"))
      .select(col(idCol), col("__off"))
      .withColumn("__prevMax",
        max(col("__off")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__prevMax").isNull || col("__off") > col("__prevMax") + window,
          1).otherwise(0))
      .withColumn("__island",
        sum(col("__new")).over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__off")).as("__s"), (max(col("__off")) + window).as("__e"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__spans"))
    val t = col(textCol)
    val sp = col("__spans")
    // kept text = the gap before each span (previous span's end — or 0
    // — up to this span's start) + the tail after the last span; one
    // substr per merged span, one concat
    val gaps = transform(sp, (x, i) => {
      val prevEnd = when(i === 0, lit(0))
        .otherwise(element_at(sp, i).getField("__e"))
      t.substr(prevEnd + 1, x.getField("__s") - prevEnd)
    })
    val lastEnd = element_at(sp, -1).getField("__e")
    val rewritten = concat(concat_ws("", gaps),
      when(length(t) > lastEnd,
        t.substr(lastEnd + 1, length(t) - lastEnd)).otherwise(lit("")))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(sp.isNull, t).otherwise(rewritten).as("__clean"),
        coalesce(size(sp).cast("long"), lit(0L)).as("__n"),
        length(t).as("__len"))
      .select(col(idCol),
        // a NULL text passes through as NULL (the substr chain would
        // otherwise collapse it to ""): length(NULL) is the only NULL
        // __len, so it doubles as the marker
        when(col("__len").isNull, lit(null).cast("string"))
          .otherwise(col("__clean")).as("clean_text"),
        col("__n").as("n_dup_spans"),
        (col("__len") - length(col("__clean"))).cast("long").as("n_removed"))
  }

  /** Distinct word n-grams of a text column as an array (n=1 → token
    * set). A document with fewer than n tokens has no n-grams → empty
    * array (an unguarded sequence(0, size-n) would auto-step -1 and
    * index out of range under ANSI mode).
    *
    * For n > 1 the token array is bound ONCE as a lambda variable
    * (`transform(array(t), tk -> ...)` + element_at 1): referencing the
    * raw `t` subtree inside the window lambda would textually duplicate
    * the regex split at every one of its n+1 references and re-run it
    * PER WINDOW ELEMENT — ~n × tokens regex splits per document, the
    * difference between 0.5s and 10s on the sf0.1 corpus. */
  def shingles(c: Column, n: Int): Column = {
    require(n >= 1, s"shingles need n >= 1, got $n")
    val t = split(trim(lower(c)), "\\s+")
    if (n == 1) array_distinct(t)
    else element_at(transform(array(t), tk =>
      array_distinct(
        when(size(tk) >= n, transform(
          sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>")))), 1)
  }

  /** Exact n-gram Jaccard similarity join: all pairs (i < j) with
    * J(shingles_i, shingles_j) >= threshold. EXACT result — same output
    * as the naive shared-shingle join — via prefix filtering
    * (AllPairs/PPJoin, Bayardo et al. WWW'07):
    *
    *  - global rarest-first shingle order (ascending document
    *    frequency, shingle text as tiebreak);
    *  - a pair with J >= t MUST share a shingle within each doc's
    *    prefix of its first |s| - ceil(t*|s|) + 1 shingles in that
    *    order, so the candidate equi-join explodes ONLY prefixes —
    *    a ubiquitous stopword shingle sits at the df-order tail and
    *    never enters the join unless a doc is nearly all stopwords;
    *  - candidates verify with an exact sorted-merge intersection.
    *
    * This bounds the classic hot-shingle n² fan-out without dropping
    * anything. `maxShingleDf > 0` additionally REMOVES shingles with
    * document frequency above the cap from the sets themselves (the
    * corpus-dedup stopword-shingle heuristic) — that changes the
    * Jaccard denominator, so it is off by default and mirrored in the
    * oracle where used.
    */
  def ngramJaccardPairs(df0: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxShingleDf: Long = 0L,
                        scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    // the shingle explode + tokenization below is the pipeline's heavy
    // map phase and runs BEFORE any shuffle — a one-file doc scan
    // would do all of it on 1-3 cores (Widen scaladoc; no-op at scale)
    val df = Widen.toParallelism(df0)
    val ex0 = df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s"))
    val dfreq = ex0.groupBy("s").agg(count(lit(1)).as("df"))
    val capped = if (maxShingleDf > 0) dfreq.filter(col("df") <= maxShingleDf) else dfreq
    val ex = ex0.join(capped, "s")
    // ONE aggregation derives every per-doc artifact: sort_array over
    // (df, s) structs IS the global rarest-first order (ascending df,
    // shingle text tiebreak), from which the prefix (the first
    // sz - ceil(t*sz) + 1 shingles in that order — any J>=t pair
    // shares a prefix shingle) and the lexically-sorted verify set
    // both derive by slicing, with no second window/aggregation pass.
    // The table is persisted because the final plan consumes it four
    // times (both candidate-join sides + both verify joins): without
    // the persist, the corpus-wide explode + df join would re-run per
    // consumer. One row per doc — far smaller than the exploded
    // shingle stream it replaces; the cache manager dedups repeated
    // invocations by canonical plan, so warmup and timed runs share
    // one entry. Lifetime: the caller's `scope` (see CacheScope).
    val sets = scope.persist(ex.groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ranked"))
      .select(col("id"),
        array_sort(transform(col("ranked"), r => r.getField("s"))).as("sh"),
        transform(
          slice(col("ranked"), lit(1),
            (size(col("ranked")) - ceil(lit(threshold) * size(col("ranked"))) + 1)
              .cast("int")),
          r => r.getField("s")).as("pref")))
    val prefix = sets.select(col("id"), explode(col("pref")).as("s"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    // verify candidates with the exact sorted-merge intersection over
    // the full (post-cap) sets
    cands
      .join(sets.select(col("id").as("i"), col("sh").as("sh_i")), "i")
      .join(sets.select(col("id").as("j"), col("sh").as("sh_j")), "j")
      .withColumn("common", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("sh_i"), col("sh_j")))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_i")) + size(col("sh_j")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs: all (i < j) whose shared
    * df-capped shingle count covers at least `contMicrosThreshold`
    * of the SMALLER document's set — `c(A,B) = |A∩B| / min(|A|,|B|)`.
    * This is the duplication symmetric Jaccard is blind to: a wire
    * story pasted into a 10× longer article has Jaccard ≈ |A|/|B| ≈
    * 0.1 (invisible at any sane threshold) but containment ≈ 1.0 —
    * quote-inclusion, boilerplate wrapping, and doc-inside-doc
    * copying all live here, and they matter for training data
    * because the EMBEDDED copy still duplicates its content.
    *
    * Scale shape: the inverted-index self-join on shingles is
    * bounded by the df cap exactly like [[ngramJaccardPairs]]'s
    * verify stage and the decontamination gram join (a shingle with
    * df ≤ cap contributes ≤ cap²/2 pairs); `minShared` prunes the
    * pair table before sizes join back. Sizes are POST-CAP set
    * sizes — part of the contract, shared with the oracle.
    * Everything downstream of the counts is exact BIGINT arithmetic.
    *
    * Output: (i, j, n_shared, sz_i, sz_j, cont_micros). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, minShared: Long,
                       contMicrosThreshold: Long,
                       maxShingleDf: Long = 0L,
                       scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    require(minShared >= 1, "minShared must be positive")
    require(contMicrosThreshold > 0L && contMicrosThreshold <= 1000000L,
      s"containment threshold out of (0, 10^6]: $contMicrosThreshold")
    val ex0 = df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))
    val dfreq = ex0.groupBy("s").agg(count(lit(1)).as("df"))
    val capped = if (maxShingleDf > 0) dfreq.filter(col("df") <= maxShingleDf)
      else dfreq
    val ex = scope.persist(ex0.join(capped.select("s"), "s"))
    val sz = ex.groupBy("id").agg(count(lit(1)).as("sz"))
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(sz.select(col("id").as("i"), col("sz").as("sz_i")), "i")
      .join(sz.select(col("id").as("j"), col("sz").as("sz_j")), "j")
      .withColumn("cont_micros",
        expr("(n_shared * 1000000L) div least(sz_i, sz_j)"))
      .filter(col("cont_micros") >= contMicrosThreshold)
      .select("i", "j", "n_shared", "sz_i", "sz_j", "cont_micros")
  }

  /** Test-set decontamination: score every training document's word
    * n-gram overlap against a held-out set — the LLM-corpus hygiene
    * stage that strips benchmark/eval material from training data
    * (flag on any shared n-gram, or on an overlap-ratio threshold).
    *
    * Scale shape: the held-out side collapses to its DISTINCT n-gram
    * set first (benchmarks are tiny next to the corpus — broadcast by
    * default), the training side explodes each doc's distinct n-grams
    * ONCE, and contamination detection is a key-equality join on the
    * n-gram — never a cross join. One row per training doc that has at
    * least one n-gram: (id, n_shared, n_ngrams, overlap); callers
    * filter at their threshold and anti-join the flagged ids away. */
  def testSetOverlap(train: DataFrame, trainIdCol: String,
                     trainTextCol: String, test: DataFrame,
                     testTextCol: String, n: Int = 3,
                     broadcastTest: Boolean = true): DataFrame = {
    val trainSh = train.select(col(trainIdCol).as("id"),
      explode(shingles(col(trainTextCol), n)).as("s"))
    val testSh0 = test
      .select(explode(shingles(col(testTextCol), n)).as("s")).distinct()
      .withColumn("__hit", lit(1L))
    val testSh = if (broadcastTest) broadcast(testSh0) else testSh0
    // ONE pass over the exploded training corpus: a left join against
    // the (broadcast) test set marks shared n-grams in place, and a
    // single aggregation produces both counts — a second consumer of
    // trainSh would re-run the corpus explode + shingle construction.
    // shingles() is per-doc distinct, so both counts are distinct
    // n-gram counts by construction.
    trainSh.join(testSh, Seq("s"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .select(col("id"), col("n_shared"), col("n_ngrams"),
        (col("n_shared").cast("double") / col("n_ngrams")).as("overlap"))
  }

  /** Modulus for the Carter-Wegman minhash family (a prime; keeps
    * i·h1 far from int64 overflow, which DuckDB would reject). */
  val MinHashMod = 1000000007L

  /** MinHash signatures over the distinct token/shingle set via the
    * Carter-Wegman family h_i = (h0 + i·h1) mod p with h0, h1 < p:
    * TWO md5 evaluations per shingle (not k), then k cheap arithmetic
    * mins — ALL computed in a single shuffled groupBy (k aggregates,
    * one pass). Both terms are reduced mod p FIRST so they share a
    * magnitude (an unreduced 60-bit h0 would dominate i·h1 and collapse
    * the k functions into one); i·h1 < k·p ≈ 2^34 keeps every
    * intermediate far from int64 overflow, which the SQL oracle's
    * BIGINT arithmetic requires. Output: (id, m0 .. m{k-1}). */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, n: Int = 1): DataFrame =
    minHashFromExploded(
      df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s")), k)

  /** [[minHashSignatures]] over a pre-exploded (id, s) shingle table —
    * lets callers pre-filter the shingle stream (e.g. a df cap). */
  private[operators] def minHashFromExploded(exploded: DataFrame, k: Int): DataFrame = {
    val (h0, h1) = minHashSeeds(col("d"))
    exploded
      .withColumn("d", md5(concat(lit("0|"), col("s"))))
      .withColumn("h0", h0)
      .withColumn("h1", h1)
      .drop("d")
      .groupBy("id")
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(i =>
          min((col("h0") + lit(i.toLong) * col("h1")) % MinHashMod).as(s"m$i")): _*)
  }

  /** A shingle's (h0, h1) from its digest `d = md5("0|" + s)`: ONE md5
    * per shingle, h0/h1 being disjoint 60-bit slices of it (md5 hex
    * chars 1-15 and 16-30), reduced mod p. */
  private[operators] def minHashSeeds(d: Column): (Column, Column) =
    (graft.functions.HexSlice60.slice(d, 1) % MinHashMod,
      graft.functions.HexSlice60.slice(d, 16) % MinHashMod)

  /** JVM mirror of [[minHashSeeds]] for a shingle's UTF-8 bytes (the
    * one-task LSH path hashes each distinct shingle once); DedupLshSpec
    * pins it to the Column form. */
  private[operators] def minHashSeedsJvm(s: Array[Byte]): (Long, Long) = {
    val d = Hashing.md5Jvm("0|".getBytes("UTF-8") ++ s)
    (Hashing.hexSlice60(d, 0) % MinHashMod, Hashing.hexSlice60(d, 15) % MinHashMod)
  }

  /** MinHash-LSH near-duplicate pairs: band the k-component signature
    * into bands of `rowsPerBand`, hash each band, equi-join on
    * (band, bandHash) for candidates, then verify candidates with the
    * exact n-gram Jaccard (no false positives; recall is the standard
    * 1-(1-J^r)^b curve).
    *
    * `maxShingleDf > 0` removes shingles with document frequency above
    * the cap from the sets before BOTH signatures and verify (the
    * corpus-dedup stopword heuristic): a ubiquitous shingle makes many
    * signature components collide, fanning the band join toward n². The
    * cap changes the Jaccard denominator, so it is off by default.
    *
    * Hot-bucket guard (same shape as [[simHashPairs]]): the banded
    * self-join runs over DISTINCT full signatures — duplicate mass
    * (boilerplate-identical texts produce identical k-component
    * signatures, flooding one (band, hash) bucket toward Σ cnt²)
    * collapses to one banded row per distinct signature; candidates
    * expand back to id pairs afterwards (output-bound) and every pair
    * is still individually verified by exact Jaccard, so the result
    * is exactly the naive banded join's.
    *
    * Ids: a repeated id pairs under one signature over the union of its
    * rows' shingles; uncapped, each (row of i, row of j) is verified on
    * its own (one output row each), capped, the id's union set is. A
    * null-id row counts toward shingle document frequency but is never
    * part of a pair.
    *
    * Scale shape: one aggregation over the input gates the path. When
    * the rows plus their shingle occurrences fit one task
    * ([[BucketEdges]], ~1M) and the id column is integral, ONE task
    * mines the pairs ([[OneTaskLsh]]): the rows' (id, shingles) come to
    * it through `repartition(1)`, tokenized by [[shingles]] and kept as
    * UTF-8 bytes, and it replays the relational pipeline below (document
    * frequency and cap, per-id Carter–Wegman mins, signature groups, the
    * `hash60` band hashes, cross-group and intra-group candidates, exact
    * Jaccard), yielding the pairs lazily. Nothing is persisted. Larger
    * corpora and other id types run relationally. Both shapes return the
    * same rows and column types. */
  def minHashLshPairs(df0: DataFrame, idCol: String, textCol: String,
                      k: Int, rowsPerBand: Int, threshold: Double,
                      n: Int = 1, maxShingleDf: Long = 0L,
                      scope: CacheScope = CacheScope.unmanaged()): DataFrame =
    minHashLshPairs(df0, idCol, textCol, k, rowsPerBand, threshold, n, maxShingleDf,
      scope, BucketEdges)

  /** [[minHashLshPairs]] with the one-task capacity in rows plus shingle
    * occurrences exposed, so specs can force the relational path
    * (capacity 0). */
  private[operators] def minHashLshPairs(df0: DataFrame, idCol: String, textCol: String,
      k: Int, rowsPerBand: Int, threshold: Double, n: Int, maxShingleDf: Long,
      scope: CacheScope, oneTaskCapacity: Long): DataFrame = {
    require(k >= 1 && rowsPerBand >= 1, s"k and rowsPerBand must be positive, got $k and $rowsPerBand")
    require(k % rowsPerBand == 0, "k must be a multiple of rowsPerBand")
    if (OneTaskLsh.fits(df0, idCol, textCol, n, oneTaskCapacity))
      return OneTaskLsh.pairs(df0, idCol, textCol, k, rowsPerBand, threshold, n, maxShingleDf)
    // heavy pre-shuffle map phase (shingle explode + k md5 draws per
    // shingle) — widen a narrow one-file scan first (Widen scaladoc)
    val df = Widen.toParallelism(df0)
    val ex0 = df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s"))
    val ex =
      if (maxShingleDf <= 0) ex0
      else ex0.join(ex0.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf).select("s"), "s")
    val nBands = k / rowsPerBand
    // the signature aggregation (corpus explode + md5 + k mins) feeds
    // the group table, both expansion joins and the intra-group
    // pairing — persist it once with the exact full-signature group
    // key (pipe-joined components: collision-free, unlike a hash of
    // them, so no pair can be lost to a key collision); lifetime owned
    // by the caller's `scope`. A null id is left out here, after the
    // document frequencies: the expansion's least/greatest would skip
    // it and pair its partner with itself
    val mStr = (0 until k).map(i => col(s"m$i").cast("string"))
    val sigG = scope.persist(minHashFromExploded(ex.filter(col("id").isNotNull), k)
      .withColumn("gk", concat_ws("|", mStr: _*)))
    // one representative row per distinct signature; members share
    // every component, so min() reproduces the group's m-values exactly
    val groups = sigG.groupBy("gk").agg(
      min(col("m0")).as("m0"),
      (1 until k).map(i => min(col(s"m$i")).as(s"m$i")): _*)
    // feeds both sides of the candidate self-join; distinct-signature-
    // sized, so the persist is tiny
    val bands = scope.persist(groups.select(col("gk"),
      explode(map((0 until nBands).flatMap { b =>
        val bandCols = (0 until rowsPerBand)
          .map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
        Seq(lit(b), Hashing.hash60(concat_ws("|", bandCols: _*), 1000 + b))
      }: _*)).as(Seq("band", "bh"))))
    // candidate GROUP pairs (multi-band collisions dedup here, where
    // rows are distinct-signature-sized), then expand to id pairs and
    // add the intra-group pairs (identical signatures collide in every
    // band by construction) — both still verified below
    val gkPairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.gk") < col("b.gk"))
      .select(col("a.gk").as("ga"), col("b.gk").as("gb"))
      .distinct()
    val cross = gkPairs
      .join(sigG.select(col("gk").as("ga"), col("id").as("ia")), "ga")
      .join(sigG.select(col("gk").as("gb"), col("id").as("ib")), "gb")
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"))
    val intra = sigG.as("a").join(sigG.as("b"),
        col("a.gk") === col("b.gk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
    val cands = cross.unionByName(intra)
    // verify: exact Jaccard on the candidate pairs only — sorted-array
    // merge scan (native expression) instead of per-pair hash sets
    // (over the post-cap sets when a cap is active). Persisted: the
    // verify consumes it twice (i side and j side), and in the capped
    // path each evaluation would otherwise re-run the corpus explode +
    // df join.
    val sh = scope.persist(
      if (maxShingleDf <= 0)
        df.select(col(idCol).as("id"), array_sort(shingles(col(textCol), n)).as("sh"))
      else ex.groupBy("id").agg(array_sort(collect_set(col("s"))).as("sh")))
    cands
      .join(sh.select(col("id").as("i"), col("sh").as("sh_i")), "i")
      .join(sh.select(col("id").as("j"), col("sh").as("sh_j")), "j")
      .withColumn("common", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("sh_i"), col("sh_j")))
      // two empty verify sets have no Jaccard: the pair drops, under
      // ANSI as outside it (a 0/0 division would fail the query)
      .withColumn("union", size(col("sh_i")) + size(col("sh_j")) - col("common"))
      .filter(col("union") =!= 0)
      .withColumn("jaccard", col("common").cast("double") / col("union"))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** The three LSH tables for a corpus: member → signature group
    * (id, gk), banded distinct signatures (gk, band, bh), and sorted
    * shingle sets for the exact verify (id, sh). `keep` (a one-column
    * `s` table) optionally restricts the shingle stream to a frozen
    * vocabulary — the [[LshIndex]] boilerplate cap. Docs whose every
    * shingle is filtered away drop out of all three tables (they can
    * collide with nothing). */
  private def lshTables(df: DataFrame, idCol: String, textCol: String,
                        k: Int, rowsPerBand: Int, n: Int,
                        keep: Option[DataFrame])
      : (DataFrame, DataFrame, DataFrame) = {
    require(k % rowsPerBand == 0, "k must be a multiple of rowsPerBand")
    val ex0 = df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s"))
    val ex = keep.fold(ex0)(kp => ex0.join(kp, "s"))
    val mStr = (0 until k).map(i => col(s"m$i").cast("string"))
    val sig = minHashFromExploded(ex, k)
      .withColumn("gk", concat_ws("|", mStr: _*))
    val groups = sig.groupBy("gk").agg(
      min(col("m0")).as("m0"),
      (1 until k).map(i => min(col(s"m$i")).as(s"m$i")): _*)
    val nBands = k / rowsPerBand
    val bands = groups.select(col("gk"),
      explode(map((0 until nBands).flatMap { b =>
        val bandCols = (0 until rowsPerBand)
          .map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
        Seq(lit(b), Hashing.hash60(concat_ws("|", bandCols: _*), 1000 + b))
      }: _*)).as(Seq("band", "bh")))
    val sh = keep match {
      case None => df.select(col(idCol).as("id"),
        array_sort(shingles(col(textCol), n)).as("sh"))
      case Some(_) => ex.groupBy("id")
        .agg(array_sort(collect_set(col("s"))).as("sh"))
    }
    (sig.select(col("id"), col("gk")), bands, sh)
  }

  /** An append-maintained MinHash-LSH near-duplicate index — the
    * incremental-ingest shape of [[minHashLshPairs]]: a crawl shard
    * arriving daily is checked against the STANDING corpus at
    * O(shard) cost instead of re-mining the full corpus (which is
    * O(corpus) per day — at 100 TB, re-banding everything to admit a
    * 0.1% increment is the difference between minutes and hours).
    *
    * State (persisted, caller-released): member → signature-group
    * (corpus rows, two small columns), banded DISTINCT signatures
    * (the same duplicate-mass collapse as the one-shot pipeline), and
    * per-doc sorted shingle sets for the exact verify. [[pairsWith]]
    * bands only the batch and probes the standing band table through
    * a key-equality join — the index is never re-shuffled by anything
    * except its own (band, bh) key — then verifies candidates with
    * exact Jaccard, so the result equals the one-shot recompute over
    * index ∪ batch restricted to batch-touching pairs (spec-pinned).
    * [[append]] folds the batch in for the next day.
    *
    * The boilerplate cap (`maxShingleDf`) is FROZEN at build: the
    * keep-vocabulary is decided by the standing corpus's document
    * frequencies and every batch is filtered through that same set —
    * the production shape (a stop-set recomputed only on index
    * rebuild), and the only shape that keeps appends O(batch): a
    * live cap would need corpus-wide df recounts per batch. Batch
    * ids must be disjoint from index ids (same contract as any
    * append sink). */
  final case class LshIndex private[operators] (
      k: Int, rowsPerBand: Int, n: Int,
      sigG: DataFrame, bands: DataFrame, sh: DataFrame,
      keep: Option[DataFrame]) {

    def release(): Unit =
      (Seq(sigG, bands, sh) ++ keep).foreach { t => t.unpersist(); () }

    /** Near-dup pairs touching `batch`: batch × index plus batch ×
      * batch, exact-Jaccard verified at `threshold`. */
    def pairsWith(batch: DataFrame, idCol: String, textCol: String,
                  threshold: Double,
                  scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
      val (bSig0, bBands0, bSh) = lshTables(batch, idCol, textCol, k, rowsPerBand, n, keep)
      // batch-sized tables feed two joins each — persist for the call
      val bSig = scope.persist(bSig0)
      val bBands = scope.persist(bBands0)
      // batch group × index group band collisions (identical
      // signatures collide in every band; distinct collapses them)
      val crossGk = bBands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
        .select(col("a.gk").as("gn"), col("b.gk").as("gi")).distinct()
      val cross = crossGk
        .join(bSig.select(col("gk").as("gn"), col("id").as("ia")), "gn")
        .join(sigG.select(col("gk").as("gi"), col("id").as("ib")), "gi")
        .select(least(col("ia"), col("ib")).as("i"),
          greatest(col("ia"), col("ib")).as("j"))
      // batch-internal candidates, same discipline as the one-shot path
      val innerGk = bBands.as("a").join(bBands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.gk") < col("b.gk"))
        .select(col("a.gk").as("ga"), col("b.gk").as("gb")).distinct()
      val inner = innerGk
        .join(bSig.select(col("gk").as("ga"), col("id").as("ia")), "ga")
        .join(bSig.select(col("gk").as("gb"), col("id").as("ib")), "gb")
        .select(least(col("ia"), col("ib")).as("i"),
          greatest(col("ia"), col("ib")).as("j"))
      val intra = bSig.as("a").join(bSig.as("b"),
          col("a.gk") === col("b.gk") && col("a.id") < col("b.id"))
        .select(col("a.id").as("i"), col("b.id").as("j"))
      val allSh = bSh.unionByName(sh)
      cross.unionByName(inner).unionByName(intra)
        .join(allSh.select(col("id").as("i"), col("sh").as("sh_i")), "i")
        .join(allSh.select(col("id").as("j"), col("sh").as("sh_j")), "j")
        .withColumn("common", graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("sh_i"), col("sh_j")))
        .withColumn("jaccard", col("common").cast("double") /
          (size(col("sh_i")) + size(col("sh_j")) - col("common")))
        .filter(col("jaccard") >= threshold)
        .select(col("i"), col("j"), col("jaccard"))
    }

    /** Fold a batch into the index: O(batch) signature/band/shingle
      * work, union with the standing tables. The new index owns fresh
      * persisted tables; this one is released (materialize-through-
      * the-old-cache first, as [[Similarity.IvfIndex.append]] does). */
    def append(batch: DataFrame, idCol: String, textCol: String): LshIndex = {
      val (bSig, bBands, bSh) = lshTables(batch, idCol, textCol, k, rowsPerBand, n, keep)
      val st = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // the union's band table must re-collapse signatures shared
      // between index and batch to ONE banded row per (gk, band)
      val nSig = sigG.unionByName(bSig).persist(st)
      val nBands = bands.unionByName(bBands).distinct().persist(st)
      val nSh = sh.unionByName(bSh).persist(st)
      Seq(nSig, nBands, nSh).foreach(_.count()) // through the old cache
      // the frozen keep-vocabulary carries over unchanged (don't
      // release it with the superseded tables)
      (Seq(sigG, bands, sh)).foreach { t => t.unpersist(); () }
      LshIndex(k, rowsPerBand, n, nSig, nBands, nSh, keep)
    }
  }

  /** Build an [[LshIndex]] over the standing corpus (one O(corpus)
    * pass — the cost every subsequent day's shard avoids).
    * `maxShingleDf > 0` freezes a boilerplate keep-vocabulary from
    * THIS corpus's document frequencies (shingles with df above the
    * cap are dropped from signatures and verify, here and for every
    * future batch — see the [[LshIndex]] contract). */
  def buildLshIndex(df: DataFrame, idCol: String, textCol: String,
                    k: Int, rowsPerBand: Int, n: Int = 1,
                    maxShingleDf: Long = 0L): LshIndex = {
    val st = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val keep =
      if (maxShingleDf <= 0) None
      else Some(df
        .select(explode(shingles(col(textCol), n)).as("s"))
        .groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf).select("s")
        .persist(st))
    val (sigG, bands, sh) = lshTables(df, idCol, textCol, k, rowsPerBand, n, keep)
    LshIndex(k, rowsPerBand, n,
      sigG.persist(st), bands.persist(st), sh.persist(st), keep)
  }

  /** Connected components over a near-duplicate pair list — the dedup
    * DELIVERABLE: every document labeled with its duplicate-cluster id
    * (the minimum doc id reachable through the similarity graph), so a
    * keep-one-per-cluster policy is a single filter.
    *
    * Bucketed union-find (local contraction, after Łącki et al. 2018):
    * the edges hash into `edges / BucketEdges + 1` buckets, one task
    * runs a union-find over each bucket, and every node takes the
    * smallest root it saw. A graph under `BucketEdges` edges is one
    * bucket, so it is labelled exactly in ONE round whatever its
    * diameter. With several buckets, the round's checkpoint observes
    * Σ (roots per node − 1); while that is positive the next round
    * unions the contracted (label, root) edges under a fresh hash
    * order, and a window min restores the minimum-id labels at the end.
    * Ids must be integral; the result is a checkpointed (id,
    * cluster_id) table in the input's id type. Throws
    * `IllegalStateException` if the rounds run out. */
  def connectedComponents(pairs: DataFrame, iCol: String = "i",
                          jCol: String = "j"): DataFrame =
    connectedComponents(pairs, iCol, jCol, BucketEdges, MaxRounds)

  // edges (duplicates included) per bucket: one task holds a bucket's
  // edge list in memory, ~1M edges is a few tens of MB; multi-bucket
  // rounds shrink the graph by a constant factor in expectation. Also
  // the largest directed edge list GraphRank ranks in one task.
  private[operators] val BucketEdges = 1L << 20
  private val MaxRounds = 40

  /** [[connectedComponents]] with its bucket capacity and round cap
    * exposed, so specs can force multi-round runs on tiny graphs. */
  private[operators] def connectedComponents(pairs: DataFrame, iCol: String,
      jCol: String, bucketEdges: Long, maxRounds: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Observation}
    import org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = pairs.select(least(col(iCol), col(jCol))).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"connected components need integral ids, got ${idType.simpleString}")
    def typed(df: DataFrame, label: Column): DataFrame =
      df.select(col("node").cast(idType).as("id"), label.cast(idType).as("cluster_id"))
    // a null endpoint leaves its partner as a self pair (least and
    // greatest skip nulls); a both-null pair drops
    val counted = new Observation()
    val edges = pairs
      .select(least(col(iCol), col(jCol)).cast("long").as("a"),
        greatest(col(iCol), col(jCol)).cast("long").as("b"))
      .filter(col("a").isNotNull)
      .observe(counted, count(lit(1)).as("n"))
      .localCheckpoint()
    val nEdges = counted.get("n").asInstanceOf[Long]
    // every node table this call checkpoints; all are released on the
    // way out, the returned table is not one of them
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      if (nEdges == 0) return typed(pairs.select(col(iCol).as("node")).limit(0), col("node"))
      var e = edges
      var n = nEdges
      var done = false
      while (!done) {
        if (rounds.size == maxRounds) throw new IllegalStateException(
          s"connected components did not converge in $maxRounds rounds over $nEdges edges")
        val round = rounds.size
        val nb = (n / bucketEdges + 1).toInt
        // one partition per bucket; a single bucket coalesces the edge
        // table into one task, with no shuffle
        val found = (if (nb == 1) e.coalesce(1) else e.repartition(nb, col("a"), col("b"), lit(round)))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
          .mapPartitions(unionFind(_, round).iterator)(Encoders.product[UnionFindRow])
          .toDF()
        // one bucket: every node saw exactly one root, the exact
        // components; round 0 orders roots by id, so they are the minima
        if (nb == 1 && round == 0) return typed(found, col("root")).localCheckpoint()
        if (nb == 1) {
          rounds += found.select(col("node"), col("root").as("label")).localCheckpoint()
          done = true
        } else {
          val seen = new Observation()
          val nodes = found.groupBy("node").agg(collect_set(struct("key", "root")).as("rs"))
            .select(col("node"), array_min(col("rs")).getField("root").as("label"),
              col("rs").getField("root").as("roots"))
            .observe(seen, sum(size(col("roots")) - 1).as("extra"))
            .localCheckpoint()
          rounds += nodes
          n = seen.get("extra").asInstanceOf[Long]
          done = n == 0
          e = nodes.select(col("label").as("a"), explode(col("roots")).as("b"))
            .filter(col("a") =!= col("b"))
        }
      }
      // compose the rounds' labels from the original nodes onward, then
      // label each final class by its minimum original id
      val reps = rounds.tail.foldLeft(rounds.head.select(col("node"), col("label"))) {
        (lab, next) =>
          lab.join(next.select(col("node").as("__n"), col("label").as("__l")),
              col("label") === col("__n"), "left")
            .select(col("node"), coalesce(col("__l"), col("label")).as("label"))
      }
      typed(reps, min(col("node")).over(Window.partitionBy("label"))).localCheckpoint()
    } finally {
      rounds.foreach(freeLocalCheckpoint)
      freeLocalCheckpoint(edges)
    }
  }

  private[operators] case class UnionFindRow(node: Long, root: Long, key: Long)

  /** Union-find over one bucket's edges (a, b): one (node, root, key)
    * per endpoint, root being the minimum-key node of its component.
    * Round 0 keys each node by its id; later rounds by a bijective hash
    * of the id salted by the round, a fresh pseudo-random order, so a
    * path of increasing ids still contracts. */
  private[operators] def unionFind(es: Iterator[(Long, Long)], round: Int): Array[UnionFindRow] = {
    val ends = { val b = Array.newBuilder[Long]; es.foreach { e => b += e._1; b += e._2 }; b.result() }
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var m = 0
    for (k <- ids.indices) if (m == 0 || ids(k) != ids(m - 1)) { ids(m) = ids(k); m += 1 }
    val key = Array.tabulate(m)(x => if (round == 0) ids(x) else mix64(ids(x) ^ mix64(round)))
    val parent = Array.range(0, m)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def at(v: Long): Int = find(java.util.Arrays.binarySearch(ids, 0, m, v))
    for (e <- 0 until ends.length / 2) {
      val (a, b) = (at(ends(2 * e)), at(ends(2 * e + 1)))
      if (a != b) { if (key(a) < key(b)) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(m) { x => val r = find(x); UnionFindRow(ids(x), ids(r), key(r)) }
  }

  /** The splitmix64 finalizer: a bijection on longs. */
  private def mix64(z: Long): Long = {
    val y = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L; val x = (y ^ (y >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Apply a near-duplicate pair set to the corpus: collapse every
    * connected cluster of pairs to its canonical member (the minimum
    * id — [[connectedComponents]]' cluster label IS that minimum) and
    * return the corpus with the other members removed. This is the
    * deliverable of the whole dedup pipeline — pair mining
    * ([[ngramJaccardPairs]], [[minHashLshPairs]], [[simHashPairs]])
    * answers "what is duplicated"; this answers "what do I train on".
    *
    * Scale shape: the component table is EDGE-sized (near-dup members
    * only, a sliver of the corpus, labelled by one union-find pass
    * over the edges below ~1M of them), the loser set (cluster members
    * that are not the canonical min) is smaller still, and the corpus
    * passes through one left-anti equi-join on the id — broadcast when
    * the loser set fits, hash-partitioned otherwise; either way the
    * corpus is never re-shuffled by anything but its own id key. Rows
    * untouched by any pair stream through unexamined. */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                    iCol: String = "i", jCol: String = "j"): DataFrame = {
    val losers = connectedComponents(pairs, iCol, jCol)
      .filter(col("cluster_id") =!= col("id"))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** SimHash: `bits`-bit locality-sensitive content signature. Each
    * token (with multiplicity) votes ±1 per bit position of its 60-bit
    * hash; the signature sets bit j iff the vote sum is positive.
    * One explode + one groupBy with `bits` sums — a single shuffle of
    * pre-aggregated partial sums. */
  def simHash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    require(bits <= 60, "hash60 provides 60 bits")
    val toks = df.select(col(idCol).as("id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("t"))
      .withColumn("h", Hashing.hash60(col("t")))
    val votes = toks.groupBy("id").agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(1) === 1, 1).otherwise(-1)).as("b0"),
      (1 until bits).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
          .as(s"b$j")): _*)
    val sig = (0 until bits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-duplicate PAIRS at hamming distance ≤ `maxHamming` —
    * the banded multi-index formulation (the approach of Manku,
    * Jain & Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW 2007: split the fingerprint into blocks, index each block,
    * probe by block equality, verify by full hamming distance).
    *
    * EXHAUSTIVE by pigeonhole: the signature splits into
    * `maxHamming + 1` equal bit-bands, so any pair differing in at
    * most `maxHamming` bits agrees EXACTLY on at least one band —
    * banding here is a lossless index, not a recall trade-off (unlike
    * the probabilistic MinHash/SRP banding). Candidates are the
    * band-equality self-join; the verify step computes the true
    * hamming distance with one XOR + popcount (integer-exact, no
    * float anywhere).
    *
    * Scale shape: only (simhash, band, bandKey) rows shuffle — the
    * text never leaves the signature job — and the banded self-join
    * runs over DISTINCT signatures, never documents. That is the
    * hot-bucket guard: duplicate mass (boilerplate-identical texts,
    * the classic banded-join pathology where one bucket goes Σ cnt²)
    * collapses to ONE banded row per distinct signature before the
    * join, so bucket sizes are bounded by distinct-signature counts —
    * with B-bit bands a random corpus spreads each band over 2^B
    * buckets of distinct values. Matched signature pairs then expand
    * back to id pairs through two equi-joins, and identical-signature
    * documents pair directly (hamming 0 by definition) — both
    * output-bound, and LOSSLESS: the result set is exactly the naive
    * banded join's. The only remaining quadratic is the answer itself
    * (n identical docs DO have n²/2 duplicate pairs); consumers who
    * want clusters, not pairs, should feed [[connectedComponents]] or
    * run exact dedup first. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 32, maxHamming: Int = 3,
                   scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    val nBands = maxHamming + 1
    require(bits % nBands == 0,
      s"bits=$bits must split evenly into maxHamming+1=$nBands bands")
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1
    // signatures feed the distinct-banding, both expansion joins and
    // the intra-signature pairing; persist once (lifetime: caller's
    // scope), sized one row per document. The signature computation's
    // per-token hashing is the heavy pre-shuffle map phase — widen a
    // narrow one-file scan first (Widen scaladoc)
    val sigs = scope.persist(simHash(Widen.toParallelism(df), idCol,
      textCol, bits))
    val distinctSigs = sigs.select(col("simhash")).distinct()
    // feeds both sides of the candidate self-join; distinct-signature-
    // sized, so the persist is tiny
    val banded = scope.persist(distinctSigs.select(col("simhash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))
            .as("key"))): _*)).as("bk"))
      .select(col("simhash"), col("bk.band").as("band"),
        col("bk.key").as("key")))
    // candidate SIGNATURE pairs; a pair can collide in several bands —
    // dedup BEFORE the verify so each candidate's hamming is computed
    // once, and sa < sb dedups the symmetric hit
    val sigPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
    // expand matched signature pairs to id pairs (each unordered id
    // pair appears exactly once: its signature pair is unique under
    // sa < sb), normalizing to i < j
    val cross = sigPairs
      .join(sigs.select(col("simhash").as("sa"), col("id").as("ia")), "sa")
      .join(sigs.select(col("simhash").as("sb"), col("id").as("ib")), "sb")
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"), col("hamming"))
    // identical signatures are hamming 0 by definition — no verify
    val intra = sigs.as("a").join(sigs.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(intra)
  }

  /** Embedding near-duplicate pairs by cosine similarity — the EXACT
    * all-pairs baseline (O(n²) nested-loop join): the correctness
    * oracle for [[embeddingLshPairs]], and only appropriate on bounded
    * inputs. At corpus scale use [[embeddingLshPairs]]. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    // norms precomputed once per vector; dot/(|a|·|b|) rather than a
    // dot of unit vectors — the two differ in float rounding, and this
    // is the form with proven bit-parity against the SQL oracle
    val v = df.select(col(idCol).as("id"),
      Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Deterministic ±1 hyperplane for sign-random-projection LSH: the
    * weight of (bit j, dimension d) is the low bit of md5("hp|seed|j|d")
    * — reproducible across runs and JVMs with no RNG state. */
  private[graft] def hyperplane(seed: Int, bit: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      val digest = md.digest(s"hp|$seed|$bit|$d".getBytes("UTF-8"))
      if ((digest(0) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Scale-safe embedding near-duplicate pairs: sign-random-projection
    * (hyperplane) LSH — the vector analogue of [[minHashLshPairs]].
    *
    * Signature bit j = sign(v · h_j) for `nBits` deterministic ±1
    * hyperplanes (sign of a dot is scale-invariant, so raw vectors need
    * no normalization). Bits band into `nBits/rowsPerBand` bands; a
    * candidate pair is any two vectors sharing one full band — a
    * key-equality self-join on (band, bandBits), never a cross join —
    * then candidates are verified with the exact cosine, so there are
    * NO false positives and recall follows 1-(1-p^r)^b with
    * p = 1 - θ/π (Charikar's sign-LSH collision probability).
    *
    * At 100 TB this shuffles (id, band, bandBits) triples and joins by
    * band bucket: Σ bucket² work instead of the all-pairs n². The
    * default `rowsPerBand = 8` gives 2^8 = 256 bucket values per band
    * (4 bands at the default 32 bits): even on unclustered vectors the
    * expected candidate volume is ~n²/256 per band, and clustered real
    * embeddings concentrate matching pairs further. Wider bands trade
    * recall for pruning along 1-(1-p^r)^b — for genuinely-near pairs
    * (cosine ≳ 0.95, p ≳ 0.9) recall stays high; to chase moderate
    * similarities, narrow the bands or raise nBits.
    *
    * `dim <= 0` (the default) derives the hyperplane width from the
    * data: a hard-coded dim narrower than the vectors would silently
    * hash only a prefix of each embedding (DotProduct iterates the
    * shorter operand) and degrade recall with no error. */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, dim: Int = 0, nBits: Int = 32,
                        rowsPerBand: Int = 8, seed: Int = 0,
                        scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    val cands = embeddingLshCandidates(df, idCol, vecCol, dim, nBits,
      rowsPerBand, seed, scope)
    // verify candidates with the exact cosine — norm-precomputed
    // dot/(|a|·|b|), the form with proven bit-parity vs the SQL oracle
    val u = df.select(col(idCol).as("id"),
      Similarity.toDoubleVec(col(vecCol)).as("u"))
      .withColumn("nrm", Similarity.norm(col("u")))
    cands
      .join(u.select(col("id").as("i"), col("u").as("u_i"),
        col("nrm").as("nrm_i")), "i")
      .join(u.select(col("id").as("j"), col("u").as("u_j"),
        col("nrm").as("nrm_j")), "j")
      .withColumn("cosine", Similarity.dot(col("u_i"), col("u_j")) /
        (col("nrm_i") * col("nrm_j")))
      .filter(col("cosine") >= threshold)
      .select(col("i"), col("j"), col("cosine"))
  }

  /** Candidate stage of [[embeddingLshPairs]] (pre-verify): all pairs
    * sharing one full signature band. Exposed so callers and specs can
    * measure candidate volume against n² — the number that decides
    * whether the banding actually prunes at scale. */
  def embeddingLshCandidates(df: DataFrame, idCol: String, vecCol: String,
                             dim: Int = 0, nBits: Int = 32,
                             rowsPerBand: Int = 8, seed: Int = 0,
                             scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    require(nBits % rowsPerBand == 0, "nBits must be a multiple of rowsPerBand")
    require(rowsPerBand <= 62, "band bits must pack into a long")
    // one-row scan: derive the data's width, and when an explicit dim
    // was passed (e.g. to pin hyperplanes against an external oracle)
    // fail LOUDLY on mismatch — a silent prefix hash would just
    // degrade recall with no error. With an explicit dim there is
    // nothing to derive, so skip the probe job entirely; that also
    // means an EMPTY frame + explicit dim is valid (returns no
    // candidates) instead of tripping the mismatch against a
    // nonsense fallback width.
    val d =
      if (dim > 0) {
        val dataDim = df.select(size(col(vecCol)).as("d")).head(1)
          .headOption.map(_.getInt(0))
        require(dataDim.forall(_ == dim),
          s"explicit dim=$dim does not match data dimensionality ${dataDim.get}")
        dim
      } else {
        df.select(size(col(vecCol)).as("d")).head(1)
          .headOption.map(_.getInt(0)).getOrElse(1)
      }
    val nBands = nBits / rowsPerBand
    val v = df.select(col(idCol).as("id"),
      Similarity.toDoubleVec(col(vecCol)).as("v"))
    // one column per signature bit, then pack each band's bits
    val bitCols = (0 until nBits).map { j =>
      when(Similarity.dot(col("v"), lit(hyperplane(seed, j, d))) >= 0, 1L)
        .otherwise(0L)
    }
    val bandPairs = (0 until nBands).flatMap { b =>
      val packed = (0 until rowsPerBand)
        .map(r => bitCols(b * rowsPerBand + r) * lit(1L << r))
        .reduce(_ + _)
      Seq(lit(b), packed)
    }
    // the 32-dot-products-per-vector signature subtree feeds BOTH
    // sides of the candidate self-join — persist the banded table so
    // it computes once by construction (ReuseExchange MIGHT dedupe the
    // unpersisted twin, but that is plan luck, not design); same
    // discipline as the minhash path above. Lifetime: caller's scope.
    val bands = scope.persist(v.select(col("id"),
      explode(map(bandPairs: _*)).as(Seq("band", "bits"))))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
  }

  /** All unordered pairs of distinct strings within Levenshtein
    * distance 1 — the typo/variant-mining join (vocabulary cleanup,
    * entity-name resolution), via FastSS deletion neighborhoods: two
    * strings are within one edit iff they share a member of
    * D(s) = {s} ∪ {s with one character deleted} (a substitution pair
    * shares the both-sides deletion at the differing position; an
    * insertion/deletion pair shares the shorter string itself). So
    * candidate generation is a KEY-EQUALITY self-join on the O(len)
    * deletion variants — Σ bucket² over shared variants, never the n²
    * cross join — and the exact `levenshtein` filter (codegen'd
    * builtin) removes the false positives (distinct variants of the
    * same deletion collapse via array_distinct before the explode).
    * Everything is pure Column — sequence/transform/substr — so the
    * variant generation stays in whole-stage codegen.
    *
    * Input must be one row per DISTINCT string (caller dedups);
    * output (tok_a, tok_b), tok_a < tok_b, each pair once. */
  def editDistanceOnePairs(df: DataFrame, strCol: String): DataFrame = {
    // alias first, generate variants in a second projection — doing
    // both in one select would make the explode a lateral reference to
    // the just-aliased column (rejected by the analyzer)
    val base = df.select(col(strCol).as("tok"))
    val s = col("tok")
    // join on the 64-bit hash of each variant, not the variant string:
    // the exchange then carries (tok, 8 bytes) instead of (tok, ~len
    // bytes), and a hash collision can only ADD a candidate pair —
    // which the exact levenshtein verify below removes
    val variants = base.select(s,
      explode(array_distinct(transform(sequence(lit(0), length(s)), i =>
        xxhash64(concat(s.substr(lit(1), i),
          s.substr(i + lit(2), length(s))))))).as("v"))
    variants.as("a").join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.tok") < col("b.tok"))
      .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
  }
}
