package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("exact dedup collapses identical texts to one group") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text").collect()
    assert(got.length == 2)
    val dup = got.find(_.getAs[Long]("n_docs") == 2).get
    assert(dup.getAs[Long]("min_doc_id") == 1L)
  }

  test("line dedup drops corpus-frequent lines, keeps order, keeps empty docs") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "HEADER\nalpha\nbeta\nFOOTER"),
      (2L, "HEADER\ngamma\nFOOTER"),
      (3L, "HEADER\nFOOTER"),          // all-boilerplate: must survive, empty
      (4L, "delta\nalpha"))            // alpha df=2 -> dropped here too
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(df, "doc_id", "text", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("beta", 1L, 3L)))
    assert(got(2L) == (("gamma", 1L, 2L)))
    assert(got(3L) == (("", 0L, 2L)), "all-boilerplate doc keeps its row")
    assert(got(4L) == (("delta", 1L, 1L)))
  }

  test("line dedup with no flagged lines is the identity") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a\nb"), (2L, "c\nd")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(df, "doc_id", "text", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a\nb", 2L -> "c\nd"))
  }

  test("line dedup counts doc-frequency, not occurrences within one doc") {
    val s = spark
    import s.implicits._
    // "x" repeats inside doc 1 only: df=1, below threshold -> kept
    val df = Seq((1L, "x\nx\ny"), (2L, "z")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(df, "doc_id", "text", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "x\nx\ny")
  }

  test("line dedup: join fallback output is identical to the broadcast path") {
    // same cleanup at maxBroadcastLines = 0 (everything via the anti-
    // join tail), 1 (hybrid: hottest line broadcast, rest joined), and
    // default (pure broadcast) — on real corpus docs plus the edge
    // shapes (all-boilerplate doc, within-doc repeats, empty lines)
    val s = spark
    import s.implicits._
    val edge = Seq((9001L, "HEADER\n\nalpha\nFOOTER"),
      (9002L, "HEADER\n\nFOOTER"), (9003L, "HEADER\nalpha\nalpha\nFOOTER"))
      .toDF("doc_id", "text")
    val df = docs.select(col("doc_id"), col("text")).unionByName(edge)
    def run(cap: Int) =
      Dedup.dedupLines(df, "doc_id", "text", maxDocFreq = 2, maxBroadcastLines = cap)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
    val viaBroadcast = run(Int.MaxValue)
    assert(run(0).sameElements(viaBroadcast), "pure-join path diverged")
    assert(run(1).sameElements(viaBroadcast), "hybrid path diverged")
  }

  test("IVF append equals rebuild-from-scratch on the union") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val fresh = e.filter(col("vec_id") % 5 === 0)
    val q = e.filter(col("vec_id") < 3)
    val idx = Similarity.buildIvfIndex(old, "vec_id", "embedding", nCentroids = 4)
    val appended = idx.append(fresh, "vec_id", "embedding")
    try {
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "id", "cosine", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val got = key(Similarity.probeTopK(appended.centroids, appended.bucketed,
        q, "vec_id", "embedding", k = 10, nProbe = 4))
      // rebuild against the SAME frozen centroids over the union: the
      // append contract is assign-only, so results must be identical
      val rebuilt = Similarity.assignBuckets(old.unionByName(fresh),
        "vec_id", "embedding", appended.centroids)
      val want = key(Similarity.probeTopK(appended.centroids, rebuilt,
        q, "vec_id", "embedding", k = 10, nProbe = 4))
      assert(got == want)
      // the appended vectors are actually searchable
      val hitIds = got.map(_._2)
      assert(fresh.select("vec_id").collect().map(_.getLong(0)).exists(hitIds.contains))
    } finally appended.release()
  }

  test("duplicate windows: cross-doc shared substrings flagged, within-doc repeats are not") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "abcdefgh"),   // windows (W=4, S=2): abcd cdef efgh
      (2L, "xxabcdyy"),   // xxab abcd cdyy — shares "abcd" with 1 and 4
      (3L, "zzz"),        // shorter than the window: no rows
      (4L, "abcdabcd"),   // abcd cdab abcd — BOTH abcd occurrences flagged
      (5L, "pppppppp"))   // pppp ×3 in ONE doc only: repetition, not dup
      .toDF("doc_id", "text")
    val got = Dedup.duplicateWindows(df, "doc_id", "text", window = 4, stride = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 4L, 5L), "sub-window doc 3 excluded")
    assert(got(1L) == ((3L, 1L, 0.333333)))
    assert(got(2L) == ((3L, 1L, 0.333333)))
    assert(got(4L) == ((3L, 2L, 0.666667)), "every occurrence of a cross-doc window counts")
    assert(got(5L) == ((3L, 0L, 0.0)), "single-doc repetition is not cross-doc duplication")
  }

  test("excise duplicate windows: planted cross-doc spans are cut, the rest survives") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "abcdefgh"),   // windows (W=4,S=2): abcd cdef efgh; "abcd" dup w/ 2,4
      (2L, "xxabcdyy"),   // xxab [abcd] cdyy → span [2,6) cut
      (3L, "zzz"),        // shorter than the window: untouched
      (4L, "abcdabcd"),   // abcd cdab abcd: offs 0 and 4 ADJACENT → ONE merged span
      (5L, "pppppppp"),   // within-doc repetition only: untouched
      (6L, null))         // NULL text: stays NULL, never becomes ""
      .toDF("doc_id", "text")
    val got = Dedup.exciseDuplicateWindows(df, "doc_id", "text",
        window = 4, stride = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))))
      .toMap
    assert(got(1L) == (("efgh", 1L, 4L)), "doc 1 loses its leading dup span")
    assert(got(2L) == (("xxyy", 1L, 4L)), "doc 2 keeps the flanks")
    assert(got(3L) == (("zzz", 0L, 0L)))
    assert(got(4L) == (("", 1L, 8L)), "adjacent dup windows merge to one span")
    assert(got(5L) == (("pppppppp", 0L, 0L)))
    assert(got(6L) == ((null, 0L, -1L)), "NULL text passes through as NULL")
  }

  test("excise duplicate windows: overlapping windows merge; output is partitioning-independent") {
    val s = spark
    import s.implicits._
    // shared 6-char run "QQQQQQ" at different offsets; W=4,S=1 makes
    // every inner window dup → one merged span per doc covering the run
    val df = Seq(
      (1L, "aaQQQQQQbb"),
      (2L, "QQQQQQcccc"))
      .toDF("doc_id", "text")
    def run(parts: Int) = Dedup.exciseDuplicateWindows(
        df.repartition(parts), "doc_id", "text", window = 4, stride = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val got = run(2)
    assert(got == run(5))
    assert(got == Seq((1L, "aabb", 1L), (2L, "cccc", 1L)))
  }

  test("fingerprint dedup is order- and repetition-insensitive") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "b a c a"), (2L, "a  b c"), (3L, "a b d"))
      .toDF("doc_id", "text")
    val got = Dedup.byFingerprint(df, "doc_id", "text").collect()
    assert(got.length == 2)
    assert(got.map(_.getAs[Long]("n_docs")).sorted.toSeq == Seq(1L, 2L))
  }

  test("ngram jaccard: identical doc pair scores 1.0, disjoint pair absent") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 2, 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("i") == 1 && pairs(0).getAs[Long]("j") == 2)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("shingles n>1 on docs shorter than n yields empty, not an error") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "lone"), (2L, "two words"), (3L, "a b c d e"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"), size(Dedup.shingles(col("text"), 3)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 3))
    // and the full pair pipelines survive a corpus containing short docs
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.minHashLshPairs(df, "doc_id", "text",
      k = 4, rowsPerBand = 2, threshold = 0.5, n = 3).count() == 0)
  }

  test("connected components on an empty pair list returns empty labels") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    val got = Dedup.connectedComponents(empty)
    assert(got.columns.toSeq == Seq("id", "cluster_id"))
    assert(got.count() == 0)
  }

  test("minhash LSH pairs have no false positives and high recall vs exact") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a released scope: a table left cached here would be cached
    // already when "CacheScope releases every table…" persists it
    val scope = new CacheScope
    val lsh = try Dedup.minHashLshPairs(docs, "doc_id", "text",
      k = 16, rowsPerBand = 2, threshold = 0.5, scope = scope)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally scope.release()
    assert(lsh.subsetOf(exact), "verify step must kill false positives")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low (|exact|=${exact.size})")
  }

  test("shingle df cap drops ubiquitous shingles but keeps real near-dups") {
    val s = spark
    import s.implicits._
    // "the" is in every doc (df=4 > cap 3); docs 1/2 are near-dups on
    // their rare shingles, docs 3/4 share ONLY the capped stopword
    val df = Seq((1L, "the alpha beta gamma"), (2L, "the alpha beta gamma"),
      (3L, "the zig zag"), (4L, "the quux corge"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 1, 0.5,
      maxShingleDf = 3L).collect()
    assert(capped.length == 1)
    assert(capped(0).getAs[Long]("i") == 1 && capped(0).getAs[Long]("j") == 2)
    // post-cap the 1-2 sets are identical -> jaccard exactly 1.0
    assert(capped(0).getAs[Double]("jaccard") == 1.0)
    // the LSH path under the same cap agrees on the surviving pair
    val lsh = Dedup.minHashLshPairs(df, "doc_id", "text",
      k = 8, rowsPerBand = 1, threshold = 0.5, maxShingleDf = 3L).collect()
    assert(lsh.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("prefix filtering returns the same pairs as verify on full sets (exactness)") {
    // sf0.001 corpus: prefix-filtered ngramJaccardPairs must equal a
    // naive all-shared-shingle join formulation
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 1).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("sz"))
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    val naive = ex.as("a").join(ex.as("b"), col("a.s") === col("b.s"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("id", "i").withColumnRenamed("sz", "sz_i"), "i")
      .join(sizes.withColumnRenamed("id", "j").withColumnRenamed("sz", "sz_j"), "j")
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_i") + col("sz_j") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive)
    assert(naive.nonEmpty)
  }

  test("embedding LSH pairs have no false positives vs exact (testdata)") {
    // this corpus is near-random (no cluster structure, max cosine
    // ~0.44), so the default 8-bit bands prune most moderate-cosine
    // candidates BY DESIGN — the assertion here is exactness of the
    // verify step; recall is asserted below on genuinely-near pairs
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.3)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshPairs(e, "vec_id", "embedding", 0.3)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact-cosine verify must kill false positives")
    assert(exact.nonEmpty)
  }

  /** Synthetic near-dup corpus: `nBase` random unit-ish vectors plus a
    * tiny-noise copy of each — every (v, v') pair has cosine ≳ 0.99,
    * the regime sign-LSH banding is built for. Deterministic seed. */
  private def nearDupVectors(nBase: Int, dim: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    (0 until nBase).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val dup = v.map(x => x + rnd.nextGaussian() * 0.02)
      Seq((i.toLong, v.toSeq), ((i + nBase).toLong, dup.toSeq))
    }.toDF("vec_id", "embedding")
  }

  test("embedding LSH recall >= 0.9 on genuinely-near pairs at default bands") {
    val e = nearDupVectors(nBase = 200, dim = 64)
    val exact = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.95)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshPairs(e, "vec_id", "embedding", 0.95)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(exact.size >= 150, s"expected the planted pairs, got ${exact.size}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low (|exact|=${exact.size})")
  }

  test("default 8-bit bands cut candidate volume >= 4x vs the old 2-bit bands") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = e.count().toDouble
    val narrow = Dedup.embeddingLshCandidates(e, "vec_id", "embedding",
      nBits = 16, rowsPerBand = 2).count()
    val wide = Dedup.embeddingLshCandidates(e, "vec_id", "embedding").count()
    info(f"candidates: 2-bit bands $narrow, 8-bit bands $wide, n²/2 = ${n * n / 2}%.0f")
    assert(wide * 4 <= narrow,
      s"wide bands should prune >=4x: narrow=$narrow wide=$wide")
  }

  test("testSetOverlap scores n-gram contamination exactly and broadcasts the test side") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (10L, "a b c d e"),      // 3-grams: {a b c, b c d, c d e} — 2 shared
      (11L, "x y z w"),        // {x y z, y z w} — 0 shared
      (12L, "a b c d"),        // {a b c, b c d} — 2 of 2 shared
      (13L, "q r"))            // shorter than n: no 3-grams, absent from output
      .toDF("doc_id", "text")
    val test = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.testSetOverlap(train, "doc_id", "text", test, "text", n = 3)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"test-shingle join must broadcast:\n$plan")
    val rows = got.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows(10L) == ((2L, 3L, 2.0 / 3)))
    assert(rows(11L) == ((0L, 2L, 0.0)))
    assert(rows(12L) == ((2L, 2L, 1.0)))
    assert(!rows.contains(13L))
  }

  test("testSetOverlap matches a naive per-doc set computation on random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    def doc() = Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val train = (0 until 120).map(i => (i.toLong + 100, doc()))
    val test = (0 until 10).map(i => (i.toLong, doc()))
    val n = 2
    def grams(t: String): Set[String] = {
      val tk = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (tk.length < n) Set.empty
      else tk.sliding(n).map(_.mkString(" ")).toSet
    }
    val testGrams = test.flatMap(d => grams(d._2)).toSet
    val expected = train.map { case (id, t) =>
      val g = grams(t)
      id -> ((g.count(testGrams), g.size))
    }.filter(_._2._2 > 0).toMap
    val got = Dedup.testSetOverlap(
        train.toDF("doc_id", "text"), "doc_id", "text",
        test.toDF("doc_id", "text"), "text", n = n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1).toInt, r.getLong(2).toInt)))
      .toMap
    assert(got == expected)
  }

  test("simhash: identical docs share a signature; signatures spread overall") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val sig = Dedup.simHash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("simhash pairs: banded join equals brute-force hamming<=3 (pigeonhole)") {
    val s = spark
    import s.implicits._
    // real corpus slice so band keys are organic — plus a SEEDED
    // guaranteed near-dup pair, so the nonEmpty assertion below cannot
    // go flaky if a future testdata regeneration leaves the slice
    // without an organic hamming<=3 pair
    val seeded = Seq(
      (1000001L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1000002L, "the quick brown fox jumps over the lazy dog again and again tonight"))
      .toDF("doc_id", "text")
    val d = docs.filter(col("doc_id") < 200).select("doc_id", "text")
      .unionByName(seeded)
    for (bits <- Seq(32, 60)) {
      val banded = Dedup.simHashPairs(d, "doc_id", "text", bits, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val sigs = Dedup.simHash(d, "doc_id", "text", bits)
      val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int").as("h"))
        .filter(col("h") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute, s"bits=$bits")
      assert(banded.nonEmpty, s"bits=$bits: no near-dup pair found")
    }
  }

  test("simhash pairs: multi-band collisions emit one row; plan has no cartesian") {
    val s = spark
    import s.implicits._
    // identical docs collide in EVERY band (hamming 0) — still one row
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated totally different words")).toDF("doc_id", "text")
    val out = Dedup.simHashPairs(df, "doc_id", "text")
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, 2L, 0)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"banded candidate join must be key-equality, got:\n$plan")
  }

  test("simhash pairs: degenerate all-identical corpus never floods a band bucket") {
    val s = spark
    import s.implicits._
    // 400 identical docs + 2 distinct: the naive per-document banded
    // join would put 400 rows in ONE (band, key) bucket (Σ cnt² =
    // 160k join rows per band × 4 bands); the distinct-signature
    // banding must collapse them to one banded row per band, with the
    // quadratic confined to the (true, output-bound) intra pairs
    val dup = (1L to 400L).map(i => (i, "boilerplate header repeated verbatim"))
    val other = Seq((901L, "some entirely different content"),
      (902L, "yet another unrelated document"))
    val df = (dup ++ other).toDF("doc_id", "text")
    val out = Dedup.simHashPairs(df, "doc_id", "text")
    // all C(400,2) duplicate pairs at hamming 0, plus whatever the two
    // extra docs contribute — every dup pair must be present exactly once
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val dupPairs = got.filter { case (i, j, _) => i <= 400 && j <= 400 }
    assert(dupPairs.length == 400 * 399 / 2)
    assert(dupPairs.forall(_._3 == 0))
    assert(got.length == got.distinct.length, "pairs must be unique")
    // the banded self-join itself sees only DISTINCT signatures: 3 docs
    // worth of text → at most 3 signatures × 4 bands on each side
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"))
  }

  test("minhash LSH pairs: degenerate all-identical corpus matches per-doc banding") {
    val s = spark
    import s.implicits._
    val dup = (1L to 300L).map(i => (i, "common boilerplate text block"))
    val other = Seq((901L, "completely different words here"),
      (902L, "nothing shared with anything else"))
    val df = (dup ++ other).toDF("doc_id", "text")
    val out = Dedup.minHashLshPairs(df, "doc_id", "text",
      k = 16, rowsPerBand = 2, threshold = 0.5)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val dupPairs = got.filter { case (i, j, _) => i <= 300 && j <= 300 }
    // identical texts: jaccard 1.0, every pair exactly once
    assert(dupPairs.length == 300 * 299 / 2)
    assert(dupPairs.forall(_._3 == 1.0))
    assert(got.length == got.distinct.length, "pairs must be unique")
  }

  test("IVF with nProbe == nCentroids equals brute force exactly") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "cosine", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = key(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10))
    val ivfAll = key(Similarity.ivfTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10, nCentroids = 8, nProbe = 8))
    assert(ivfAll == brute)
  }

  /** Clustered corpus: `k` well-separated Gaussian clusters, ids
    * assigned cluster-major — the layout where an UNTRAINED
    * first-N-by-id quantizer would drop every coarse centroid into
    * cluster 0 and partial-probe recall would collapse. */
  private def clusteredVectors(k: Int, perCluster: Int, dim: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (0 until k).flatMap { c =>
      (0 until perCluster).map { i =>
        ((c * perCluster + i).toLong,
          centers(c).map(x => x + rnd.nextGaussian() * 0.3).toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  test("trained IVF keeps recall@10 >= 0.9 on clustered vectors at nProbe << nCentroids") {
    val e = clusteredVectors(k = 8, perCluster = 60, dim = 32)
    val q = e.filter(col("vec_id") % 60 === 0) // one query per cluster
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10))
    val ivf = pairs(Similarity.ivfTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10, nCentroids = 8, nProbe = 2))
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"trained-IVF recall $recall too low at nProbe=2/8")
  }

  test("pure PQ ADC retrieves the right region: top-10 all from the query's cluster") {
    // At 16x compression every same-cluster vector quantizes to (near)
    // identical codes, so ADC cannot order WITHIN a cluster — the
    // guarantee it does make is regional: every approximate top-10 hit
    // belongs to the query's true cluster (cross-cluster scores are
    // far apart). Within-cluster order is the rerank stage's job.
    val e = clusteredVectors(k = 8, perCluster = 60, dim = 32)
    val q = e.filter(col("vec_id") % 60 === 0)
    val pq = Similarity.pqTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", 10, nSub = 4, nCodes = 8)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.nonEmpty)
    val wrongRegion = pq.filter { case (qid, id) => id / 60 != qid / 60 }
    assert(wrongRegion.isEmpty,
      s"ADC hits outside the query's cluster: ${wrongRegion.take(5).toSeq}")
  }

  test("PQ ADC + exact rerank keeps recall@10 >= 0.9 at 16x compression") {
    // The production retrieval shape: ADC narrows to a candidate
    // region, the exact cosine rerank restores order inside it.
    val e = clusteredVectors(k = 8, perCluster = 60, dim = 32)
    val q = e.filter(col("vec_id") % 60 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10))
    val pq = pairs(Similarity.pqTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10, nSub = 4, nCodes = 8, rerank = 60))
    val recall = (pq & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"PQ+rerank recall $recall too low")
  }

  test("IVF-PQ equals brute force when probing every cell with a full rerank") {
    val e = clusteredVectors(k = 8, perCluster = 60, dim = 32)
    val q = e.filter(col("vec_id") % 60 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = key(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10))
    // nProbe == nCentroids (nothing pruned) + rerank covering the whole
    // corpus (exact cosine restores true order) ⇒ exactly brute force
    val all = key(Similarity.ivfPqTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10, nCentroids = 8, nProbe = 8,
      nSub = 4, nCodes = 8, rerank = 480))
    assert(all == brute)
  }

  test("IVF-PQ recall@10 >= 0.9 at nProbe=2/8 with within-cell rerank") {
    // the composed production shape: IVF prunes to 2 of 8 cells, ADC
    // narrows within them, the exact rerank restores order
    val e = clusteredVectors(k = 8, perCluster = 60, dim = 32)
    val q = e.filter(col("vec_id") % 60 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = key(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10))
    val ivfpq = key(Similarity.ivfPqTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10, nCentroids = 8, nProbe = 2,
      nSub = 4, nCodes = 8, rerank = 60))
    val recall = (ivfpq & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF-PQ recall $recall too low at nProbe=2/8")
  }

  test("PQ codes are the compressed form: nSub small ints per vector") {
    val e = clusteredVectors(k = 4, perCluster = 20, dim = 16)
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding",
      nSub = 4, nCodes = 4)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", books,
      nSub = 4, subDim = 4).collect()
    assert(codes.length == 80 * 4, "one code per (vector, subspace)")
    assert(codes.forall { r =>
      val c = r.getAs[Int]("code"); c >= 0 && c < 4
    })
    assert(books.count() == 16, "nSub x nCodes codebook entries")
  }

  test("PQ training and scoring are identical under repartitioning") {
    val e = clusteredVectors(k = 4, perCluster = 30, dim = 16)
    val q = e.filter(col("vec_id") % 30 === 0)
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(df, "vec_id", "embedding", q, "vec_id", "embedding",
          5, nSub = 4, nCodes = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3))).toSet
    assert(run(e.coalesce(1)) == run(e.repartition(13)),
      "PQ results must not depend on partition layout")
  }

  test("PQ scoring broadcasts the LUT and never sort-merge joins the codes") {
    val e = clusteredVectors(k = 4, perCluster = 30, dim = 16)
    val q = e.filter(col("vec_id") % 30 === 0)
    val got = Similarity.pqTopK(e, "vec_id", "embedding", q, "vec_id",
      "embedding", 5, nSub = 4, nCodes = 4)
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"ADC scoring must broadcast the LUT:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join should appear in the PQ plan:\n$plan")
  }

  test("kmeansCentroids is identical under arbitrary repartitioning") {
    // the rounded-mean update must make training independent of float
    // summation order across partitions — same centroids from 1
    // partition and from 13
    val e = clusteredVectors(k = 4, perCluster = 30, dim = 16)
    def train(df: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansCentroids(df, "vec_id", "embedding", 4)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val a = train(e.coalesce(1))
    val b = train(e.repartition(13))
    assert(a == b, "centroids must not depend on partition layout")
  }

  test("IVF with partial probe returns k rows per query with valid cosines") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Similarity.ivfTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      10, nCentroids = 8, nProbe = 3)
    val counts = got.groupBy("qid").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 10))
    assert(got.filter(col("cosine") > 1.000001 || col("cosine") < -1.000001).count() == 0)
  }

  test("IVF probe join is a broadcast hash join (no corpus shuffle by cid)") {
    // the probe table is |queries| x nProbe rows — broadcasting it is
    // the difference between a shuffle-free corpus scan and a full
    // sort-merge shuffle onto <= nCentroids skewed partitions
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Similarity.ivfTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      10, nCentroids = 8, nProbe = 3)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe join must broadcast the probes side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join should appear in the IVF plan:\n$plan")
  }

  test("buildIvfIndex + probeTopK matches one-shot ivfTopK; release unpersists") {
    val e = clusteredVectors(k = 4, perCluster = 30, dim = 16)
    val q = e.filter(col("vec_id") % 30 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = key(Similarity.ivfTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 5, nCentroids = 4, nProbe = 2))
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding", nCentroids = 4)
    try {
      assert(idx.bucketed.storageLevel.useMemory, "index must persist bucketed")
      val viaIndex = key(Similarity.probeTopK(idx.centroids, idx.bucketed,
        q, "vec_id", "embedding", 5, nProbe = 2))
      assert(viaIndex == oneShot)
    } finally idx.release()
    assert(idx.bucketed.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE, "release must unpersist")
  }

  test("CacheScope releases every table a pipeline persisted") {
    val scope = new CacheScope
    // capacity 0: the relational path, the one that persists tables
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      k = 4, rowsPerBand = 2, threshold = 0.5, n = 1, maxShingleDf = 0L, scope, 0L)
    pairs.count() // consume fully
    assert(scope.trackedCount == 3,
      "signature groups + bands + verify sets should be tracked")
    scope.release()
    assert(scope.trackedCount == 0)
    // idempotent
    scope.release()
  }

  test("embedding-LSH candidate self-join reads the banded table from cache on both sides") {
    val e = clusteredVectors(k = 2, perCluster = 10, dim = 16)
    val scope = new CacheScope
    val cands = Dedup.embeddingLshCandidates(e, "vec_id", "embedding",
      scope = scope)
    try {
      val plan = cands.queryExecution.executedPlan.toString
      val scans = "InMemoryTableScan".r.findAllIn(plan).length
      assert(scans >= 2,
        s"both self-join sides must scan the persisted bands, got $scans:\n$plan")
    } finally scope.release()
  }

  test("embeddingLshCandidates rejects an explicit dim that mismatches the data") {
    val e = clusteredVectors(k = 2, perCluster = 5, dim = 16)
    val err = intercept[IllegalArgumentException] {
      Dedup.embeddingLshCandidates(e, "vec_id", "embedding", dim = 64)
    }
    assert(err.getMessage.contains("does not match data dimensionality"))
  }

  test("embeddingLshCandidates on an empty frame trusts an explicit dim") {
    // regression: the derived-width fallback used to collapse to 1 on an
    // empty frame and then throw the explicit-dim mismatch require —
    // an empty input with a valid pinned dim must just yield no pairs
    val e = clusteredVectors(k = 2, perCluster = 5, dim = 16)
      .filter(col("vec_id") < 0)
    assert(Dedup.embeddingLshCandidates(e, "vec_id", "embedding", dim = 64)
      .count() == 0L)
    // and the no-dim path still works on empty input
    assert(Dedup.embeddingLshCandidates(e, "vec_id", "embedding").count() == 0L)
  }

  test("sessionize splits at the gap and aggregates per session") {
    val s = spark
    import s.implicits._
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val ev = Seq(
      (1L, 10L, ts(0L), 1.0), (2L, 10L, ts(60000L), 2.0),          // session 1
      (3L, 10L, ts(60000L + Sessionize.DefaultGapMs + 60000), 3.0), // session 2
      (4L, 20L, ts(5000L), 4.0))                                    // other user
      .toDF("event_id", "user_id", "ts", "value")
    val got = Sessionize.sessionize(ev).orderBy("user_id", "session_id").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("n_events") == 2 &&
      got(0).getAs[Double]("sum_value") == 3.0)
    assert(got(1).getAs[Long]("n_events") == 1)
    assert(got(2).getAs[Long]("user_id") == 20L)
  }

  test("multimodal feature extraction: md5 + stub dims match the content") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
    val got = Multimodal.featuresFromDocuments(spark, df).collect()(0)
    assert(got.getAs[Int]("n_bytes") == 11)
    assert(got.getAs[String]("sig") ==
      "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
    assert(got.getAs[Int]("width") == 11 % 64 + 1)
  }

  /** A real PNG payload: `w`x`h`, deterministic pixel pattern. */
  private def makePng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("decodeDims reads a real PNG's true width/height; non-images fall back to the stub") {
    val png = makePng(20, 10)
    assert(Multimodal.sniffImageFormat(png).contains("png"))
    assert(Multimodal.decodeDims(png) == (20, 10))
    val text = "hello world".getBytes("UTF-8")
    assert(Multimodal.sniffImageFormat(text).isEmpty)
    assert(Multimodal.decodeDims(text) == Multimodal.decodeStub(text))
    // a payload that sniffs as an image but has a corrupt header must
    // fall back, not throw
    val corrupt = png.take(8) ++ Array.fill[Byte](16)(0x5a)
    assert(Multimodal.decodeDims(corrupt) == Multimodal.decodeStub(corrupt))
  }

  test("a 'BM'-prefixed text payload is NOT sniffed as BMP; a real BMP still is") {
    // regression: the 2-byte "BM" magic alone routed text to the JDK BMP
    // reader, which reads width/height out of the "header" with little
    // validation → plausible garbage dims silently diverging from the
    // stub formula the oracle replays
    val bmText = "BMW drivers and BMX riders share two magic bytes".getBytes("UTF-8")
    assert(Multimodal.sniffImageFormat(bmText).isEmpty)
    assert(Multimodal.decodeDims(bmText) == Multimodal.decodeStub(bmText))
    // short "BM…" payloads (< DIB header-size field) likewise fall back
    val bmShort = "BM tiny".getBytes("UTF-8")
    assert(Multimodal.sniffImageFormat(bmShort).isEmpty)
    assert(Multimodal.decodeDims(bmShort) == Multimodal.decodeStub(bmShort))
    // a genuine BMP (BITMAPINFOHEADER, size 40) still sniffs + decodes
    val img = new java.awt.image.BufferedImage(
      7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    val bmp = out.toByteArray
    assert(Multimodal.sniffImageFormat(bmp).contains("bmp"))
    assert(Multimodal.decodeDims(bmp) == (7, 5))
  }

  test("extractFeatures carries real dimensions for image payloads end to end") {
    val s = spark
    import s.implicits._
    val png = makePng(33, 17)
    val media = Seq(MediaRecord(1L, "image", png),
      MediaRecord(2L, "image", "plain text".getBytes("UTF-8"))).toDS()
    val got = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> ((f.width, f.height))).toMap
    assert(got(1L) == ((33, 17)))
    assert(got(2L) == Multimodal.decodeStub("plain text".getBytes("UTF-8")))
  }

  /** A real 16-bit mono PCM WAV: `frames` frames at `rate` Hz. */
  private def makeWav(rate: Int, frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val pcm = Array.tabulate[Byte](frames * 2)(i => (i * 31 % 251).toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audioMeta reads a real WAV's true rate/channels/frames; non-audio falls back") {
    val wav = makeWav(rate = 22050, frames = 4410)
    assert(Multimodal.sniffAudioFormat(wav).contains("wav"))
    assert(Multimodal.audioMeta(wav) == ((22050, 1, 4410L)))
    val text = "not audio".getBytes("UTF-8")
    assert(Multimodal.sniffAudioFormat(text).isEmpty)
    assert(Multimodal.audioMeta(text) == Multimodal.audioStub(text))
    // sniffs as RIFF/WAVE but the header is garbage: fall back, not throw
    val corrupt = wav.take(12) ++ Array.fill[Byte](8)(0x7f)
    assert(Multimodal.audioMeta(corrupt) == Multimodal.audioStub(corrupt))
  }

  test("audio with NOT_SPECIFIED (-1) frame length falls back to the stub") {
    // regression: an AU payload with unknown data size (0xffffffff) is a
    // VALID streamable file whose getFrameLength() returns -1; passing
    // that through emitted n_frames = -1 and a bogus duration. It must
    // route to the stub like any other unparseable payload.
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeBytes(".snd"); d.writeInt(24)
    d.writeInt(-1)           // data size unknown → frameLength -1
    d.writeInt(3)            // 16-bit linear PCM
    d.writeInt(8000); d.writeInt(1)
    (0 until 64).foreach(i => d.writeByte(i))
    val au = bos.toByteArray
    assert(Multimodal.sniffAudioFormat(au).contains("au"))
    // the JDK parses it (rate 8000, 1 ch) but with frameLength -1
    assert(Multimodal.audioMeta(au) == Multimodal.audioStub(au))
    val s = spark
    import s.implicits._
    val feats = Multimodal.extractAudioFeatures(
      Seq(MediaRecord(1L, "audio", au)).toDS()).collect()
    assert(feats(0).n_frames > 0 && feats(0).duration_ms >= 0)
  }

  test("extractAudioFeatures carries real audio metadata end to end") {
    val s = spark
    import s.implicits._
    val wav = makeWav(rate = 8000, frames = 2000)
    val media = Seq(MediaRecord(1L, "audio", wav),
      MediaRecord(2L, "audio", "plain text".getBytes("UTF-8"))).toDS()
    val got = Multimodal.extractAudioFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(got(1L).sample_rate == 8000 && got(1L).channels == 1 &&
      got(1L).n_frames == 2000L && got(1L).duration_ms == 250L)
    val (r, c, fr) = Multimodal.audioStub("plain text".getBytes("UTF-8"))
    assert(got(2L).sample_rate == r && got(2L).channels == c &&
      got(2L).n_frames == fr)
  }

  test("resizeImages resamples a real PNG and stride-falls-back for non-images") {
    val s = spark
    import s.implicits._
    val png = makePng(32, 16)
    val media = Seq(MediaRecord(1L, "image", png),
      MediaRecord(2L, "audio", "abcdefgh".getBytes("UTF-8"))).toDS()
    val got = Multimodal.resizeImages(media, factor = 2).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Array[Byte]]("content_small"))
      .toMap
    // the resized payload is itself a decodable PNG at half dimensions
    assert(Multimodal.decodeDims(got(1L)) == (16, 8))
    // non-image: every 2nd byte, same as the byte-stride stub path
    assert(new String(got(2L), "UTF-8") == "aceg")
  }

  test("strideBytes is binary-safe (non-UTF8 payloads) and empty-safe") {
    val s = spark
    import s.implicits._
    // bytes 0x00..0xFF — invalid as UTF8; must survive byte-exact
    val raw = (0 until 256).map(_.toByte).toArray
    val df = Seq((1L, raw), (2L, Array.emptyByteArray)).toDF("media_id", "content")
    val got = Multimodal.resize(df, factor = 4).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Array[Byte]]("content_small"), r.getAs[Long]("n_bytes_small"))).toMap
    val expected = (0 until 256 by 4).map(_.toByte).toArray
    assert(got(1L)._1.toSeq == expected.toSeq)
    assert(got(1L)._2 == 64L)
    assert(got(2L)._1.isEmpty && got(2L)._2 == 0L)
  }

  test("strideBytes is linear: a 1 MB payload resizes in one pass") {
    val s = spark
    import s.implicits._
    // the old aggregate+concat fold copied the accumulator per step —
    // O(len²/factor) bytes; 1 MB would take minutes. The native
    // expression must finish promptly and byte-exactly.
    val mb = Array.tabulate(1 << 20)(i => (i * 31).toByte)
    val df = Seq((1L, mb)).toDF("media_id", "content")
    val t0 = System.nanoTime()
    val got = Multimodal.resize(df, factor = 4).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.getAs[Long]("n_bytes_small") == (1 << 18).toLong)
    val out = got.getAs[Array[Byte]]("content_small")
    assert(out.length == (1 << 18))
    var i = 0
    while (i < out.length) {
      assert(out(i) == mb(i * 4)); i += 1
    }
    assert(secs < 10.0, f"1 MB resize took $secs%.1fs — stride is not linear")
  }

  test("frame sampling covers the content at the stride") {
    val s = spark
    import s.implicits._
    val text = "a" * 100
    val media = Multimodal.mediaFromDocuments(
      Seq((1L, text)).toDF("doc_id", "text"))
    val frames = Multimodal.sampleFrames(media, frameSize = 32, stride = 16)
      .collect()
    // offsets 1, 17, 33, 49, 65 (greatest(100-31,1)=69 → last start ≤ 69)
    assert(frames.map(_.getAs[Int]("offset")).sorted.toSeq == Seq(1, 17, 33, 49, 65))
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 32))
  }

  test("redactPii replaces planted emails and phones, counts them, leaves clean text alone") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "contact bob.smith+spam@mail.example.org or call +1 (555) 123-4567 now"),
      (2L, "two mails a@b.co and c.d@e-f.io here"),
      (3L, "perfectly clean text with no identifiers"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextAnalysis.emailCount(col("text")).as("ne"),
      TextAnalysis.phoneCount(col("text")).as("np"),
      TextAnalysis.redactPii(col("text")).as("red"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1)
    assert(got(1L)._3 == "contact <EMAIL> or call <PHONE> now")
    assert(got(2L)._1 == 2 && got(2L)._2 == 0)
    assert(got(2L)._3 == "two mails <EMAIL> and <EMAIL> here")
    assert(got(3L) == ((0, 0, "perfectly clean text with no identifiers")))
  }

  test("repetitionStats flags degenerate repeated text, passes diverse text") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam"),
      (2L, "all tokens here are fully distinct"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("top_ratio"), r.getAs[Double]("dup_ratio"))).toMap
    assert(got(1L) == ((5L, 1L, 1.0, 0.8)))
    assert(got(2L)._2 == 6L && got(2L)._3 == 1.0 / 6 && got(2L)._4 == 0.0)
  }

  test("scalarQuantize: hand codes, constant-vector exactness, half-step error bound") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(0.0f, 1.0f, 2.0f, 255.0f)), // scale 1: codes = values
      (2L, Seq(3.5f, 3.5f, 3.5f)),         // constant: scale 0, exact
      (3L, Seq(-1.0f, 0.0f, 1.0f)))        // negative range
      .toDF("vec_id", "embedding")
    val got = Similarity.scalarQuantize(df, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("mn"), r.getAs[Double]("mx"),
          r.getAs[Double]("mse"))).toMap
    assert(got(1L) == ((0.0, 255.0, 0.0)))  // integers code exactly
    assert(got(2L) == ((3.5, 3.5, 0.0)))    // constant reconstructs exactly
    val (mn3, mx3, mse3) = got(3L)
    assert(mn3 == -1.0 && mx3 == 1.0)
    // worst per-component error is half a quantization step
    val halfStep = (mx3 - mn3) / 255.0 / 2
    assert(mse3 >= 0.0 && mse3 <= halfStep * halfStep + 1e-12)
  }

  test("ngramRepetitionStats: hand math for phrase repetition; short docs score 0") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // "a b a b a": 2-grams = [a b, b a, a b, b a] -> total 4, dist 2,
      // top 2; 3-grams = [a b a, b a b, a b a] -> total 3, dist 2, top 2
      (1L, "a b a b a"),
      (2L, "all these tokens differ pairwise"), // no repeated phrase
      (3L, "solo"),                             // 1 token: no n-grams at all
      (4L, "two tokens"))                       // one 2-gram, no 3-gram
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramRepetitionStats(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("top2_ratio"), r.getAs[Double]("dup2_ratio"),
          r.getAs[Double]("top3_ratio"), r.getAs[Double]("dup3_ratio"))).toMap
    assert(got(1L) == ((0.5, 0.5, 2.0 / 3, 1.0 - 2.0 / 3)))
    assert(got(2L) == ((0.25, 0.0, 1.0 / 3, 0.0)))
    assert(got(3L) == ((0.0, 0.0, 0.0, 0.0))) // present with zeros, not absent
    assert(got(4L) == ((1.0, 0.0, 0.0, 0.0)))
  }

  test("langGuess picks the dominant stopword language deterministically") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the cat of the house is big"),
      (2L, "el gato de la casa que es"),
      (3L, "qwerty zxcvb")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextAnalysis.langGuess(col("text")).as("lg")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "und")
  }
}
