package graft.operators

import graft.SparkTestSession
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import MessyGraphs.{scoped, typedRows}

/** [[Dedup.minHashLshPairs]]: argument checks, id and text edge
  * semantics on both paths, and the one-task path against the
  * relational one. Every pipeline runs under its own scope, released
  * after its rows are collected. */
class DedupLshSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Paths = Seq(Dedup.BucketEdges, 0L)

  /** Sorted (i, j, jaccard) of `minHashLshPairs` at one-task capacity `cap`. */
  private def mined(d: DataFrame, k: Int, r: Int, t: Double, n: Int, maxDf: Long, cap: Long) =
    scoped(s => Dedup.minHashLshPairs(d, "doc_id", "text", k, r, t, n, maxDf, s, cap))
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).sorted.toSeq

  test("the JVM shingle seeds equal the Column form") {
    val words = Seq("", " ", "a", "alpha", "Straße", "ärger", "日本語", "😀", "a b c", "x|y")
    val d = words.toDF("s").withColumn("d", md5(concat(lit("0|"), col("s"))))
    val (h0, h1) = Dedup.minHashSeeds(col("d"))
    val got = d.select(col("s"), h0, h1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (w <- words) assert(Dedup.minHashSeedsJvm(w.getBytes("UTF-8")) == got(w), w)
  }

  test("a null id is never part of a pair") {
    val d = Seq((Some(1L), "alpha beta gamma delta"), (None, "alpha beta gamma delta eps"),
      (Some(3L), "zz yy xx ww")).toDF("doc_id", "text")
    for (cap <- Paths) assert(mined(d, 16, 2, 0.5, 1, 0L, cap).isEmpty, s"capacity $cap")
  }

  test("a null-id row counts toward shingle document frequency") {
    // x is in three rows, over the cap of 2, so 1 and 2 compare {y, w}
    // with {y, v}: 1/3 (0.5 if the null-id row did not count)
    val d = Seq((Some(1L), "x y w"), (Some(2L), "x y v"), (None, "x"))
      .toDF("doc_id", "text")
    for (cap <- Paths) assert(mined(d, 16, 2, 0.3, 1, 2L, cap) == Seq((1L, 2L, 1.0 / 3)), s"capacity $cap")
  }

  test("n < 1 is rejected, not mined as one shared empty shingle") {
    val d = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Dedup.shingles(col("text"), 0))
    intercept[IllegalArgumentException](
      Dedup.minHashLshPairs(d, "doc_id", "text", k = 4, rowsPerBand = 2, threshold = 0.5, n = 0))
    intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 0, threshold = 0.5))
  }

  test("k < 1 and rowsPerBand < 1 are rejected") {
    val d = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Dedup.minHashLshPairs(d, "doc_id", "text", k = 4, rowsPerBand = 0, threshold = 0.5))
    intercept[IllegalArgumentException](
      Dedup.minHashLshPairs(d, "doc_id", "text", k = 0, rowsPerBand = 1, threshold = 0.5))
  }

  test("repeated ids, capped-away docs and blank texts mine alike on both paths") {
    val rep = Seq((1L, "a b c"), (1L, "a b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val blank = Seq((1L, ""), (2L, "   "), (3L, "a b")).toDF("doc_id", "text")
    // q and r are in every doc: 3 keeps nothing under a cap of 2
    val gone = Seq((1L, "q r a"), (2L, "q r a"), (3L, "q r")).toDF("doc_id", "text")
    for (cap <- Paths) {
      // uncapped, one pair per (row of i, row of j); capped, one over the union
      assert(mined(rep, 16, 2, 0.5, 1, 0L, cap) == Seq((1L, 2L, 0.75), (1L, 2L, 1.0)), s"capacity $cap")
      assert(mined(rep, 16, 2, 0.5, 1, 10L, cap) == Seq((1L, 2L, 0.75)), s"capacity $cap")
      assert(mined(blank, 16, 2, 0.5, 1, 0L, cap) == Seq((1L, 2L, 1.0)), s"capacity $cap")
      assert(mined(gone, 8, 1, 0.0, 1, 2L, cap) == Seq((1L, 2L, 1.0)), s"capacity $cap")
    }
  }

  test("two empty verify sets drop their pair on both paths, under ANSI") {
    // n = 2: "x" and "y" shingle to nothing, so ids 1 and 2 (one
    // signature over "a b c") verify ("x", "y") as 0/0 besides the
    // other three row pairs
    val d = Seq((1L, "a b c"), (1L, "x"), (2L, "a b c"), (2L, "y")).toDF("doc_id", "text")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    for (cap <- Paths)
      assert(mined(d, 16, 2, 0.0, 2, 0L, cap) == Seq((1L, 2L, 0.0), (1L, 2L, 0.0), (1L, 2L, 1.0)),
        s"capacity $cap")
  }

  /** A messy corpus: ids from a small pool (repeats and nulls), texts
    * null, empty, blank or a few words in mixed case, non-ASCII and odd
    * spacing, and a share of texts copied from earlier rows. */
  private val corpus: Gen[Seq[(Option[Long], Option[String])]] = {
    val vocab = Seq("alpha", "Alpha", "ALPHA", "beta", "gamma", "Straße", "STRASSE", "ß",
      "Ärger", "ärger", "日本", "語", "😀", "δ", "Δ", "x", "y")
    val words = for {
      m <- Gen.chooseNum(1, 7)
      ws <- Gen.listOfN(m, Gen.oneOf(vocab))
      sep <- Gen.oneOf(" ", "  ", " \t")
      pad <- Gen.oneOf("", " ", "  ")
    } yield pad + ws.mkString(sep) + pad
    val text = Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some("")),
      1 -> Gen.const(Some("  ")), 12 -> words.map(Some(_)))
    val id = Gen.frequency(1 -> Gen.const(None), 9 -> Gen.chooseNum(-3L, 12L).map(Some(_)))
    for {
      rows <- Gen.chooseNum(6, 36)
      ids <- Gen.listOfN(rows, id)
      texts <- Gen.listOfN(rows, text)
      copies <- Gen.listOfN(rows, Gen.chooseNum(0, 3 * rows))
    } yield ids.indices.map { x =>
      // about a quarter of the rows repeat an earlier row's text
      (ids(x), if (copies(x) < x) texts(copies(x)) else texts(x))
    }
  }

  test("one task equals the relational path on messy corpora, long and int ids") {
    val combos = for (n <- Seq(1, 3); maxDf <- Seq(0L, 2L); kr <- Seq((16, 2), (8, 1), (4, 4))) yield (n, maxDf, kr)
    var compared = 0
    var pairs = 0
    for (((n, maxDf, (k, r)), x) <- combos.zipWithIndex) {
      val rows = corpus.pureApply(Gen.Parameters.default, Seed(x.toLong + 1))
      val d = if (x % 2 == 0) rows.toDF("doc_id", "text")
        else rows.map { case (i, t) => (i.map(_.toInt), t) }.toDF("doc_id", "text")
      val t = Seq(0.5, 0.3, 0.0)(x % 3)
      def outcome(cap: Long) = typedRows(s => Dedup.minHashLshPairs(
        d, "doc_id", "text", k, r, t, n, maxDf, s, cap))
      val one = outcome(Dedup.BucketEdges)
      assert(one == outcome(0L), s"n $n, maxShingleDf $maxDf, k $k, r $r, threshold $t")
      compared += 1
      pairs += one._2.size
    }
    assert(compared >= 8 && pairs > 0, s"$compared corpora compared, $pairs pairs")
  }

  test("one task runs a fixed job count and persists nothing (adaptive execution off)") {
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d"), (4L, "x y")).toDF("doc_id", "text")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val sc = spark.sparkContext
    val scope = new CacheScope
    val before = sc.getPersistentRDDs.keySet
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (got, jobs) = JobCount.of(sc)(Dedup.minHashLshPairs(d, "doc_id", "text",
        k = 16, rowsPerBand = 2, threshold = 0.5, scope = scope).collect())
      // the gate's aggregation, the task's collect
      assert(jobs == 2)
      assert(got.length == 3)
      assert(scope.trackedCount == 0 && sc.getPersistentRDDs.keySet == before)
    } finally {
      scope.release()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }
}
