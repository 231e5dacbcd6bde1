package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import MessyGraphs.scoped

/** The q_dedup_eval contract: LSH recall measured against the exact
  * Jaccard truth set. Planted fixture first (recall arithmetic is
  * checkable by hand), then the real-corpus invariants. The pair
  * pipelines run under their own scopes, released after collect. */
class DedupEvalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("planted near-dups: every verified LSH pair is a true pair; recall arithmetic") {
    // three exact-duplicate texts (J = 1 — LSH cannot miss them:
    // identical signatures collide in every band) + unrelated noise
    val dup = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, dup),
      (10L, "one two three four five six"),
      (11L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val truth = scoped(s => Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 1, threshold = 0.5, scope = s).select("i", "j"))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = scoped(s => Dedup.minHashLshPairs(docs, "doc_id", "text",
      k = 16, rowsPerBand = 2, threshold = 0.5, scope = s).select("i", "j"))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(lsh == truth, "identical texts must be fully recalled")
  }

  test("real corpus: q_dedup_eval invariants hold and n_hit equals the LSH pair count") {
    val row = graft.queries.ExtQueries.qDedupEval(spark, "/root/testdata/sf0.001")
      .collect().head
    val nTrue = row.getAs[Long]("n_true")
    val nHit = row.getAs[Long]("n_hit")
    val recall = row.getAs[Long]("recall_micros")
    assert(nHit <= nTrue)
    assert(recall >= 0L && recall <= 1000000L)
    if (nTrue > 0)
      assert(recall == math.floor(nHit.toDouble / nTrue * 1e6 + 0.5).toLong)
    if (nHit < nTrue) {
      val worst = row.getAs[Double]("worst_miss_jaccard")
      assert(worst >= 0.5, s"a missed true pair sits above threshold: $worst")
    }
  }
}
