package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import MessyGraphs.scoped

/** [[Dedup.LshIndex]] against the one-shot [[Dedup.minHashLshPairs]]
  * recompute. Every probe and recompute runs under its own scope,
  * released after its rows are collected. */
class LshIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def pairSet(run: CacheScope => DataFrame): Set[(Long, Long, Double)] =
    scoped(run).map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
      r.getAs[Double]("jaccard"))).toSet

  /** Real corpus slice + a seeded guaranteed near-dup pair straddling
    * the index/batch boundary, so nonEmpty can't go flaky under a
    * future testdata regeneration. */
  private def seededDocs = {
    val s = spark
    import s.implicits._
    docs.filter(col("doc_id") < 400).select("doc_id", "text").unionByName(
      Seq((1000001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1000002L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
        .toDF("doc_id", "text"))
  }

  test("incremental pairs equal the one-shot recompute restricted to batch-touching pairs") {
    val d = seededDocs
    val base = d.filter(col("doc_id") < 300 || col("doc_id") === 1000001L)
    val batch = d.filter((col("doc_id") >= 300 && col("doc_id") < 400) ||
      col("doc_id") === 1000002L)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val idx = Dedup.buildLshIndex(base, "doc_id", "text", k = 16, rowsPerBand = 2)
    try {
      val got = pairSet(s => idx.pairsWith(batch, "doc_id", "text", threshold = 0.5, scope = s))
      val full = pairSet(s =>
        Dedup.minHashLshPairs(d, "doc_id", "text", k = 16, rowsPerBand = 2,
          threshold = 0.5, scope = s))
        .filter { case (i, j, _) => batchIds(i) || batchIds(j) }
      assert(got == full)
      assert(got.exists { case (i, j, _) =>
        Set(i, j) == Set(1000001L, 1000002L) }, "seeded cross pair missing")
    } finally idx.release()
  }

  test("append folds a batch in; the grown index answers the next batch exactly") {
    val d = seededDocs
    val base = d.filter(col("doc_id") < 200)
    val batch1 = d.filter(col("doc_id") >= 200 && col("doc_id") < 300)
    val batch2 = d.filter(col("doc_id") >= 300 || col("doc_id") >= 1000000L)
    val batch2Ids = batch2.select("doc_id").collect().map(_.getLong(0)).toSet
    val idx2 = Dedup.buildLshIndex(base, "doc_id", "text", k = 16, rowsPerBand = 2)
      .append(batch1, "doc_id", "text")
    try {
      val got = pairSet(s => idx2.pairsWith(batch2, "doc_id", "text", threshold = 0.5, scope = s))
      val full = pairSet(s =>
        Dedup.minHashLshPairs(d, "doc_id", "text", k = 16, rowsPerBand = 2,
          threshold = 0.5, scope = s))
        .filter { case (i, j, _) => batch2Ids(i) || batch2Ids(j) }
      assert(got == full)
    } finally idx2.release()
  }

  test("frozen boilerplate cap: capped incremental equals uncapped over keep-rewritten docs") {
    val s = spark
    import s.implicits._
    val d = seededDocs
    val base = d.filter(col("doc_id") < 300 || col("doc_id") === 1000001L)
    val batch = d.filter((col("doc_id") >= 300 && col("doc_id") < 400) ||
      col("doc_id") === 1000002L)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val cap = 150L
    val idx = Dedup.buildLshIndex(base, "doc_id", "text",
      k = 16, rowsPerBand = 2, maxShingleDf = cap)
    try {
      val got = pairSet(s => idx.pairsWith(batch, "doc_id", "text", threshold = 0.4, scope = s))
      // reference: REWRITE every doc to only its kept tokens (shingle
      // sets then equal the capped ones exactly), run the one-shot
      // uncapped pipeline over the rewrite, restrict to batch pairs
      val keepToks = base
        .select(explode(Dedup.shingles(col("text"), 1)).as("s"))
        .groupBy("s").count().filter(col("count") <= cap)
        .collect().map(_.getString(0)).toSet
      val keepLit = array(keepToks.toSeq.map(lit): _*)
      // docs whose kept set is empty can pair with nothing in the
      // capped pipeline — drop them BEFORE the rewrite (an empty text
      // would otherwise shingle to {""} and phantom-pair at J=1)
      val rewritten = d
        .withColumn("__kept",
          filter(Dedup.shingles(col("text"), 1), t => array_contains(keepLit, t)))
        .filter(size(col("__kept")) > 0)
        .withColumn("text", concat_ws(" ", col("__kept")))
        .drop("__kept")
      val full = pairSet(s =>
        Dedup.minHashLshPairs(rewritten, "doc_id", "text",
          k = 16, rowsPerBand = 2, threshold = 0.4, scope = s))
        .filter { case (i, j, _) => batchIds(i) || batchIds(j) }
      assert(got == full)
      assert(got.nonEmpty, "seeded pair lost to the cap")
    } finally idx.release()
  }

  test("the probe never re-shuffles or re-scans the standing band table's lineage") {
    val d = seededDocs
    val idx = Dedup.buildLshIndex(d.filter(col("doc_id") < 300),
      "doc_id", "text", k = 16, rowsPerBand = 2)
    val scope = new CacheScope
    try {
      val out = idx.pairsWith(d.filter(col("doc_id") >= 300),
        "doc_id", "text", threshold = 0.5, scope = scope)
      out.count() // materialize so InMemoryTableScans resolve
      val plan = out.queryExecution.executedPlan.toString
      // the standing tables must be read from cache, not recomputed
      assert(plan.contains("InMemoryTableScan"),
        s"index tables not read from cache:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"candidate probe must be key-equality:\n$plan")
    } finally { scope.release(); idx.release() }
  }
}
