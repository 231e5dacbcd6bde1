package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact Spark job counts of the ensemble fitters, so a change to how
  * they plan a level (routing, fan-out, final-level elision) shows up
  * as a changed number. Class labels are declared and the
  * training frame is cached and materialized outside the counted
  * window; adaptive execution is off so an aggregate's shuffle map
  * stage does not count as a job of its own. */
class EnsembleJobCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(
    Seq(AttrMeta("color", isNumeric = false), AttrMeta("size", isNumeric = true)),
    "cls", Seq("a", "b"))

  // size splits at 9 and color under it, a third of the rows noise:
  // the trees grow two levels deep and a depth-1 boost round errs
  private def trainDf(withNulls: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    (for (i <- 0 until 400) yield {
      val color = if (i % 2 == 0) "red" else "blue"
      val size = (i % 20).toDouble
      val cls =
        if (size <= 9) { if (color == "red" || i % 3 != 0) "a" else "b" }
        else { if (color == "blue" || i % 3 != 0) "b" else "a" }
      (if (withNulls && i % 11 == 0) null else color,
        if (withNulls && i % 13 == 0) None else Some(size), cls, i.toString)
    }).toDF("color", "size", "cls", "k")
  }

  private def jobs(withNulls: Boolean)(fit: DataFrame => Any): Int = {
    val df = trainDf(withNulls).persist()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      df.count()
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      JobCount.of(spark.sparkContext)(fit(df))._2
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      df.unpersist()
    }
  }

  // capacity 0: every level a Spark job, as on a large frame
  private def forest(depth: Int, mode: String)(df: DataFrame): C45Forest =
    C45Forest.fitWithImportance(df, schema, col("k"), C45ForestParams(nTrees = 2, seed = 3,
      base = C45Params(maxDepth = depth, maxBins = 0, missingMode = mode)), capacity = 0)._1

  private def boost(depth: Int, mode: String = "drop")(df: DataFrame): C45Boost =
    C45Boost.fit(df, schema, C45BoostParams(rounds = 1,
      base = C45Params(maxDepth = depth, maxBins = 0, missingMode = mode)), capacity = 0)

  test("a 2-tree drop-mode forest runs the probe plus one job per grown level") {
    // probe + levels 0..d-1; level d derives from level d-1's cells
    assert(jobs(withNulls = false)(forest(2, "drop")) == 3)
    assert(jobs(withNulls = false)(forest(3, "drop")) == 4)
  }

  test("a fractional 2-tree forest on a null-bearing corpus: exact job count") {
    // probe + levels 0..2: the final level cannot derive (null rows fan
    // out), and a fan-out level is one job like any other, with no
    // route table to broadcast
    assert(jobs(withNulls = true)(forest(2, "fractional")) == 4)
  }

  test("a 1-round drop-mode boost: probe, one job per grown level, one eval") {
    assert(jobs(withNulls = false)(boost(1)) == 3)
    assert(jobs(withNulls = false)(boost(2)) == 4)
  }

  test("a 1-round fractional boost on a null-bearing corpus: exact job count") {
    // probe + levels 0..1 (no derived final level) + the eval pass
    assert(jobs(withNulls = true)(boost(1, "fractional")) == 4)
  }
}
