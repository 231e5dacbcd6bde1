package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.JobCount
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the final-level histogram elision (C45.deriveFinalCounts): a
  * drop-mode fit whose frontier reaches maxDepth runs NO histogram job
  * for the final level — the children's class distributions derive
  * exactly from the parent level's cells — and the recorded leafDist
  * still equals an independent per-leaf count over the training data. */
class DeriveFinalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(
    Seq(AttrMeta("color", isNumeric = false),
      AttrMeta("size", isNumeric = true)),
    "cls", Seq("a", "b"))

  // planted so the root splits on size (≤9: mostly a, >9: mostly b),
  // each band splits again on color, and the depth-2 leaves close at
  // level 2 with both classes still present — the derived final level
  // must reproduce non-trivial distributions
  private def trainDf() = {
    val spark0 = spark
    import spark0.implicits._
    val rows = for (i <- 0 until 400) yield {
      val color = if (i % 2 == 0) "red" else "blue"
      val size = (i % 20).toDouble
      val cls =
        if (size <= 9) { if (color == "red") "a" else if (i % 3 == 0) "b" else "a" }
        else { if (color == "blue") "b" else if (i % 3 == 0) "a" else "b" }
      (color, size, cls)
    }
    rows.toDF("color", "size", "cls")
  }

  test("depth-limited drop fit runs no final-level histogram job and " +
      "records exact leaf distributions") {
    val df = trainDf().persist()
    try {
      df.count() // materialize outside the counted window
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (model, jobs) =
        try JobCount.of(spark.sparkContext)(
          C45.fit(df, schema, C45Params(maxDepth = 2, maxBins = 0)))
        finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      // the frontier must actually reach maxDepth for the claim to bite
      assert(model.leaves.exists(_.depth == 2), model.leaves.map(_.encode))
      // probe + level-0 histogram + level-1 histogram; level 2 derives
      // with NO job (pre-elision this fit ran 4)
      assert(jobs == 3,
        s"expected exactly 3 jobs (probe + 2 level histograms), saw $jobs")
      // independent witness: recorded leafDist == a local recount of
      // the training rows each leaf's conjunction accepts
      val local = df.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getString(2)))
      def holds(sp: graft.model.Split, cat: String, num: Double): Boolean =
        sp match {
          case graft.model.CatEq(v) => cat == v
          case graft.model.NumLE(b) => num <= b
          case graft.model.NumGT(b) => num > b
        }
      model.leaves.zipWithIndex.foreach { case (leaf, i) =>
        val expected = local.filter { case (c, s, _) =>
          leaf.conditions.forall { case (_, sp) => holds(sp, c, s) }
        }.groupBy(_._3).map { case (k, g) => k -> g.length * 1000000L }
        assert(model.leafDist(i) == expected,
          s"leaf ${leaf.encode}: ${model.leafDist(i)} != $expected")
      }
    } finally df.unpersist()
  }

  test("NaN snaps above every bin edge, so the recorded leaf " +
      "distributions equal a recount under serve routing") {
    val spark0 = spark
    import spark0.implicits._
    // 400 clean rows split at size 9 (a below, b above), plus 40 rows of
    // class b whose size is NaN, which Spark orders above every number
    val clean = (0 until 400).map { i =>
      val size = (i % 20).toDouble
      ("red", size, if (size <= 9) "a" else "b")
    }
    val df = (clean ++ Seq.fill(40)(("red", Double.NaN, "b")))
      .toDF("color", "size", "cls")
    val model = C45.fit(df, schema,
      C45Params(maxDepth = 1, maxBins = 4, missingMode = "drop"))
    assert(model.leaves.map(_.encode).toSet == Set("1,<=9.0:a", "1,>9.0:b"))
    def recount(rid: Column): Vector[Map[String, Long]] = {
      val got = df.select(rid.as("rid"), col("cls"))
        .filter(col("rid") >= 0)
        .groupBy("rid", "cls").count().collect()
        .groupBy(_.getInt(0))
        .map { case (k, rs) => k -> rs.map(r => r.getString(1) -> r.getLong(2) * 1000000L).toMap }
      model.leaves.indices.toVector.map(i => got.getOrElse(i, Map.empty[String, Long]))
    }
    val flat = recount(C45.flatRidColumn(model.leaves, schema.attrNames))
    assert(model.leafDist == flat)
    assert(recount(model.treeLeafColumn.get) == flat)
    assert(flat == Vector(Map("a" -> 200000000L), Map("b" -> 240000000L)))
  }
}
