package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Edge semantics of the tree walks. On a 66-leaf tree mixing numeric
  * and categorical splits, scoring through `graft_tree_leaf` must equal
  * the flat first-match CASE WHEN for `transform`, `transformProba` and
  * a saved-then-loaded model; on that tree and an 18-leaf one,
  * `graft_tree_vote` (the fractional vote) must equal the flat
  * per-leaf product reference ([[FlatFractional]]) bit for bit. Rows
  * are generated full of NaN, ±Inf, null, −0.0 at a 0.0 boundary,
  * unseen and empty categories and int/long/decimal attributes, and
  * leaves include zero-mass ones; both walks run under the interpreted
  * (local relation) and the generated-code (parquet) plan. */
class TreeWalkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(Seq(
    AttrMeta("d", isNumeric = true), AttrMeta("c", isNumeric = false),
    AttrMeta("i", isNumeric = true), AttrMeta("l", isNumeric = true),
    AttrMeta("m", isNumeric = true)), "cls", Seq("n", "p", "q"))

  /** One split per level: d at 0.0, c over five values, then i, l and
    * m. The c = w branches close right below the split, so the leaves
    * sit at two depths. */
  private val levels: Seq[Seq[(Int, Split)]] = Seq(
    Seq(0 -> NumLE(0.0), 0 -> NumGT(0.0)),
    Seq("u", "v", "w", "x", "y").map(v => 1 -> (CatEq(v): Split)),
    Seq(2 -> NumLE(3.0), 2 -> NumGT(3.0)),
    Seq(3 -> NumLE(100.0), 3 -> NumGT(100.0)),
    Seq(4 -> NumLE(2.5), 4 -> NumGT(2.5)))

  private def paths(depth: Int, prefix: Vector[(Int, Split)]): Vector[Vector[(Int, Split)]] =
    if (prefix.length == depth || prefix.lastOption.exists(_._2 == CatEq("w")))
      Vector(prefix)
    else levels(prefix.length).toVector.flatMap(s => paths(depth, prefix :+ s))

  private val classes = Seq("n", "p", "q")
  private val dist: Gen[Map[String, Long]] = Gen.frequency(
    1 -> Gen.const(Map.empty[String, Long]), // a zero-mass leaf
    9 -> Gen.listOfN(3, Gen.chooseNum(0L, 50L)).map(ns =>
      classes.zip(ns).collect { case (c, k) if k > 0 => c -> k * 1000000L }.toMap))

  /** The tree of the first `depth` levels, with generated leaf
    * distributions and labels. */
  private def treeModel(depth: Int): C45Model = {
    val conds = paths(depth, Vector.empty)
    val dists = Gen.listOfN(conds.size, dist).pureApply(Gen.Parameters.default, Seed(7L)).toVector
    val labels = Gen.listOfN(conds.size, Gen.oneOf(classes))
      .pureApply(Gen.Parameters.default, Seed(11L))
    C45Model(schema, conds.zip(labels).map { case (c, l) => Rule(c, Some(l)) }, "p",
      dists.map(_.values.sum), dists)
  }

  private val model = treeModel(levels.size)
  private val narrow = treeModel(3)

  private val rowSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("d", DoubleType),
    StructField("c", StringType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("m", DecimalType(10, 2))))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 6 -> g)

  private val probe: Gen[Seq[Any]] = for {
    d <- orNull(Gen.oneOf(Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue),
      Gen.chooseNum(-2.0, 2.0)))
    c <- orNull(Gen.oneOf("u", "v", "w", "x", "y", "zz", ""))
    i <- orNull(Gen.oneOf(Gen.chooseNum(0, 6), Gen.oneOf(Int.MinValue, Int.MaxValue)))
    l <- orNull(Gen.oneOf(Gen.chooseNum(98L, 102L), Gen.oneOf(Long.MinValue, Long.MaxValue)))
    m <- orNull(Gen.chooseNum(240, 260).map(k => new java.math.BigDecimal(k).movePointLeft(2)))
  } yield Seq(d, c, i, l, m)

  private lazy val local: DataFrame = {
    val rows = Gen.listOfN(3000, probe).pureApply(Gen.Parameters.default, Seed(2026L))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.zipWithIndex.map { case (r, id) => Row.fromSeq(id +: r) }: _*),
      rowSchema)
  }

  private lazy val parquet: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("tree_walk").toString
    local.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  test("the model is wide, mixed and served by the tree walk") {
    assert(model.leaves.size == 66)
    assert(model.leaves.map(_.depth).toSet == Set(2, 5))
    assert(model.leafDist.contains(Map.empty[String, Long]))
    assert(model.transform(parquet).queryExecution.executedPlan.toString
      .contains("graft_tree_leaf"))
  }

  for ((name, input) <- Seq("interpreted" -> (() => local), "codegen" -> (() => parquet))) {
    test(s"$name: transform equals the flat CASE WHEN") {
      val walked = rows(model.transform(input()))
      assert(walked == rows(model.transformVia(input(), "prediction", walk = false)))
      // every kind of stop is exercised: nulls and unseen values fall
      // back to the majority, and NaN / −0.0 reach leaves
      assert(walked.map(_.getAs[String]("prediction")).toSet == Set("n", "p", "q"))
    }

    test(s"$name: transformProba equals the flat CASE WHEN") {
      assert(rows(model.transformProba(input())) ==
        rows(model.transformProbaVia(input(), "prediction", "p_", walk = false)))
    }

    test(s"$name: save, load, transform equals the flat CASE WHEN") {
      val dir = java.nio.file.Files.createTempDirectory("tree_walk_model").toString
      model.save(spark, dir)
      val loaded = C45Model.load(spark, dir, schema)
      assert(loaded == model)
      assert(rows(loaded.transform(input())) ==
        rows(model.transformVia(input(), "prediction", walk = false)))
    }
  }

  test("the narrow model is flat-served and mixed") {
    assert(narrow.leaves.size == 18)
    assert(narrow.leafDist.contains(Map.empty[String, Long]))
    assert(!narrow.transform(parquet).queryExecution.executedPlan.toString
      .contains("graft_tree_leaf"))
  }

  for ((name, input) <- Seq("interpreted" -> (() => local), "codegen" -> (() => parquet));
       (size, m) <- Seq("narrow" -> narrow, "wide" -> model)) {
    test(s"$name: $size fractional vote equals the flat reference bit for bit") {
      val classes = m.fractionalClasses
      val both = rows(FlatFractional(m, m.transformFractional(input(), "walked"))
        .withColumn("votes", m.fractionalVotes))
      both.foreach { r =>
        assert(r.getAs[scala.collection.Seq[Double]]("votes").toSeq ==
          classes.map(c => r.getAs[Double](s"__flat_v_$c")), r)
        assert(r.getAs[String]("walked") == r.getAs[String]("prediction"), r)
      }
      // nulls fan out to several leaves, and every class wins somewhere
      assert(both.count(r => r.getAs[scala.collection.Seq[Double]]("votes").count(_ > 0) > 1) > 100)
      assert(both.map(_.getAs[String]("walked")).toSet == classes.toSet)
    }

    test(s"$name: $size fractional vote equals transform on null-free rows") {
      val clean = input().na.drop(Seq("d", "c", "i", "l", "m"))
      assert(clean.count() > 500)
      assert(rows(m.transformFractional(clean)) == rows(m.transform(clean)))
    }
  }

  test("NaN takes the > branch and −0.0 the <= branch of a 0.0 boundary") {
    val s = spark
    import s.implicits._
    val probes = Seq(("nan", Double.NaN), ("negzero", -0.0), ("zero", 0.0), ("inf", Double.PositiveInfinity))
      .toDF("id", "d")
      .selectExpr("id", "d", "'u' AS c", "1 AS i", "CAST(1 AS BIGINT) AS l",
        "CAST(1.00 AS DECIMAL(10,2)) AS m")
    val idx = model.treeLeafColumn.get
    val got = probes.select($"id", idx.as("leaf")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    def leafOf(d: Split) = model.leaves.indexWhere(r => r.conditions.take(2) ==
      Vector(0 -> d, 1 -> CatEq("u")) && r.conditions.drop(2).forall {
        case (_, NumLE(_)) => true
        case _ => false
      })
    assert(got == Map("nan" -> leafOf(NumGT(0.0)), "negzero" -> leafOf(NumLE(0.0)),
      "zero" -> leafOf(NumLE(0.0)), "inf" -> leafOf(NumGT(0.0))))
  }
}
