package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Edge semantics of the wide-model tree walk (`graft_tree_leaf`):
  * on a 66-leaf tree mixing numeric and categorical splits, scoring
  * through the walk must equal the flat first-match CASE WHEN for
  * `transform`, `transformProba` and a saved-then-loaded model, on
  * generated rows full of NaN, ±Inf, null, −0.0 at a 0.0 boundary,
  * unseen categories and int/long/decimal attributes — under both the
  * interpreted (local relation) and the generated-code (parquet) plan. */
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

  private def paths(prefix: Vector[(Int, Split)]): Vector[Vector[(Int, Split)]] =
    if (prefix.length == levels.size || prefix.lastOption.exists(_._2 == CatEq("w")))
      Vector(prefix)
    else levels(prefix.length).toVector.flatMap(s => paths(prefix :+ s))

  private val classes = Seq("n", "p", "q")
  private val dist: Gen[Map[String, Long]] = Gen.frequency(
    1 -> Gen.const(Map.empty[String, Long]), // a zero-mass leaf
    9 -> Gen.listOfN(3, Gen.chooseNum(0L, 50L)).map(ns =>
      classes.zip(ns).collect { case (c, k) if k > 0 => c -> k * 1000000L }.toMap))

  private val model: C45Model = {
    val conds = paths(Vector.empty)
    val dists = Gen.listOfN(conds.size, dist).pureApply(Gen.Parameters.default, Seed(7L)).toVector
    val labels = Gen.listOfN(conds.size, Gen.oneOf(classes))
      .pureApply(Gen.Parameters.default, Seed(11L))
    C45Model(schema, conds.zip(labels).map { case (c, l) => Rule(c, Some(l)) }, "p",
      dists.map(_.values.sum), dists)
  }

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
  private val flat = 100000

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
      assert(walked == rows(model.transform(input(), routeThreshold = flat)))
      // every kind of stop is exercised: nulls and unseen values fall
      // back to the majority, and NaN / −0.0 reach leaves
      assert(walked.map(_.getAs[String]("prediction")).toSet == Set("n", "p", "q"))
    }

    test(s"$name: transformProba equals the flat CASE WHEN") {
      assert(rows(model.transformProba(input())) ==
        rows(model.transformProba(input(), routeThreshold = flat)))
    }

    test(s"$name: save, load, transform equals the flat CASE WHEN") {
      val dir = java.nio.file.Files.createTempDirectory("tree_walk_model").toString
      model.save(spark, dir)
      val loaded = C45Model.load(spark, dir, schema)
      assert(loaded == model)
      assert(rows(loaded.transform(input())) ==
        rows(model.transform(input(), routeThreshold = flat)))
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
