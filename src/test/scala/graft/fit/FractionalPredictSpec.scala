package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.Rule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fractional-weight scoring of rows with NULL attribute values
  * ([[C45Model.transformFractional]]): a null descends every child
  * weighted by its training-mass share, and the prediction is the
  * class with the largest summed leaf weight. The fixed demo-style
  * model below has masses chosen so every expected vote is exact
  * decimal arithmetic, hand-checked. */
class FractionalPredictSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // root cat a ∈ {A, N, R}; A splits x<=25; N splits y<=0.05; R is a leaf.
  // masses: A-le 300, A-gt 100, N-le 200, N-gt 200, R 200 (units ×1e6)
  private val schema = C45Schema(
    Seq(AttrMeta("a", isNumeric = false), AttrMeta("x", isNumeric = true),
      AttrMeta("y", isNumeric = true)),
    "cls", Seq("F", "O"))
  private val model = C45Model(schema, Vector(
    Rule.decode("0,A&1,<=25.0:F"),
    Rule.decode("0,A&1,>25.0:O"),
    Rule.decode("0,N&2,<=0.05:O"),
    Rule.decode("0,N&2,>0.05:F"),
    Rule.decode("0,R:O")), majority = "O",
    leafMass = Vector(300000000L, 100000000L, 200000000L, 200000000L,
      200000000L))

  /** (a, x, y) → expected prediction, hand-computed votes in comments. */
  private val cases: Seq[(java.lang.String, java.lang.Double, java.lang.Double, String)] = Seq(
    ("A", 10.0, 0.01, "F"),   // one-hot: leaf 1
    ("A", 30.0, 0.01, "O"),   // one-hot: leaf 2
    (null, 10.0, 0.01, "O"),  // F: .4·1=.4 | O: .4·0+.4·1+.2=.6
    (null, 30.0, 0.08, "O"),  // F: .4·0+.4·1=.4 | O: .4·1+.4·0+.2=.6
    ("A", null, 0.01, "F"),   // F: 1·.75=.75 | O: 1·.25=.25
    (null, null, 0.01, "O"),  // F: .4·.75=.3 | O: .4·.25+.4·1+.2=.5
    (null, null, 0.08, "F"),  // F: .3+.4·1=.7 | O: .1+0+.2=.3
    ("R", 10.0, 0.01, "O"),   // one-hot: leaf 5
    ("X", 10.0, 0.01, "O"))   // unseen value: all votes 0 → majority

  private def df = {
    val s = spark
    import s.implicits._
    cases.zipWithIndex.map { case ((a, x, y, _), i) => (i, a, x, y) }
      .toDF("id", "a", "x", "y")
  }

  private def predictions(scored: org.apache.spark.sql.DataFrame): Seq[String] =
    scored.orderBy("id").select("prediction").collect().map(_.getString(0)).toSeq

  test("flat path reproduces the hand-computed weighted votes") {
    assert(predictions(FlatFractional(model, df)) == cases.map(_._4))
  }

  test("routed level-walk path agrees with the flat path exactly") {
    // the one-expression tree walk transformFractional serves through:
    // the same argmax as the flat reference, from bit-identical
    // per-class votes — and the unseen-value row (every branch dead)
    // falls back to the majority
    assert(predictions(model.transformFractional(df)) == cases.map(_._4))
    val classes = model.fractionalClasses
    val both = FlatFractional(model, df).withColumn("walk", model.fractionalVotes)
      .orderBy("id").collect()
    both.foreach { r =>
      val walked = r.getAs[scala.collection.Seq[Double]]("walk").toSeq
      assert(walked == classes.map(c => r.getAs[Double](s"__flat_v_$c")), r)
    }
  }

  test("null-free rows score identically to transform, both plans") {
    val s = spark
    import s.implicits._
    val rows = for { a <- Seq("A", "N", "R"); x <- 0 to 50 by 5 }
      yield (a, x.toDouble, (x % 10) / 100.0)
    val d = rows.toDF("a", "x", "y")
    val viaTransform = model.transform(d)
      .select("a", "x", "y", "prediction").collect().toSeq
    val viaFlat = FlatFractional(model, d)
      .select("a", "x", "y", "prediction").collect().toSeq
    val viaWalk = model.transformFractional(d)
      .select("a", "x", "y", "prediction").collect().toSeq
    assert(viaFlat == viaTransform)
    assert(viaWalk == viaTransform)
  }

  test("a fit-produced model carries aligned leaf masses that sum to the input") {
    val s = spark
    import s.implicits._
    val rows = for { a <- Seq("u", "v"); x <- 0 until 10; c <- 0 until 3 }
      yield (a, x.toDouble, if ((a == "u") == (x <= 4)) "p" else "n")
    val d = rows.toDF("a", "x", "cls")
    val m = C45.fit(d, C45Schema.fromDataFrame(d, "cls"))
    assert(m.leafMass.size == m.leaves.size)
    assert(m.leafMass.sum == rows.size * 1000000L)
    // and the fractional scorer on complete rows equals transform
    val viaT = m.transform(d).select("a", "x", "prediction").collect().toSeq
    val viaF = m.transformFractional(d).select("a", "x", "prediction").collect().toSeq
    assert(viaF == viaT)
  }

  test("massless models (pruned/simplified/loaded) are rejected loudly") {
    val bare = model.copy(leafMass = Vector.empty)
    assertThrows[IllegalArgumentException] {
      bare.transformFractional(df)
    }
  }
}
