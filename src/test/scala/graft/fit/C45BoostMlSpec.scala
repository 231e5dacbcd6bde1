package graft.fit

import graft.SparkTestSession
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.ml face of AdaBoost.M1: C45BoostClassifier must behave
  * as a first-class Pipeline stage and score identically to the
  * engine-native C45Boost it wraps, with full persistence. */
class C45BoostMlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val features = Seq("l_returnflag", "l_quantity", "l_discount")

  /** Planted XOR + 10% deterministic noise (the C45MlSpec fixture). */
  private def planted(sf: String) = {
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val noisy = graft.functions.Hashing.hash60(key) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    spark.read.parquet(s"$sf/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
  }

  private def estimator = new C45BoostClassifier()
    .setFeatureCols(features).setLabelCol("cls")
    .setMaxDepth(2).setRounds(3)

  test("wrapper predictions ≡ engine-native C45Boost predictions") {
    val df = planted("/root/testdata/sf0.001")
    val m = estimator.setPredictionCol("pred").fit(df)
    val schema = graft.meta.C45Schema(
      features.map(f => graft.meta.AttrMeta(f, isNumeric = f != "l_returnflag")),
      "cls", Nil)
    val native = C45Boost.fit(df, schema, C45BoostParams(rounds = 3,
      base = C45Params(maxDepth = 2, missingMode = "drop")))
    assert(m.boost.trees.map(_.ruleStrings) == native.trees.map(_.ruleStrings))
    assert(m.boost.alphaMicros == native.alphaMicros)
    assert(m.boost.errorMicros == native.errorMicros)
    val both = native.transform(m.transform(df), "pred_native")
    assert(both.filter(col("pred") =!= col("pred_native")).count() == 0)
  }

  test("fits inside an ml.Pipeline after a StringIndexer and feeds the " +
    "multiclass evaluator (label-dtype round-trip)") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val boost = new C45BoostClassifier()
      .setFeatureCols(features).setLabelCol("label")
      .setMaxDepth(2).setRounds(3)
    val pipe = new Pipeline().setStages(Array(indexer, boost)).fit(df)
    val scored = pipe.transform(df)
    assert(scored.schema("prediction").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(scored)
    assert(acc > 0.8, s"planted structure + 10% noise: $acc")
  }

  test("probabilityCol serves the normalized α-mass shares as an ml " +
    "Vector (exact engine micros / 1e6, distinct-feature parity)") {
    val df = planted("/root/testdata/sf0.001")
    val m = estimator.setPredictionCol("pred").setProbabilityCol("prob").fit(df)
    val scored = m.transform(df)
    assert(scored.schema("prob").dataType ==
      org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
    def fkey(r: org.apache.spark.sql.Row, n: Int): String =
      (0 until n).map(i => String.valueOf(r.get(i))).mkString("|")
    val wrapped = scored.select(features.map(col) :+ col("prob"): _*)
      .distinct().collect()
      .map(r => fkey(r, features.size) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](features.size)).toMap
    val engine = m.boost.transformProba(df, "ep", "ep_")
      .select(features.map(col) ++ Seq(col("ep_N"), col("ep_P")): _*)
      .distinct().collect()
    assert(engine.nonEmpty && engine.length == wrapped.size)
    engine.foreach { r =>
      val v = wrapped(fkey(r, features.size))
      // classes sorted (N, P) for the string label
      assert(v(0) == r.getLong(features.size) / 1e6)
      assert(v(1) == r.getLong(features.size + 1) / 1e6)
    }
  }

  test("model persistence round-trips (save → load → identical rounds, " +
    "alphas, and predictions)") {
    val df = planted("/root/testdata/sf0.001")
    val m = estimator.setPredictionCol("pred").fit(df)
    val dir = java.nio.file.Files.createTempDirectory("c45b_ml").toString
    try {
      m.write.overwrite().save(dir)
      val loaded = C45BoostClassificationModel.load(dir)
      assert(loaded.boost.trees.map(_.ruleStrings) ==
        m.boost.trees.map(_.ruleStrings))
      assert(loaded.boost.alphaMicros == m.boost.alphaMicros)
      assert(loaded.boost.errorMicros == m.boost.errorMicros)
      assert(loaded.getPredictionCol == "pred")
      val both = m.transform(df).withColumnRenamed("pred", "pl")
      val again = loaded.setPredictionCol("pred2").transform(both)
      assert(again.filter(col("pl") =!= col("pred2")).count() == 0)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("Pipeline persistence dispatches the model reader") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val boost = new C45BoostClassifier()
      .setFeatureCols(features).setLabelCol("label")
      .setMaxDepth(2).setRounds(2)
    val pipe = new Pipeline().setStages(Array(indexer, boost)).fit(df)
    val dir = java.nio.file.Files.createTempDirectory("c45b_pipe").toString
    try {
      pipe.write.overwrite().save(dir)
      val loaded = org.apache.spark.ml.PipelineModel.load(dir)
      val a = pipe.transform(df).select("prediction")
        .collect().map(_.getDouble(0))
      val b = loaded.transform(df).select("prediction")
        .collect().map(_.getDouble(0))
      assert(a.sameElements(b))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("schema validation: reserved __c45* inputs and preexisting " +
    "output fail fast; serving needs no label") {
    val df = planted("/root/testdata/sf0.001")
    val e1 = intercept[IllegalArgumentException](
      estimator.fit(df.withColumn("__c45b_p0", lit(1))))
    assert(e1.getMessage.contains("__c45"))
    val e2 = intercept[IllegalArgumentException](
      estimator.fit(df.withColumn("prediction", lit(1))))
    assert(e2.getMessage.contains("already exists"))
    val m = estimator.fit(df)
    assert(m.transform(df.drop("cls")).columns.contains("prediction"))
  }

  test("schema validation: a feature listed twice or the label among " +
    "the features fails naming the column") {
    val df = planted("/root/testdata/sf0.001")
    val twice = intercept[IllegalArgumentException](
      new C45BoostClassifier().setLabelCol("cls")
        .setFeatureCols(features :+ "l_quantity").fit(df))
    assert(twice.getMessage.contains("feature column 'l_quantity' is listed twice"))
    val leak = intercept[IllegalArgumentException](
      new C45BoostClassifier().setLabelCol("cls")
        .setFeatureCols(features :+ "cls").fit(df))
    assert(leak.getMessage.contains("label column 'cls' is also a feature column"))
  }
}
