package graft.fit

import graft.SparkTestSession
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.ml face of the bagged ensemble: C45ForestClassifier must
  * behave as a first-class Pipeline stage and score identically to the
  * engine-native C45Forest it wraps — same fused fit, same vote, same
  * averaged-micros probabilities, full persistence. */
class C45ForestMlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val features = Seq("l_returnflag", "l_quantity", "l_discount")
  private val keys = Seq("l_orderkey", "l_linenumber")

  /** Planted XOR + 10% deterministic noise (the C45MlSpec fixture). */
  private def planted(sf: String) = {
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val noisy = graft.functions.Hashing.hash60(key) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    spark.read.parquet(s"$sf/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
  }

  private def estimator = new C45ForestClassifier()
    .setFeatureCols(features).setKeyCols(keys).setLabelCol("cls")
    .setMaxDepth(3).setNumTrees(5).setAttrsPerTree(2).setSeed(11)

  test("wrapper predictions ≡ engine-native C45Forest predictions") {
    val df = planted("/root/testdata/sf0.001")
    val m = estimator.setPredictionCol("pred").fit(df)
    val schema = graft.meta.C45Schema(
      features.map(f => graft.meta.AttrMeta(f, isNumeric = f != "l_returnflag")),
      "cls", Nil)
    val key = concat_ws("#",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))
    val native = C45Forest.fit(df, schema, key,
      C45ForestParams(nTrees = 5, attrsPerTree = 2, seed = 11,
        base = C45Params(maxDepth = 3, missingMode = "drop")))
    // stamp both on the same rows ((orderkey, linenumber) not unique)
    val both = native.transform(m.transform(df), "pred_native")
    assert(both.filter(col("pred") =!= col("pred_native")).count() == 0)
    // wrapper trees == engine trees, rule for rule
    assert(m.forest.trees.map(_.ruleStrings) == native.trees.map(_.ruleStrings))
  }

  test("fits inside an ml.Pipeline after a StringIndexer and feeds the " +
    "multiclass evaluator (label-dtype round-trip)") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val forest = new C45ForestClassifier()
      .setFeatureCols(features).setKeyCols(keys).setLabelCol("label")
      .setMaxDepth(2).setNumTrees(5).setSeed(3)
    val pipe = new Pipeline().setStages(Array(indexer, forest)).fit(df)
    val scored = pipe.transform(df)
    assert(scored.schema("prediction").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(scored)
    assert(acc > 0.8, s"planted structure + 10% noise: $acc")
  }

  test("probabilityCol emits the ensemble-averaged micros / 1e6 as an " +
    "ml Vector, ordered by sorted class string for string labels") {
    val df = planted("/root/testdata/sf0.001")
    val m = estimator.fit(df).setProbabilityCol("proba")
    // independent replay stamped on the SAME rows: engine
    // transformProba micros / 1e6 over the wrapper's own output frame
    val both = m.forest.transformProba(m.transform(df), "ep", "m_")
      .select(col("proba"), col("prediction"), col("m_N"), col("m_P"),
        col("ep"))
      .collect()
    both.foreach { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector](0)
      assert(v(0) == r.getLong(2) / 1e6 && v(1) == r.getLong(3) / 1e6)
      assert(r.getString(1) == r.getString(4)) // hard vote rides through
    }
  }

  test("missingMode=fractional forwards to the engine's fractional " +
    "fused fit (null-bearing corpus)") {
    val df = planted("/root/testdata/sf0.001").withColumn("l_discount",
      when(pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(4)) === 0,
        lit(null).cast("double")).otherwise(col("l_discount")))
    val m = estimator.setPredictionCol("pred")
      .setMissingMode("fractional").fit(df)
    val schema = graft.meta.C45Schema(
      features.map(f => graft.meta.AttrMeta(f, isNumeric = f != "l_returnflag")),
      "cls", Nil)
    val key = concat_ws("#",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))
    val native = C45Forest.fit(df, schema, key,
      C45ForestParams(nTrees = 5, attrsPerTree = 2, seed = 11,
        base = C45Params(maxDepth = 3, missingMode = "fractional")))
    assert(m.forest.trees.map(_.ruleStrings) == native.trees.map(_.ruleStrings))
    assert(m.forest.trees.map(_.leafDist) == native.trees.map(_.leafDist))
    // fractional masses actually engaged (micros not whole multiples)
    assert(m.forest.trees.exists(_.leafMass.exists(x => x > 0 && x % 1000000L != 0)))
  }

  test("wrapper oobEval ≡ engine oobEval (key construction forwarded " +
    "from keyCols)") {
    val df = planted("/root/testdata/sf0.001")
    val m = estimator.setPredictionCol("pred").fit(df)
    val key = concat_ws("#",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("actual", "oob_prediction").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val wrapped = rows(m.oobEval(df))
    val engine = rows(m.forest.oobEval(df, key, "cls"))
    assert(wrapped.nonEmpty && wrapped == engine)
    // fails fast without the key columns
    val e = intercept[IllegalArgumentException](
      m.oobEval(df.drop("l_orderkey")))
    assert(e.getMessage.contains("l_orderkey"))
  }

  test("model persistence round-trips (save → load → identical " +
    "predictions and trees)") {
    val df = planted("/root/testdata/sf0.001")
    val m = estimator.setPredictionCol("pred").fit(df)
    val dir = java.nio.file.Files.createTempDirectory("c45f_ml").toString
    try {
      m.write.overwrite().save(dir)
      val loaded = C45ForestClassificationModel.load(dir)
      assert(loaded.forest.trees.map(_.ruleStrings) ==
        m.forest.trees.map(_.ruleStrings))
      assert(loaded.forest.trees.map(_.leafDist) ==
        m.forest.trees.map(_.leafDist))
      assert(loaded.forest.seed == m.forest.seed)
      assert(loaded.getPredictionCol == "pred")
      val both = m.transform(df).withColumnRenamed("pred", "pl")
      val again = loaded.setPredictionCol("pred2").transform(both)
      assert(again.filter(col("pl") =!= col("pred2")).count() == 0)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("Pipeline persistence dispatches the model reader (save → load " +
    "→ identical predictions)") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val forest = new C45ForestClassifier()
      .setFeatureCols(features).setKeyCols(keys).setLabelCol("label")
      .setMaxDepth(2).setNumTrees(3).setSeed(5)
    val pipe = new Pipeline().setStages(Array(indexer, forest)).fit(df)
    val dir = java.nio.file.Files.createTempDirectory("c45f_pipe").toString
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

  test("schema validation: missing keyCols at fit, reserved __c45* " +
    "inputs, preexisting output — all fail fast with friendly messages") {
    val df = planted("/root/testdata/sf0.001")
    val noKeys = new C45ForestClassifier()
      .setFeatureCols(features).setLabelCol("cls")
    val e1 = intercept[IllegalArgumentException](noKeys.fit(df))
    assert(e1.getMessage.contains("keyCols"))
    val e2 = intercept[IllegalArgumentException](
      estimator.fit(df.withColumn("__c45f_p0", lit(1))))
    assert(e2.getMessage.contains("__c45"))
    val e3 = intercept[IllegalArgumentException](
      estimator.fit(df.withColumn("prediction", lit(1))))
    assert(e3.getMessage.contains("already exists"))
    // serving does NOT require the label or keys
    val m = estimator.fit(df)
    assert(m.transform(df.drop("cls")).columns.contains("prediction"))
  }

  test("schema validation: a feature listed twice or the label among " +
    "the features fails naming the column") {
    val df = planted("/root/testdata/sf0.001")
    val twice = intercept[IllegalArgumentException](
      new C45ForestClassifier().setLabelCol("cls").setKeyCols(keys)
        .setFeatureCols(features :+ "l_quantity").fit(df))
    assert(twice.getMessage.contains("feature column 'l_quantity' is listed twice"))
    val leak = intercept[IllegalArgumentException](
      new C45ForestClassifier().setLabelCol("cls").setKeyCols(keys)
        .setFeatureCols(features :+ "cls").fit(df))
    assert(leak.getMessage.contains("label column 'cls' is also a feature column"))
  }

  test("probabilityCol after a StringIndexer: dotted class labels " +
    "serve a label-indexed vector") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val forest = new C45ForestClassifier()
      .setFeatureCols(features).setKeyCols(keys).setLabelCol("label")
      .setMaxDepth(2).setNumTrees(3).setSeed(5).setProbabilityCol("probability")
    val scored = new Pipeline().setStages(Array(indexer, forest)).fit(df)
      .transform(df)
    val rows = scored.select("probability", "prediction").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector](0)
      assert(v.size == 2 && math.abs(v.toArray.sum - 1.0) < 1e-5)
    }
  }
}
