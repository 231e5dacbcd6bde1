package graft.fit

import graft.SparkTestSession
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.ml face of the fit: C45Classifier must behave as a
  * first-class Pipeline stage — fit inside ml.Pipeline, evaluate with
  * MulticlassClassificationEvaluator, tune with ml's CrossValidator —
  * and score identically to the engine-native C45.fit it wraps. */
class C45MlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val features = Seq("l_returnflag", "l_quantity", "l_discount")

  /** Planted XOR + 10% deterministic noise (same construction as the
    * pruning/crossval fixtures): learnable to ~0.9 accuracy. */
  private def planted(sf: String) = {
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val noisy = graft.functions.Hashing.hash60(key) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    spark.read.parquet(s"$sf/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
  }

  test("fits inside an ml.Pipeline and feeds the multiclass evaluator") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("label").setMaxDepth(2)
    val pipe = new Pipeline().setStages(Array(indexer, c45)).fit(df)
    val scored = pipe.transform(df)
    // prediction came back as the label's dtype (indexed doubles), so
    // the stock evaluator consumes it directly
    assert(scored.schema("prediction").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(scored)
    assert(acc > 0.85 && acc <= 0.95, s"planted structure + 10% noise: $acc")
  }

  test("wrapper predictions ≡ engine-native C45.fit predictions") {
    val df = planted("/root/testdata/sf0.001")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("cls").setMaxDepth(3)
      .setPredictionCol("pred")
    val schema = graft.meta.C45Schema(
      features.map(f => graft.meta.AttrMeta(f, isNumeric = f != "l_returnflag")),
      "cls", Nil)
    val nativeModel = C45.fit(df, schema, C45Params(maxDepth = 3))
    // both predictions stamped on the SAME rows ((orderkey, linenumber)
    // is not unique in the testdata, so a join would pair wrong rows)
    val both = nativeModel.transform(c45.fit(df).transform(df), "pred_native")
    assert(both.filter(col("pred") =!= col("pred_native")).count() == 0)
    // string label in, string prediction out
    assert(both.schema("pred").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("tunes under ml's CrossValidator") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("label")
    val grid = new ParamGridBuilder()
      .addGrid(c45.maxDepth, Array(1, 2))
      .build()
    val cv = new CrossValidator()
      .setEstimator(new Pipeline().setStages(Array(indexer, c45)))
      .setEvaluator(new MulticlassClassificationEvaluator()
        .setLabelCol("label").setPredictionCol("prediction")
        .setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(2)
      .setSeed(7L)
    val cvModel = cv.fit(df)
    assert(cvModel.avgMetrics.length == 2)
    // depth 2 resolves the planted XOR, depth 1 cannot — the tuner
    // must prefer it by a real margin
    val best = grid(cvModel.avgMetrics.indexOf(cvModel.avgMetrics.max))
    assert(best(c45.maxDepth) == 2,
      s"metrics ${cvModel.avgMetrics.toSeq} should peak at depth 2")
    assert(cvModel.avgMetrics.max > 0.85)
  }

  test("Pipeline persistence round-trips the fitted model (save → load → identical predictions)") {
    import org.apache.spark.ml.PipelineModel
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("label").setMaxDepth(2)
    val fitted = new Pipeline().setStages(Array(indexer, c45)).fit(df)
    val dir = java.nio.file.Files.createTempDirectory("c45_ml_pipe").toString
    fitted.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    // same rows scored by both models — predictions must be identical
    val m0 = fitted.stages.last.asInstanceOf[C45ClassificationModel]
    val both = loaded.transform(df).withColumnRenamed("prediction", "p2")
    val scored = m0.transform(both)
    assert(scored.filter(col("prediction") =!= col("p2")).count() == 0)
    // the engine model round-tripped too: same rules, same majority
    val m1 = loaded.stages.last.asInstanceOf[C45ClassificationModel]
    assert(m1.model.leaves == m0.model.leaves)
    assert(m1.model.majority == m0.model.majority)
    assert(m1.model.leafDist == m0.model.leafDist)
    assert(m1.getPredictionCol == m0.getPredictionCol)
    // unfitted Pipeline (estimator) persistence works as well
    val edir = java.nio.file.Files.createTempDirectory("c45_ml_est").toString
    new Pipeline().setStages(Array(indexer, c45)).write.overwrite().save(edir)
    val est = Pipeline.load(edir)
    val c45Loaded = est.getStages.last.asInstanceOf[C45Classifier]
    assert(c45Loaded.getOrDefault(c45Loaded.maxDepth) == 2)
    assert(c45Loaded.getFeatureCols.toSeq == features)
  }

  test("probabilityCol emits a label-indexed ml Vector the logLoss evaluator consumes") {
    val df = planted("/root/testdata/sf0.001")
    val indexer = new StringIndexer()
      .setInputCol("cls").setOutputCol("label").setStringOrderType("alphabetAsc")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("label").setMaxDepth(2)
      .setProbabilityCol("probability")
    val scored = new Pipeline().setStages(Array(indexer, c45)).fit(df)
      .transform(df).cache()
    try {
      // vector of 2 classes, each row sums to ~1 (exact micros / 1e6)
      val v0 = scored.select("probability").head()
        .getAs[org.apache.spark.ml.linalg.Vector](0)
      assert(v0.size == 2)
      assert(math.abs(v0.toArray.sum - 1.0) < 1e-5)
      // probability is indexed by the DOUBLE label value: the argmax
      // index equals the prediction for every row
      import org.apache.spark.sql.functions.udf
      val argmax = udf((v: org.apache.spark.ml.linalg.Vector) =>
        v.argmax.toDouble)
      assert(scored.filter(argmax(col("probability")) =!= col("prediction"))
        .count() == 0)
      val ll = new MulticlassClassificationEvaluator()
        .setLabelCol("label").setPredictionCol("prediction")
        .setProbabilityCol("probability").setMetricName("logLoss")
        .evaluate(scored)
      assert(ll > 0.0 && ll < 0.7, s"planted structure: logLoss $ll")
    } finally scored.unpersist()
  }

  test("fractionalPredict serves null-bearing rows via the engine's fractional vote") {
    val df = planted("/root/testdata/sf0.001")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("cls").setMaxDepth(3)
      .setPredictionCol("pred")
    val fitted = c45.fit(df)
    val nulled = df.withColumn("l_quantity",
      when(col("l_orderkey") % 3 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity")))
    // fractional wrapper predictions == the engine's transformFractional
    val frac = fitted.copy(org.apache.spark.ml.param.ParamMap(
      fitted.fractionalPredict -> true))
    val both = fitted.model.transformFractional(
      frac.transform(nulled).withColumnRenamed("pred", "p_ml"), "p_native")
    assert(both.filter(col("p_ml") =!= col("p_native")).count() == 0)
    // default (flat) predictions differ on some null-bearing rows —
    // the fractional vote is a real behavior, not a rename
    val flat = fitted.transform(nulled).withColumnRenamed("pred", "p_flat")
    assert(fitted.model.transformFractional(flat, "p_frac")
      .filter(col("p_flat") =!= col("p_frac")).count() > 0)
    // mutually exclusive with probabilityCol
    val bad = fitted.copy(org.apache.spark.ml.param.ParamMap(
      fitted.fractionalPredict -> true,
      fitted.probabilityCol -> "probability"))
    assertThrows[IllegalArgumentException](bad.transform(nulled))
  }

  test("schema validation: missing features / preexisting output fail fast") {
    val df = planted("/root/testdata/sf0.001")
    val noSuch = new C45Classifier()
      .setFeatureCols(Seq("nope")).setLabelCol("cls")
    assertThrows[IllegalArgumentException](noSuch.fit(df))
    val collide = new C45Classifier()
      .setFeatureCols(features).setLabelCol("cls").setPredictionCol("l_tax")
    assertThrows[IllegalArgumentException](collide.fit(df))
  }

  test("schema validation: reserved __c45_* inputs and a missing label " +
    "fail with the friendly message") {
    val df = planted("/root/testdata/sf0.001")
    val c45 = new C45Classifier().setFeatureCols(features).setLabelCol("cls")
    // a column in the wrapper's internal namespace would corrupt
    // scoring silently — rejected up front, fit and transform alike
    val tainted = df.withColumn("__c45_pred", lit(1))
    val eFit = intercept[IllegalArgumentException](c45.fit(tainted))
    assert(eFit.getMessage.contains("__c45_"))
    val fitted = c45.fit(df)
    val eServe = intercept[IllegalArgumentException](
      fitted.transform(tainted))
    assert(eServe.getMessage.contains("__c45_"))
    // a missing label column names the label, not Spark's generic
    // field-resolution error (the dtype lookup is by-name)
    val eLabel = intercept[IllegalArgumentException](
      c45.fit(df.drop("cls")))
    assert(eLabel.getMessage.contains("label column 'cls' missing"))
  }

  test("prune=true == engine pruneTraining; CF round-trips persistence") {
    val df = planted("/root/testdata/sf0.001")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("cls").setMaxDepth(6)
      .setPredictionCol("pred").setPrune(true)
    val wrapped = c45.fit(df)
    // the wrapper-pruned engine model IS pruneTraining's output
    val schema = graft.meta.C45Schema(
      features.map(f => graft.meta.AttrMeta(f, isNumeric = f != "l_returnflag")),
      "cls", Nil)
    val engine = C45Pruning.pruneTraining(
      C45.fit(df, schema, C45Params(maxDepth = 6)))
    assert(wrapped.model.leaves == engine.leaves)
    assert(wrapped.model.leafDist == engine.leafDist)
    // the deep unpruned tree is strictly wider — prune=true is real
    val unpruned = c45.copy(org.apache.spark.ml.param.ParamMap(
      c45.prune -> false)).fit(df)
    assert(unpruned.model.leaves.size > wrapped.model.leaves.size)
    // predictions match the engine path row-for-row
    val both = engine.transform(wrapped.transform(df), "pred_native")
    assert(both.filter(col("pred") =!= col("pred_native")).count() == 0)
    // a harder CF prunes at least as hard, via the zForCF quantile
    val hard = c45.copy(org.apache.spark.ml.param.ParamMap(
      c45.pruneCF -> 0.01)).fit(df)
    assert(hard.model.leaves.size <= wrapped.model.leaves.size)
    // persistence: prune/pruneCF ride the paramMap; the loaded model
    // scores identically
    val dir = java.nio.file.Files.createTempDirectory("c45_ml_prune").toString
    wrapped.write.overwrite().save(dir)
    val loaded = C45ClassificationModel.load(dir)
    assert(loaded.getOrDefault(loaded.prune))
    assert(loaded.model.leaves == wrapped.model.leaves)
    val rt = loaded.transform(wrapped.transform(df)
      .withColumnRenamed("pred", "p0"))
    assert(rt.filter(col("pred") =!= col("p0")).count() == 0)
  }

  test("simplifyRules=true == engine prune->simplify; proba + " +
    "persistence compose") {
    val df = planted("/root/testdata/sf0.001")
    val c45 = new C45Classifier()
      .setFeatureCols(features).setLabelCol("cls").setMaxDepth(4)
      .setPredictionCol("pred").setPrune(true).setSimplifyRules(true)
    val wrapped = c45.fit(df)
    // the wrapped engine model IS prune -> simplify (canonical order)
    val schema = graft.meta.C45Schema(
      features.map(f => graft.meta.AttrMeta(f, isNumeric = f != "l_returnflag")),
      "cls", Nil)
    val engine = C45RuleSimplify.simplify(
      C45Pruning.pruneTraining(C45.fit(df, schema, C45Params(maxDepth = 4))),
      df.select((features :+ "cls").map(col): _*))
    assert(wrapped.model.leaves == engine.leaves)
    assert(wrapped.model.leafDist == engine.leafDist)
    assert(wrapped.model.leaves.nonEmpty)
    // first-match distributions serve probabilityCol on the wrapper
    val proba = wrapped.copy(org.apache.spark.ml.param.ParamMap(
      wrapped.probabilityCol -> "probability")).transform(df)
    assert(proba.select("probability").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size == 2)
    // persistence round-trips the generalized list in first-match order
    val dir = java.nio.file.Files.createTempDirectory("c45_ml_simp").toString
    wrapped.write.overwrite().save(dir)
    val loaded = C45ClassificationModel.load(dir)
    assert(loaded.model.leaves == wrapped.model.leaves) // order preserved
    val rt = loaded.transform(wrapped.transform(df)
      .withColumnRenamed("pred", "p0"))
    assert(rt.filter(col("pred") =!= col("p0")).count() == 0)
  }

  test("zForCF: exact at the C4.5 default, published quantiles elsewhere") {
    assert(C45Pruning.zForCF(0.25) == C45Pruning.DefaultZ)
    assert(math.abs(C45Pruning.zForCF(0.05) - 1.6448536269514722) < 1e-8)
    assert(math.abs(C45Pruning.zForCF(0.01) - 2.3263478740408408) < 1e-8)
    assert(math.abs(C45Pruning.zForCF(0.4) - 0.2533471031357997) < 1e-8)
    assertThrows[IllegalArgumentException](C45Pruning.zForCF(0.5))
    assertThrows[IllegalArgumentException](C45Pruning.zForCF(0.0))
  }

  test("schema validation: a feature listed twice or the label among " +
    "the features fails naming the column") {
    val df = planted("/root/testdata/sf0.001")
    val twice = intercept[IllegalArgumentException](
      new C45Classifier().setLabelCol("cls")
        .setFeatureCols(features :+ "l_quantity").fit(df))
    assert(twice.getMessage.contains("feature column 'l_quantity' is listed twice"))
    val leak = intercept[IllegalArgumentException](
      new C45Classifier().setLabelCol("cls")
        .setFeatureCols(features :+ "cls").fit(df))
    assert(leak.getMessage.contains("label column 'cls' is also a feature column"))
  }
}
