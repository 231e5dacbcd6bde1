package graft.fit

import graft.meta.{AttrMeta, C45Schema}
import org.apache.hadoop.fs.Path
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{IntParam, Param, ParamMap, Params,
  ParamValidators, StringArrayParam}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable,
  Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, NumericType, StructField,
  StructType}

/** Shared params for [[C45Classifier]] / [[C45ClassificationModel]] —
  * the `spark.ml` face of the C4.5 fit, so it drops into an
  * `org.apache.spark.ml.Pipeline` next to MLlib stages (BASELINE.md
  * names "MLlib DecisionTree + DataFrame" as the natural Spark
  * approach; MLlibCrossCheckSpec already cross-checks accuracy — this
  * shim closes the Pipeline/CrossValidator interop gap).
  *
  * Feature typing follows [[C45Schema.fromDataFrame]]: a numeric-dtype
  * feature column fits as a continuous attribute, anything else as
  * categorical. The label column may be any dtype (it is cast to
  * string for the fit — e.g. a StringIndexer's double output becomes
  * the class labels "0.0"/"1.0"); predictions are cast BACK to the
  * label dtype observed at fit time, so indexed-label pipelines feed
  * `MulticlassClassificationEvaluator` directly. */
private[fit] trait C45ClassifierParams extends Params {
  final val labelCol: Param[String] =
    new Param[String](this, "labelCol", "label column name")
  final val predictionCol: Param[String] =
    new Param[String](this, "predictionCol", "prediction output column name")
  final val probabilityCol: Param[String] = new Param[String](this,
    "probabilityCol", "optional class-probability output column (empty = " +
      "off): an ml Vector of the leaf's training class shares, indexed by " +
      "label value for numeric labels (StringIndexer order) and by sorted " +
      "class string otherwise")
  final val featureCols: StringArrayParam = new StringArrayParam(this,
    "featureCols", "feature columns: numeric dtypes fit as continuous " +
      "attributes, everything else as categorical")
  final val maxDepth: IntParam = new IntParam(this, "maxDepth",
    "maximum tree depth", ParamValidators.gtEq(0))
  final val maxBins: IntParam = new IntParam(this, "maxBins",
    "quantile-bin cap for the numeric split search (<= 0 disables binning)")
  final val missingMode: Param[String] = new Param[String](this,
    "missingMode", "null attribute handling AT FIT TIME: 'fractional' " +
      "(Quinlan's fractional weights) or 'drop'",
    ParamValidators.inArray(Array("fractional", "drop")))
  final val fractionalPredict: org.apache.spark.ml.param.BooleanParam =
    new org.apache.spark.ml.param.BooleanParam(this, "fractionalPredict",
      "score rows with null feature values by Quinlan's fractional-weight " +
        "vote (C45Model.transformFractional) instead of the majority " +
        "fallback; null-free rows predict identically either way. " +
        "Mutually exclusive with probabilityCol (the probability path " +
        "routes nulls to the majority leaf)")
  final val prune: org.apache.spark.ml.param.BooleanParam =
    new org.apache.spark.ml.param.BooleanParam(this, "prune",
      "apply C4.5 pessimistic subtree-replacement pruning to the fitted " +
        "tree against its own training distribution before wrapping — " +
        "zero extra Spark jobs (C45Pruning.pruneTraining over the " +
        "fit-recorded leaf distributions)")
  final val pruneCF: org.apache.spark.ml.param.DoubleParam =
    new org.apache.spark.ml.param.DoubleParam(this, "pruneCF",
      "pruning/simplification confidence factor (C4.5's CF, in " +
        "(0, 0.5)): smaller prunes/generalizes harder; read when prune " +
        "or simplifyRules is set",
      ParamValidators.inRange(0.0, 0.5,
        lowerInclusive = false, upperInclusive = false))
  final val simplifyRules: org.apache.spark.ml.param.BooleanParam =
    new org.apache.spark.ml.param.BooleanParam(this, "simplifyRules",
      "generalize the fitted (and, with prune=true, pruned) tree into a " +
        "C4.5rules-style ordered rule list (C45RuleSimplify): greedy " +
        "per-rule condition dropping under the same pessimistic bound, " +
        "first-match scoring, per-rule training distributions for " +
        "probabilityCol. Costs extra fit-time jobs (one conditional " +
        "aggregation per greedy round). A generalized list has no tree " +
        "to fractionally descend, so with simplifyRules=true, " +
        "fractionalPredict scores unknown-fails first-match (the " +
        "engine's documented C4.5rules delegation) — identical to the " +
        "plain prediction")
  setDefault(labelCol -> "label", predictionCol -> "prediction",
    probabilityCol -> "", featureCols -> Array.empty[String], maxDepth -> 8,
    maxBins -> 256, missingMode -> "fractional", fractionalPredict -> false,
    prune -> false, pruneCF -> 0.25, simplifyRules -> false)

  final def getLabelCol: String = $(labelCol)
  final def getPredictionCol: String = $(predictionCol)
  final def getProbabilityCol: String = $(probabilityCol)
  final def getFeatureCols: Array[String] = $(featureCols)

  /** Features must exist; the prediction column must not; no input
    * column may sit in the reserved `__c45_` namespace (fit and
    * transform route through `__c45_label`/`__c45_pred`/`__c45_p_*`
    * internally — a colliding input would corrupt scoring silently).
    * The label is checked only when `requireLabel` (fit-time; a
    * serving transform doesn't need it). `predictionType` is by-name
    * so a fit-time `schema(labelCol)` lookup cannot throw Spark's
    * generic field-resolution error before the friendly label require
    * here fires. */
  protected def validateSchema(schema: StructType, requireLabel: Boolean,
                               predictionType: => DataType): StructType = {
    require($(featureCols).nonEmpty, "featureCols must be set (non-empty)")
    $(featureCols).foreach(f => require(schema.fieldNames.contains(f),
      s"feature column '$f' missing from ${schema.fieldNames.mkString(",")}"))
    schema.fieldNames.filter(_.startsWith("__c45_")) match {
      case Array() => ()
      case bad => throw new IllegalArgumentException(
        s"input columns ${bad.mkString(", ")} collide with the wrapper's " +
          "reserved __c45_* namespace — rename them before fit/transform")
    }
    if (requireLabel)
      require(schema.fieldNames.contains($(labelCol)),
        s"label column '${$(labelCol)}' missing")
    require(!schema.fieldNames.contains($(predictionCol)),
      s"output column '${$(predictionCol)}' already exists")
    val withPred =
      schema.add(StructField($(predictionCol), predictionType, nullable = true))
    if ($(probabilityCol).isEmpty) withPred
    else {
      require(!schema.fieldNames.contains($(probabilityCol)),
        s"output column '${$(probabilityCol)}' already exists")
      withPred.add(StructField($(probabilityCol),
        org.apache.spark.ml.linalg.SQLDataTypes.VectorType, nullable = true))
    }
  }
}

/** `spark.ml` Estimator over [[C45.fit]]: same engine, same semantics
  * quirk choices, same one-histogram-job-per-level scale shape —
  * usable inside `Pipeline` / `CrossValidator` (C45MlSpec drives
  * both). Fractional serving, ml-convention probabilities,
  * CF-parameterized pessimistic pruning, and C4.5rules generalization
  * are all params; only the raw engine layout still needs the wrapped
  * [[C45ClassificationModel.model]]. */
class C45Classifier(override val uid: String)
    extends Estimator[C45ClassificationModel] with C45ClassifierParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("c45"))

  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)
  def setFeatureCols(v: Array[String]): this.type = set(featureCols, v)
  def setFeatureCols(v: Seq[String]): this.type = set(featureCols, v.toArray)
  def setMaxDepth(v: Int): this.type = set(maxDepth, v)
  def setMaxBins(v: Int): this.type = set(maxBins, v)
  def setMissingMode(v: String): this.type = set(missingMode, v)
  def setFractionalPredict(v: Boolean): this.type = set(fractionalPredict, v)
  def setPrune(v: Boolean): this.type = set(prune, v)
  def setPruneCF(v: Double): this.type = set(pruneCF, v)
  def setSimplifyRules(v: Boolean): this.type = set(simplifyRules, v)

  override def fit(dataset: Dataset[_]): C45ClassificationModel = {
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    val labelType = df.schema($(labelCol)).dataType
    val attrs = $(featureCols).toIndexedSeq.map { f =>
      AttrMeta(f, df.schema(f).dataType.isInstanceOf[NumericType])
    }
    // the fit sees ONLY the features + a stringified label under a
    // reserved name (never colliding with a feature), so arbitrary
    // extra columns ride through fit() untouched
    val schema = C45Schema(attrs, "__c45_label", Nil)
    val train = df.select(
      $(featureCols).map(col).toIndexedSeq :+
        col($(labelCol)).cast("string").as("__c45_label"): _*)
    val fitted = C45.fit(train, schema, C45Params(
      maxDepth = $(maxDepth), maxBins = $(maxBins),
      missingMode = $(missingMode)))
    // the zero-job engine prune (over the fit-recorded distributions)
    // — no re-scan, so prune=true costs nothing beyond the fit itself
    val pruned =
      if ($(prune))
        C45Pruning.pruneTraining(fitted, C45Pruning.zForCF($(pruneCF)))
      else fitted
    // canonical C4.5rules order: generalize AFTER pruning; the result
    // carries per-rule first-match distributions, so probabilityCol
    // and persistence compose
    val m =
      if ($(simplifyRules))
        C45RuleSimplify.simplify(pruned, train, C45Pruning.zForCF($(pruneCF)))
      else pruned
    copyValues(new C45ClassificationModel(uid, m, labelType)
      .setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateSchema(schema, requireLabel = true,
      predictionType = schema($(labelCol)).dataType)

  override def copy(extra: ParamMap): C45Classifier = defaultCopy(extra)
}

/** The fitted `spark.ml` Model: delegates scoring to
  * [[C45Model.transform]] (flat CASE WHEN narrow, one-expression tree
  * walk wide) and casts the predicted label back to the fit-time label
  * dtype. */
class C45ClassificationModel private[fit](
    override val uid: String,
    val model: C45Model,
    private[fit] val labelType: DataType)
    extends Model[C45ClassificationModel] with C45ClassifierParams
    with MLWritable {

  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)
  def setFractionalPredict(v: Boolean): this.type = set(fractionalPredict, v)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    require(!($(fractionalPredict) && $(probabilityCol).nonEmpty),
      "fractionalPredict and probabilityCol are mutually exclusive: the " +
        "probability path routes null-valued rows to the majority leaf")
    if ($(probabilityCol).isEmpty) {
      val scored =
        if ($(fractionalPredict))
          model.transformFractional(dataset.toDF(), "__c45_pred")
        else model.transform(dataset.toDF(), "__c45_pred")
      scored
        .withColumn($(predictionCol), col("__c45_pred").cast(labelType))
        .drop("__c45_pred")
    } else {
      // the ml-convention probability vector: transformProba's exact
      // integer micros over 1e6, ordered by label VALUE when the fit
      // labels were numeric (so vector(i) is class i for
      // StringIndexer-fed pipelines — what logLoss-style evaluators
      // index by) and by sorted class string otherwise
      val classes = model.probaClasses
      val ordered =
        if (labelType.isInstanceOf[NumericType]) classes.sortBy(_.toDouble)
        else classes
      val scored = model.transformProba(dataset.toDF(), "__c45_pred", "__c45_p_")
      // class labels may contain dots (e.g. StringIndexer's "0.0") —
      // backtick-quote so col() doesn't parse them as field access
      val arr = org.apache.spark.sql.functions.array(
        ordered.map(c => col(s"`__c45_p_$c`") / 1000000.0): _*)
      scored
        .withColumn($(predictionCol), col("__c45_pred").cast(labelType))
        .withColumn($(probabilityCol),
          org.apache.spark.ml.functions.array_to_vector(arr))
        .drop("__c45_pred" +: classes.map(c => s"__c45_p_$c"): _*)
    }
  }

  override def transformSchema(schema: StructType): StructType =
    validateSchema(schema, requireLabel = false, predictionType = labelType)

  override def copy(extra: ParamMap): C45ClassificationModel =
    copyValues(new C45ClassificationModel(uid, model, labelType), extra)
      .setParent(parent)

  override def write: MLWriter = new C45ClassificationModel.Writer(this)
}

/** Companion readers: `C45Classifier` persists through the stock
  * params codec; the fitted model's writer combines the standard
  * `metadata/` JSON (so `Pipeline`/`PipelineModel` persistence can
  * dispatch on the class name) with the engine's own
  * [[C45Model.save]] layout (`engine/` — reference text codec +
  * parquet distribution sidecar) plus a one-row `wrapper/` parquet
  * carrying the engine schema and the fit-time label dtype. All files
  * go through the Hadoop FileSystem API / parquet writes, so any
  * Hadoop-visible path (local, HDFS, s3a) works; the rules file is a
  * single driver-written file — the right shape for an O(leaves)-tiny
  * model. */
object C45Classifier extends DefaultParamsReadable[C45Classifier]

object C45ClassificationModel extends MLReadable[C45ClassificationModel] {

  override def read: MLReader[C45ClassificationModel] = new Reader

  private class Writer(instance: C45ClassificationModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      // the standard ml metadata line: class + uid + params, exactly
      // the fields DefaultParamsReader.loadMetadata needs to dispatch
      // a PipelineModel stage back to this companion's reader
      val paramJson = instance.extractParamMap().toSeq
        .sortBy(_.param.name)
        .map { pp =>
          val p = pp.param.asInstanceOf[Param[Any]]
          s""""${p.name}":${p.jsonEncode(pp.value)}"""
        }.mkString("{", ",", "}")
      val meta = s"""{"class":"${instance.getClass.getName}",""" +
        s""""timestamp":${System.currentTimeMillis()},""" +
        s""""sparkVersion":"${spark.version}",""" +
        s""""uid":"${instance.uid}",""" +
        s""""paramMap":$paramJson,"defaultParamMap":{}}"""
      import spark.implicits._
      spark.createDataset(Seq(meta)).coalesce(1)
        .write.text(new Path(path, "metadata").toString)
      instance.model.save(spark, new Path(path, "engine").toString)
      val s = instance.model.schema
      Seq((s.attrNames, s.attrs.map(_.isNumeric), s.classLabels,
          instance.labelType.sql))
        .toDF("attr_names", "attr_numeric", "class_labels", "label_type")
        .coalesce(1)
        .write.parquet(new Path(path, "wrapper").toString)
    }
  }

  private class Reader extends MLReader[C45ClassificationModel] {
    override def load(path: String): C45ClassificationModel = {
      val spark = sparkSession
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val metaLine = spark.read.text(new Path(path, "metadata").toString)
        .head().getString(0)
      val meta = JsonMethods.parse(metaLine)
      implicit val fmt: Formats = DefaultFormats
      val uid = (meta \ "uid").extract[String]
      val w = spark.read.parquet(new Path(path, "wrapper").toString).head()
      def strs(f: String): Seq[String] =
        w.getAs[scala.collection.Seq[String]](f).toSeq
      val attrs = strs("attr_names")
        .zip(w.getAs[scala.collection.Seq[Boolean]]("attr_numeric").toSeq)
        .map { case (n, num) => AttrMeta(n, num) }
      val schema = C45Schema(attrs, "__c45_label", strs("class_labels"))
      val engine = C45Model.load(spark,
        new Path(path, "engine").toString, schema)
      val labelType = DataType.fromDDL(w.getAs[String]("label_type"))
      val m = new C45ClassificationModel(uid, engine, labelType)
      meta \ "paramMap" match {
        case JObject(fields) => fields.foreach { case (name, v) =>
          val p = m.getParam(name).asInstanceOf[Param[Any]]
          m.set(p, p.jsonDecode(JsonMethods.compact(JsonMethods.render(v))))
        }
        case _ => ()
      }
      m
    }
  }
}
