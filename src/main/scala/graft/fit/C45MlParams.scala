package graft.fit

import graft.meta.{AttrMeta, C45Schema}
import org.apache.hadoop.fs.Path
import org.apache.spark.ml.PipelineStage
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.ml.param.{IntParam, Param, Params, ParamValidators,
  StringArrayParam}
import org.apache.spark.ml.util.{MLReader, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.types.{DataType, NumericType, StructField,
  StructType}

/** The `spark.ml` face shared by [[C45Classifier]], [[C45ForestClassifier]]
  * and [[C45BoostClassifier]] and their fitted models, so each drops into
  * an `org.apache.spark.ml.Pipeline` or `CrossValidator` next to MLlib
  * stages.
  *
  * Feature typing follows [[C45Schema.fromDataFrame]]: a numeric-dtype
  * feature column fits as a continuous attribute, anything else as
  * categorical. The label column may be any dtype. The fit sees only the
  * features and the label cast to string under a reserved name (a
  * StringIndexer's double output becomes the class labels "0.0"/"1.0"),
  * so extra columns ride through untouched. Predictions are cast back to
  * the label dtype seen at fit time, so indexed-label pipelines feed
  * `MulticlassClassificationEvaluator` directly. The optional
  * probability vector holds the engine's exact integer micros over 1e6,
  * ordered by label value when the fit labels were numeric (so entry i
  * is class i for StringIndexer-fed pipelines) and by sorted class
  * string otherwise.
  *
  * Each model sets its own `maxDepth` and `missingMode` defaults. */
private[fit] trait C45MlParams extends Params { this: PipelineStage =>
  import C45MlParams._

  final val labelCol: Param[String] =
    new Param[String](this, "labelCol", "label column name")
  final val predictionCol: Param[String] =
    new Param[String](this, "predictionCol", "prediction output column name")
  final val probabilityCol: Param[String] = new Param[String](this,
    "probabilityCol", "optional class-probability output column (empty = " +
      "off): an ml Vector of the model's class shares, indexed by " +
      "ascending numeric label value for numeric labels and by sorted " +
      "class string otherwise")
  final val featureCols: StringArrayParam = new StringArrayParam(this,
    "featureCols", "feature columns: numeric dtypes fit as continuous " +
      "attributes, everything else as categorical")
  final val maxDepth: IntParam = new IntParam(this, "maxDepth",
    "maximum depth of each tree", ParamValidators.gtEq(0))
  final val maxBins: IntParam = new IntParam(this, "maxBins",
    "quantile-bin cap for the numeric split search (<= 0 disables binning)")
  final val missingMode: Param[String] = new Param[String](this,
    "missingMode", "null attribute handling at fit time: 'drop' (a null " +
      "value leaves each histogram slice and routes to no leaf) or " +
      "'fractional' (Quinlan's unknown-value distribution)",
    ParamValidators.inArray(Array("drop", "fractional")))
  setDefault(labelCol -> "label", predictionCol -> "prediction",
    probabilityCol -> "", featureCols -> Array.empty[String], maxBins -> 256)

  final def getLabelCol: String = $(labelCol)
  final def getPredictionCol: String = $(predictionCol)
  final def getProbabilityCol: String = $(probabilityCol)
  final def getFeatureCols: Array[String] = $(featureCols)

  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)

  /** Sets the param `name` from its saved JSON value (the reader's
    * hook: `set` is protected). */
  private[fit] def loadParam(name: String, json: String): Unit = {
    val p = getParam(name).asInstanceOf[Param[Any]]
    set(p, p.jsonDecode(json))
  }

  /** Features must exist, each listed once and none of them the label;
    * the output columns must not exist; no input column may start with
    * the reserved `__c45` prefix (fit and serving route through
    * `__c45_*` columns and the ensembles score through `__c45f_*` and
    * `__c45b_*` ones, so a colliding input would corrupt scoring
    * silently). `fitted` is the fit-time label dtype of a model; `None`
    * means fit time, when the label must exist and its dtype is the
    * prediction's. */
  protected def validateSchema(schema: StructType,
                               fitted: Option[DataType]): StructType = {
    val names = schema.fieldNames
    val features = $(featureCols)
    require(features.nonEmpty, "featureCols must be set (non-empty)")
    features.foreach(f => require(names.contains(f),
      s"feature column '$f' missing from ${names.mkString(",")}"))
    features.diff(features.distinct).headOption.foreach(f =>
      throw new IllegalArgumentException(s"feature column '$f' is listed twice"))
    names.filter(_.startsWith(Reserved)) match {
      case Array() => ()
      case bad => throw new IllegalArgumentException(
        s"input columns ${bad.mkString(", ")} collide with the wrapper's " +
          s"reserved $Reserved* namespace — rename them before fit/transform")
    }
    if (fitted.isEmpty) {
      require(names.contains($(labelCol)), s"label column '${$(labelCol)}' missing")
      require(!features.contains($(labelCol)),
        s"label column '${$(labelCol)}' is also a feature column")
    }
    val outputs = $(predictionCol) +: Seq($(probabilityCol)).filter(_.nonEmpty)
    outputs.foreach(c => require(!names.contains(c), s"output column '$c' already exists"))
    val pred = StructField($(predictionCol),
      fitted.getOrElse(schema($(labelCol)).dataType), nullable = true)
    StructType(schema.fields ++ (pred +:
      outputs.tail.map(StructField(_, VectorType, nullable = true))))
  }

  /** Validates `dataset` for a fit and returns the frame the engine fits
    * (the features, the `keep` columns and the string label), its schema
    * and the label dtype. */
  protected def fitFrame(dataset: Dataset[_],
                         keep: Seq[String] = Nil): (DataFrame, C45Schema, DataType) = {
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    val attrs = $(featureCols).toIndexedSeq.map { f =>
      AttrMeta(f, df.schema(f).dataType.isInstanceOf[NumericType])
    }
    val train = df.select(($(featureCols) ++ keep).distinct.map(col).toIndexedSeq :+
      col($(labelCol)).cast("string").as(Label): _*)
    (train, C45Schema(attrs, Label, Nil), df.schema($(labelCol)).dataType)
  }

  /** The serve step: validates `dataset`, scores it through `predict`
    * (which writes the `Pred` column) or, when `probabilityCol` is set,
    * through `proba` (which also writes one `ProbaPrefix` + class column
    * of micros per class), and casts the prediction back to `labelType`. */
  protected def serve(dataset: Dataset[_], labelType: DataType,
                      classes: Seq[String])(predict: DataFrame => DataFrame,
                                            proba: DataFrame => DataFrame): DataFrame = {
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    def cast(scored: DataFrame) =
      scored.withColumn($(predictionCol), col(Pred).cast(labelType))
    if ($(probabilityCol).isEmpty) cast(predict(df)).drop(Pred)
    else {
      val ordered =
        if (labelType.isInstanceOf[NumericType]) classes.sortBy(_.toDouble)
        else classes
      // class labels may contain dots (StringIndexer's "0.0"):
      // backtick-quote so col() does not read them as field access
      val shares = array(ordered.map(c => col(s"`$ProbaPrefix$c`") / 1000000.0): _*)
      cast(proba(df))
        .withColumn($(probabilityCol), array_to_vector(shares))
        .drop(Pred +: classes.map(ProbaPrefix + _): _*)
    }
  }
}

private[fit] object C45MlParams {
  val Reserved = "__c45"
  val Label = "__c45_label"
  val Pred = "__c45_pred"
  val ProbaPrefix = "__c45_p_"
}

/** Persistence of the fitted `spark.ml` models. A saved model is three
  * entries under its path:
  *  - `metadata/`: the standard ml metadata JSON line (class,
  *    timestamp, sparkVersion, uid, the full `paramMap` and an empty
  *    `defaultParamMap`), the fields `DefaultParamsReader.loadMetadata`
  *    needs to dispatch a `PipelineModel` stage back to the model's
  *    companion reader;
  *  - `engine/`: the engine's own layout, written by each model;
  *  - `wrapper/`: a one-row parquet of the engine schema (`attr_names`,
  *    `attr_numeric`, `class_labels`), the fit-time `label_type` and any
  *    model-specific integer columns.
  *
  * Every file goes through the Hadoop FileSystem API or parquet writes,
  * so any Hadoop-visible path (local, HDFS, s3a) works. */
private[fit] object C45MlPersistence {

  /** What the reader hands a model's constructor. */
  final case class Saved(spark: SparkSession, engine: String, uid: String,
                         schema: C45Schema, labelType: DataType, wrapper: Row)

  def writer(m: Params, labelType: DataType, schema: C45Schema,
             extra: (String, Int)*)(saveEngine: (SparkSession, String) => Unit): MLWriter =
    new MLWriter {
      override protected def saveImpl(path: String): Unit = {
        val spark = sparkSession
        val paramJson = m.extractParamMap().toSeq.sortBy(_.param.name).map { pp =>
          val p = pp.param.asInstanceOf[Param[Any]]
          s""""${p.name}":${p.jsonEncode(pp.value)}"""
        }.mkString("{", ",", "}")
        val meta = s"""{"class":"${m.getClass.getName}",""" +
          s""""timestamp":${System.currentTimeMillis()},""" +
          s""""sparkVersion":"${spark.version}",""" +
          s""""uid":"${m.uid}",""" +
          s""""paramMap":$paramJson,"defaultParamMap":{}}"""
        import spark.implicits._
        Seq(meta).toDS().coalesce(1).write.text(new Path(path, "metadata").toString)
        saveEngine(spark, new Path(path, "engine").toString)
        val base = Seq((schema.attrNames, schema.attrs.map(_.isNumeric),
            schema.classLabels, labelType.sql))
          .toDF("attr_names", "attr_numeric", "class_labels", "label_type")
        extra.foldLeft(base) { case (df, (name, v)) => df.withColumn(name, lit(v)) }
          .coalesce(1).write.parquet(new Path(path, "wrapper").toString)
      }
    }

  def reader[M <: C45MlParams](build: Saved => M): MLReader[M] = new MLReader[M] {
    override def load(path: String): M = {
      val spark = sparkSession
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      val meta = JsonMethods.parse(
        spark.read.text(new Path(path, "metadata").toString).head().getString(0))
      val w = spark.read.parquet(new Path(path, "wrapper").toString).head()
      def strs(f: String): Seq[String] = w.getAs[scala.collection.Seq[String]](f).toSeq
      val attrs = strs("attr_names")
        .zip(w.getAs[scala.collection.Seq[Boolean]]("attr_numeric").toSeq)
        .map { case (n, num) => AttrMeta(n, num) }
      val m = build(Saved(spark, new Path(path, "engine").toString,
        (meta \ "uid").extract[String],
        C45Schema(attrs, C45MlParams.Label, strs("class_labels")),
        DataType.fromDDL(w.getAs[String]("label_type")), w))
      meta \ "paramMap" match {
        case JObject(fields) => fields.foreach { case (name, v) =>
          m.loadParam(name, JsonMethods.compact(JsonMethods.render(v)))
        }
        case _ => ()
      }
      m
    }
  }
}
