package graft.fit

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.{Estimator, Model, PipelineStage}
import org.apache.spark.ml.param.{IntParam, ParamMap, ParamValidators,
  StringArrayParam}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable,
  Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.types.{DataType, StructType}

/** The bagged ensemble's own params (the shared ones are in
  * [[C45MlParams]]). The forest needs one input the single tree does
  * not: `keyCols`, the columns whose concatenation is the DETERMINISTIC
  * bootstrap row key (C45Forest's md5 Poisson draws are a pure function
  * of it — no RNG state, identical samples on any replica of the data).
  * Fractional `missingMode` composes Quinlan's unknown-value
  * distribution with the bootstrap weights; there is no fractional
  * serving — the ensemble votes hard. Defaults: `maxDepth` 8,
  * `missingMode` drop. */
private[fit] trait C45ForestClassifierParams extends C45MlParams {
  this: PipelineStage =>
  final val keyCols: StringArrayParam = new StringArrayParam(this,
    "keyCols", "columns concatenated ('#'-separated, stringified) into " +
      "the deterministic bootstrap row key — any stable row identifier; " +
      "duplicate keys share a draw")
  final val numTrees: IntParam = new IntParam(this, "numTrees",
    "bootstrap replicates in the ensemble", ParamValidators.gtEq(1))
  final val attrsPerTree: IntParam = new IntParam(this, "attrsPerTree",
    "rotating random-subspace width: attributes each tree may split on " +
      "(0 = all)", ParamValidators.gtEq(0))
  final val mtry: IntParam = new IntParam(this, "mtry",
    "per-node random feature sample size (Breiman 2001; 0 = off): each " +
      "open node considers only a deterministic md5-drawn sample of its " +
      "live attributes", ParamValidators.gtEq(0))
  final val seed: IntParam = new IntParam(this, "seed",
    "salt of the deterministic bootstrap hash")
  setDefault(keyCols -> Array.empty[String], maxDepth -> 8, numTrees -> 10,
    attrsPerTree -> 0, mtry -> 0, seed -> 42, missingMode -> "drop")

  final def getKeyCols: Array[String] = $(keyCols)

  /** The bootstrap row key, built for the fit and for
    * [[C45ForestClassificationModel.oobEval]] alike ('#'-joined
    * stringified `keyCols`), so the out-of-bag masks match the training
    * draws bit for bit. Fails fast when a key column is unset or
    * missing from `schema`. */
  private[fit] def bootstrapKey(schema: StructType): Column = {
    require($(keyCols).nonEmpty,
      "keyCols must be set (non-empty): the bootstrap draws are a " +
        "deterministic function of the row key")
    $(keyCols).foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' missing from ${schema.fieldNames.mkString(",")}"))
    concat_ws("#", $(keyCols).map(c => col(c).cast("string")).toIndexedSeq: _*)
  }
}

/** `spark.ml` Estimator over [[C45Forest.fit]]: the fused bagged
  * ensemble (ONE weighted histogram per level for ALL trees)
  * inside a `Pipeline`/`CrossValidator`. The fitted model also exposes
  * [[C45ForestClassificationModel.oobEval]]; only per-tree inspection
  * still needs the wrapped [[C45ForestClassificationModel.forest]]. */
class C45ForestClassifier(override val uid: String)
    extends Estimator[C45ForestClassificationModel]
    with C45ForestClassifierParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("c45forest"))

  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setFeatureCols(v: Array[String]): this.type = set(featureCols, v)
  def setFeatureCols(v: Seq[String]): this.type = set(featureCols, v.toArray)
  def setKeyCols(v: Array[String]): this.type = set(keyCols, v)
  def setKeyCols(v: Seq[String]): this.type = set(keyCols, v.toArray)
  def setMaxDepth(v: Int): this.type = set(maxDepth, v)
  def setMaxBins(v: Int): this.type = set(maxBins, v)
  def setNumTrees(v: Int): this.type = set(numTrees, v)
  def setAttrsPerTree(v: Int): this.type = set(attrsPerTree, v)
  def setMtry(v: Int): this.type = set(mtry, v)
  def setSeed(v: Int): this.type = set(seed, v)
  def setMissingMode(v: String): this.type = set(missingMode, v)

  override def fit(dataset: Dataset[_]): C45ForestClassificationModel = {
    // the key columns ride along: the engine's projection computes the
    // T bootstrap-weight columns from the key over this frame, then
    // drops them
    val (train, schema, labelType) = fitFrame(dataset, keep = $(keyCols))
    val f = C45Forest.fit(train, schema, bootstrapKey(dataset.schema),
      C45ForestParams(nTrees = $(numTrees), attrsPerTree = $(attrsPerTree),
        seed = $(seed), mtry = $(mtry),
        base = C45Params(maxDepth = $(maxDepth), maxBins = $(maxBins),
          missingMode = $(missingMode))))
    copyValues(new C45ForestClassificationModel(uid, f, labelType)
      .setParent(this))
  }

  override def transformSchema(schema: StructType): StructType = {
    bootstrapKey(schema) // fails fast on unset or missing key columns
    validateSchema(schema, fitted = None)
  }

  override def copy(extra: ParamMap): C45ForestClassifier = defaultCopy(extra)
}

/** The fitted `spark.ml` Model: majority-vote scoring through
  * [[C45Forest.transform]]. Members of at most 64 leaves score as flat
  * CASE WHEN columns, wider ones through the one-expression tree walk;
  * a pure-Column argmax takes the vote, with no join and no shuffle.
  * Saves one engine directory per tree (`engine/t<i>/`,
  * [[C45Model.save]]) and the tree count and bootstrap seed in
  * `wrapper/`. */
class C45ForestClassificationModel private[fit](
    override val uid: String,
    val forest: C45Forest,
    private[fit] val labelType: DataType)
    extends Model[C45ForestClassificationModel]
    with C45ForestClassifierParams with MLWritable {

  override def transform(dataset: Dataset[_]): DataFrame = {
    import C45MlParams.{Pred, ProbaPrefix}
    serve(dataset, labelType, forest.labels)(
      forest.transform(_, Pred), forest.transformProba(_, Pred, ProbaPrefix))
  }

  /** Out-of-bag evaluation through the wrapped engine
    * ([[C45Forest.oobEval]]): each row is scored ONLY by the trees
    * whose bootstrap bag excluded it — an unbiased held-out estimate
    * with zero extra fits. `dataset` must carry the key columns and the
    * label column; returns the confusion counts
    * `(actual, oob_prediction, n)`. */
  def oobEval(dataset: Dataset[_]): DataFrame = {
    val df = dataset.toDF()
    val key = bootstrapKey(df.schema)
    require(df.schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' missing")
    forest.oobEval(df, key, $(labelCol))
  }

  override def transformSchema(schema: StructType): StructType =
    validateSchema(schema, fitted = Some(labelType))

  override def copy(extra: ParamMap): C45ForestClassificationModel =
    copyValues(new C45ForestClassificationModel(uid, forest, labelType), extra)
      .setParent(parent)

  override def write: MLWriter =
    C45MlPersistence.writer(this, labelType, forest.trees.head.schema,
      "n_trees" -> forest.trees.size, "bootstrap_seed" -> forest.seed) {
      (spark, dir) => forest.trees.zipWithIndex.foreach { case (m, t) =>
        m.save(spark, new Path(dir, s"t$t").toString)
      }
    }
}

object C45ForestClassifier extends DefaultParamsReadable[C45ForestClassifier]

object C45ForestClassificationModel
    extends MLReadable[C45ForestClassificationModel] {
  override def read: MLReader[C45ForestClassificationModel] =
    C45MlPersistence.reader { s =>
      val trees = (0 until s.wrapper.getAs[Int]("n_trees")).map(t =>
        C45Model.load(s.spark, new Path(s.engine, s"t$t").toString, s.schema))
      new C45ForestClassificationModel(s.uid,
        C45Forest(trees.toVector, s.wrapper.getAs[Int]("bootstrap_seed")),
        s.labelType)
    }
}
