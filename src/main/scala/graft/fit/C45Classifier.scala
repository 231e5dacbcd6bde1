package graft.fit

import org.apache.spark.ml.{Estimator, Model, PipelineStage}
import org.apache.spark.ml.param.{BooleanParam, DoubleParam, ParamMap,
  ParamValidators}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable,
  Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{DataType, StructType}

/** The single tree's own params: fractional serving, pessimistic
  * pruning and C4.5rules generalization (the shared ones are in
  * [[C45MlParams]]). Defaults: `maxDepth` 8, `missingMode` fractional. */
private[fit] trait C45ClassifierParams extends C45MlParams {
  this: PipelineStage =>
  final val fractionalPredict: BooleanParam = new BooleanParam(this,
    "fractionalPredict",
    "score rows with null feature values by Quinlan's fractional-weight " +
      "vote (C45Model.transformFractional) instead of the majority " +
      "fallback; null-free rows predict identically either way. " +
      "Mutually exclusive with probabilityCol (the probability path " +
      "routes nulls to the majority leaf)")
  final val prune: BooleanParam = new BooleanParam(this, "prune",
    "apply C4.5 pessimistic subtree-replacement pruning to the fitted " +
      "tree against its own training distribution before wrapping — " +
      "zero extra Spark jobs (C45Pruning.pruneTraining over the " +
      "fit-recorded leaf distributions)")
  final val pruneCF: DoubleParam = new DoubleParam(this, "pruneCF",
    "pruning/simplification confidence factor (C4.5's CF, in " +
      "(0, 0.5)): smaller prunes/generalizes harder; read when prune " +
      "or simplifyRules is set",
    ParamValidators.inRange(0.0, 0.5,
      lowerInclusive = false, upperInclusive = false))
  final val simplifyRules: BooleanParam = new BooleanParam(this,
    "simplifyRules",
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
  setDefault(maxDepth -> 8, missingMode -> "fractional",
    fractionalPredict -> false, prune -> false, pruneCF -> 0.25,
    simplifyRules -> false)
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
    val (train, schema, labelType) = fitFrame(dataset)
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
    validateSchema(schema, fitted = None)

  override def copy(extra: ParamMap): C45Classifier = defaultCopy(extra)
}

/** The fitted `spark.ml` Model: scores through [[C45Model.transform]]
  * (flat CASE WHEN narrow, one-expression tree walk wide) or
  * [[C45Model.transformFractional]]; saves its engine under `engine/`
  * ([[C45Model.save]]: rules text plus the distribution parquet). */
class C45ClassificationModel private[fit](
    override val uid: String,
    val model: C45Model,
    private[fit] val labelType: DataType)
    extends Model[C45ClassificationModel] with C45ClassifierParams
    with MLWritable {

  def setFractionalPredict(v: Boolean): this.type = set(fractionalPredict, v)

  override def transform(dataset: Dataset[_]): DataFrame = {
    require(!($(fractionalPredict) && $(probabilityCol).nonEmpty),
      "fractionalPredict and probabilityCol are mutually exclusive: the " +
        "probability path routes null-valued rows to the majority leaf")
    import C45MlParams.{Pred, ProbaPrefix}
    serve(dataset, labelType, model.probaClasses)(
      df => if ($(fractionalPredict)) model.transformFractional(df, Pred)
            else model.transform(df, Pred),
      model.transformProba(_, Pred, ProbaPrefix))
  }

  override def transformSchema(schema: StructType): StructType =
    validateSchema(schema, fitted = Some(labelType))

  override def copy(extra: ParamMap): C45ClassificationModel =
    copyValues(new C45ClassificationModel(uid, model, labelType), extra)
      .setParent(parent)

  override def write: MLWriter =
    C45MlPersistence.writer(this, labelType, model.schema)(model.save)
}

object C45Classifier extends DefaultParamsReadable[C45Classifier]

object C45ClassificationModel extends MLReadable[C45ClassificationModel] {
  override def read: MLReader[C45ClassificationModel] =
    C45MlPersistence.reader(s => new C45ClassificationModel(s.uid,
      C45Model.load(s.spark, s.engine, s.schema), s.labelType))
}
