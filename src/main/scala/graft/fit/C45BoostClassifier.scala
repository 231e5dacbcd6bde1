package graft.fit

import org.apache.spark.ml.{Estimator, Model, PipelineStage}
import org.apache.spark.ml.param.{IntParam, ParamMap, ParamValidators}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable,
  Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{DataType, StructType}

/** AdaBoost.M1's own param (the shared ones are in [[C45MlParams]]).
  * There is no key column — boost weights are data-dependent, not
  * hash-drawn. Probabilities are the normalized α-vote mass shares
  * ([[C45Boost.transformProba]]). Defaults: `maxDepth` 2 (shallow keeps
  * the weak learners weak), `missingMode` drop. */
private[fit] trait C45BoostClassifierParams extends C45MlParams {
  this: PipelineStage =>
  final val rounds: IntParam = new IntParam(this, "rounds",
    "boosting rounds cap (the loop also stops on the M1 conditions: " +
      "a perfect round or error >= 0.5)", ParamValidators.gtEq(1))
  setDefault(maxDepth -> 2, rounds -> 5, missingMode -> "drop")
}

/** `spark.ml` Estimator over [[C45Boost.fit]]: AdaBoost.M1 with
  * shallow C4.5 weak learners inside a `Pipeline`/`CrossValidator`.
  * The raw round diagnostics (per-round α / ε) live on the wrapped
  * [[C45BoostClassificationModel.boost]]. */
class C45BoostClassifier(override val uid: String)
    extends Estimator[C45BoostClassificationModel]
    with C45BoostClassifierParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("c45boost"))

  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setFeatureCols(v: Array[String]): this.type = set(featureCols, v)
  def setFeatureCols(v: Seq[String]): this.type = set(featureCols, v.toArray)
  def setMaxDepth(v: Int): this.type = set(maxDepth, v)
  def setMaxBins(v: Int): this.type = set(maxBins, v)
  def setRounds(v: Int): this.type = set(rounds, v)
  def setMissingMode(v: String): this.type = set(missingMode, v)

  override def fit(dataset: Dataset[_]): C45BoostClassificationModel = {
    val (train, schema, labelType) = fitFrame(dataset)
    val b = C45Boost.fit(train, schema, C45BoostParams(
      rounds = $(rounds),
      base = C45Params(maxDepth = $(maxDepth), maxBins = $(maxBins),
        missingMode = $(missingMode))))
    copyValues(new C45BoostClassificationModel(uid, b, labelType)
      .setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateSchema(schema, fitted = None)

  override def copy(extra: ParamMap): C45BoostClassifier = defaultCopy(extra)
}

/** The fitted `spark.ml` Model: α-weighted-vote scoring through
  * [[C45Boost.transform]]. Members of at most 64 leaves score as flat
  * CASE WHEN columns, wider ones through the one-expression tree walk;
  * a pure-Column argmax takes the vote. Saves through the engine's own
  * [[C45Boost.save]] under `engine/` (the `boost.txt` α/ε manifest and
  * one `t<i>/` directory per round).
  *
  * FORMAT NOTE: this is save format v2 (round 19+). v1 saves carried
  * α/ε as `alpha_micros`/`error_micros` columns in the wrapper parquet
  * and no `engine/boost.txt`; v1 directories cannot be loaded by this
  * reader (the manifest open fails with the path in the message) —
  * re-save through [[C45Boost.save]]. No v1 saves exist in this
  * repository's artifacts, so no compatibility shim is carried. */
class C45BoostClassificationModel private[fit](
    override val uid: String,
    val boost: C45Boost,
    private[fit] val labelType: DataType)
    extends Model[C45BoostClassificationModel]
    with C45BoostClassifierParams with MLWritable {

  override def transform(dataset: Dataset[_]): DataFrame = {
    import C45MlParams.{Pred, ProbaPrefix}
    serve(dataset, labelType, boost.labels)(
      boost.transform(_, Pred), boost.transformProba(_, Pred, ProbaPrefix))
  }

  override def transformSchema(schema: StructType): StructType =
    validateSchema(schema, fitted = Some(labelType))

  override def copy(extra: ParamMap): C45BoostClassificationModel =
    copyValues(new C45BoostClassificationModel(uid, boost, labelType), extra)
      .setParent(parent)

  override def write: MLWriter =
    C45MlPersistence.writer(this, labelType, boost.trees.head.schema)(boost.save)
}

object C45BoostClassifier extends DefaultParamsReadable[C45BoostClassifier]

object C45BoostClassificationModel
    extends MLReadable[C45BoostClassificationModel] {
  override def read: MLReader[C45BoostClassificationModel] =
    C45MlPersistence.reader(s => new C45BoostClassificationModel(s.uid,
      C45Boost.load(s.spark, s.engine, s.schema), s.labelType))
}
