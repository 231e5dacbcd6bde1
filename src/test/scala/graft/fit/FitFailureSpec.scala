package graft.fit

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A fit that throws part-way releases everything it persisted: the
  * session's persisted-RDD set returns to its baseline. The failure is
  * injected on the driver, deterministically, through the schema: its
  * attribute-kind lookup (one call per (rule, attribute) histogram
  * slice) throws once a budget runs out. The budget is what a shallower
  * run of the same fit spends — one level, or one boost round — so the
  * deeper run throws right after its next histogram job, with its
  * training cache live. */
class FitFailureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private final class Injected extends RuntimeException("injected mid-fit failure")

  private val schema = C45Schema(
    Seq(AttrMeta("color", isNumeric = false), AttrMeta("size", isNumeric = true)),
    "cls", Seq("a", "b"))

  // `schema` plus `noise`, which tracks the label noise, so fractional
  // trees still have a live attribute to split on at level 2
  private val deepSchema = schema.copy(attrs = schema.attrs :+ AttrMeta("noise", isNumeric = true))

  /** `base` with a lookup that counts its calls and, past `budget`
    * (none when negative), runs `onFail` and throws. */
  private def injecting(budget: Int, calls: AtomicInteger, onFail: () => Unit = () => (),
                        base: C45Schema = schema): C45Schema =
    new C45Schema(base.attrs, base.classCol, base.classLabels) {
      override def isNumericAttr(i: Int): Boolean = {
        if (calls.incrementAndGet() > budget && budget >= 0) { onFail(); throw new Injected }
        super.isNumericAttr(i)
      }
    }

  // size splits at 9, color below it; a third of the rows are noise,
  // so boosting keeps going past its first round. With `nulls`, some
  // colors and sizes are null, so fractional fits fan those rows out;
  // `k` keys the bootstrap and the folds.
  private def trainDf(nulls: Boolean = false): DataFrame = {
    val s = spark
    import s.implicits._
    (for (i <- 0 until 400) yield {
      val color = if (i % 2 == 0) "red" else "blue"
      val size = (i % 20).toDouble
      val cls =
        if (size <= 9) { if (color == "red" || i % 3 != 0) "a" else "b" }
        else { if (color == "blue" || i % 3 != 0) "b" else "a" }
      (if (nulls && i % 11 == 0) null else color,
        if (nulls && i % 13 == 0) None else Some(size), (i % 3).toDouble, cls, i.toString)
    }).toDF("color", "size", "noise", "cls", "k")
  }

  /** Runs `shallow` to learn its lookup count, then `deep` with that
    * budget, and checks the persisted-RDD set: above its baseline when
    * the failure strikes, back at it afterwards. */
  private def releasesOnFailure(shallow: C45Schema => Any, deep: C45Schema => Any,
                                base: C45Schema = schema): Unit = {
    val sc = spark.sparkContext
    val spent = new AtomicInteger
    shallow(injecting(-1, spent, base = base))
    val baseline = sc.getPersistentRDDs.size
    var live = -1
    intercept[Injected](deep(injecting(spent.get, new AtomicInteger,
      () => live = sc.getPersistentRDDs.size, base)))
    assert(live >= baseline + 1,
      s"the failure must strike while the fit holds a cache ($live, $baseline)")
    assert(sc.getPersistentRDDs.size == baseline,
      s"persisted RDDs leaked: $baseline before, ${sc.getPersistentRDDs.size} after")
  }

  test("C45.fit releases its training cache when a level throws") {
    val df = trainDf()
    def fit(depth: Int)(s: C45Schema) =
      C45.fit(df, s, C45Params(maxDepth = depth, maxBins = 0, missingMode = "drop"))
    releasesOnFailure(fit(1), fit(3))
  }

  test("C45Boost.fit releases its training cache when a round's fit throws") {
    val df = trainDf()
    def boost(rounds: Int)(s: C45Schema) =
      C45Boost.fit(df, s, C45BoostParams(rounds = rounds,
        base = C45Params(maxDepth = 1, maxBins = 0, missingMode = "drop")))
    // the deep run throws in round 1's first level, holding the
    // training cache every round reads (a round persists nothing of
    // its own)
    releasesOnFailure(boost(1), boost(3))
  }

  test("C45Forest.fit releases its training cache and fan-out chain when a " +
      "fractional level throws") {
    val df = trainDf(nulls = true)
    def forest(depth: Int)(s: C45Schema) =
      C45Forest.fit(df, s, col("k"), C45ForestParams(nTrees = 2, seed = 3,
        base = C45Params(maxDepth = depth, maxBins = 0, missingMode = "fractional")))
    // the deep run throws after level 2's histogram job, holding the
    // training cache (a fan-out level persists nothing of its own)
    releasesOnFailure(forest(2), forest(3), deepSchema)
  }

  test("C45CrossVal.crossValidate releases its fold cache and fan-out chain " +
      "when a fractional level throws") {
    val df = trainDf(nulls = true)
    def cv(depth: Int)(s: C45Schema) =
      C45CrossVal.crossValidate(df, s,
        C45Params(maxDepth = depth, maxBins = 0, missingMode = "fractional"), col("k"), 3)
    // the deep run throws after level 1's histogram job, holding the
    // fold-stamped cache (a fan-out level persists nothing of its own)
    releasesOnFailure(cv(1), cv(2))
  }
}
