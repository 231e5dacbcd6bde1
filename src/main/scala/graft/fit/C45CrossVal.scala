package graft.fit

import graft.functions.Hashing
import graft.meta.C45Schema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-fold cross-validation for the C4.5 fit — the evaluation surface
  * the reference lacks entirely (SURVEY.md §0: no train/test split, no
  * inference phase; the fitted rules are its only deliverable).
  *
  * Fold assignment is a pure Column over the portable salted-md5 hash
  * of a caller-chosen row key ([[Hashing.hash60]] — the same
  * cross-engine hash every sketch here uses): deterministic under any
  * partitioning, reproducible across engines, and leakage-safe the
  * same way the split-assignment operator is — key by a GROUP (e.g. a
  * near-dup cluster id) and the whole group lands in one fold.
  *
  * Scale shape: ONE pass stamps and caches the fold column (no
  * shuffle) and carries the probe; then ALL k fits grow from ONE
  * histogram per tree level ([[C45.fitFolds]]: k models of the
  * [[LevelLoop]], multiplicity `fold ≠ f`, null-bearing rows fanning
  * out when the mode is fractional), and ONE map-side aggregation
  * scores all k held-out folds. Each fold model is bit-identical to a
  * sequential fit on its training rows; counts are exact longs, so
  * the result is bit-stable at every tier. */
object C45CrossVal {

  case class FoldResult(fold: Int, nTest: Long, nCorrect: Long)

  /** Cross-validate `params` on `df`: for each fold f, fit on the
    * other k-1 folds, score fold f, count exact hits. */
  def crossValidate(df: DataFrame, schema: C45Schema, params: C45Params,
                    foldKey: Column, k: Int, salt: Int = 0): Seq[FoldResult] = {
    require(k >= 2, s"need at least 2 folds, got $k")
    val clsCol = schema.classCol
    val names = schema.attrNames
    val fold = (Hashing.hash60(foldKey, salt) % k).cast("int")
    // ONE materialization serves all k fits and all k eval passes: the
    // per-level histograms and the eval scan both read through this
    // cache
    val stamped = graft.operators.Widen.toParallelism(df
      .withColumn("__fold", fold) // stamp BEFORE projecting the key away
      .select(("__fold" +: names :+ clsCol)
        .map(org.apache.spark.sql.functions.col): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val profile = LevelLoop.profile
    def tick[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      if (profile)
        println(f"[crossval] $what: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    try {
      // the cache-building scan also carries the null probe and the
      // per-fold binning sketches (LevelLoop.probe)
      val probe = tick("probe + cache build")(LevelLoop.probe(stamped, schema, params,
        "C45CrossVal.crossValidate", Some(("__fold", k))))
      val models: Seq[C45Model] = tick("fits")(
        C45.growFolds(stamped, "__fold", schema, params, probe))
      // fused evaluation: k prediction columns (each a map-only CASE
      // WHEN / one-expression tree walk), ONE aggregation over the cache
      // with per-fold filtered counters — identical counts to scoring
      // each held-out fold separately
      val scored = models.zipWithIndex.foldLeft(stamped) {
        case (acc, (m, f)) => m.transform(acc, s"__pred_$f")
      }
      val aggs = (0 until k).flatMap { f =>
        Seq(count(when(col("__fold") === f, 1)).as(s"n_$f"),
          count(when(col("__fold") === f &&
            col(s"__pred_$f") === col(clsCol).cast("string"), 1)).as(s"c_$f"))
      }
      val row = tick("eval")(scored.agg(aggs.head, aggs.tail: _*).head())
      (0 until k).map(f =>
        FoldResult(f, row.getAs[Long](s"n_$f"), row.getAs[Long](s"c_$f")))
    } finally stamped.unpersist()
  }

  /** SQL fragment mirroring the fold stamp for oracles/goldens. */
  def foldSql(keyExpr: String, k: Int, salt: Int = 0): String =
    s"${Hashing.hash60Sql(keyExpr, salt)} % $k"
}
