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
  * Scale shape: the fold column is one more column of the fit's
  * training frame ([[LevelLoop.withTrainingFrame]]: cached once over
  * an uncached input, hashed per scan over a caller's cache), and the
  * probe's one scan carries the per-fold sketches; then ALL k fits
  * grow from ONE histogram per tree level ([[C45.fitFolds]]: k models
  * of the [[LevelLoop]], multiplicity `fold ≠ f`, null-bearing rows
  * fanning out when the mode is fractional), and ONE map-side
  * aggregation scores all k held-out folds. Each fold model is
  * bit-identical to a sequential fit on its training rows; counts are
  * exact longs, so the result is bit-stable at every tier. */
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
    // the fold is stamped before the key is projected away; ONE
    // training frame serves all k fits and all k eval passes
    LevelLoop.withTrainingFrame(df, fold.as("__fold") +: (names :+ clsCol).map(col)) { stamped =>
      val probe = LevelLoop.probe(stamped, schema, params, "C45CrossVal.crossValidate",
        Some(("__fold", k)))
      val models = C45.growFolds(stamped, "__fold", schema, params, probe)
      // fused evaluation: k prediction columns (each a map-only CASE
      // WHEN / one-expression tree walk), ONE aggregation over the frame
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
      val row = LevelLoop.described(stamped.sparkSession.sparkContext, "graft.fitFolds eval")(
        scored.agg(aggs.head, aggs.tail: _*).head())
      (0 until k).map(f =>
        FoldResult(f, row.getAs[Long](s"n_$f"), row.getAs[Long](s"c_$f")))
    }
  }

  /** SQL fragment mirroring the fold stamp for oracles/goldens. */
  def foldSql(keyExpr: String, k: Int, salt: Int = 0): String =
    s"${Hashing.hash60Sql(keyExpr, salt)} % $k"
}
