package graft.fit

import graft.meta.C45Schema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tuning knobs for [[C45Windowing.fit]]. `initialDenom` sets the
  * deterministic initial window to the ~1/denom key-hash slice of the
  * corpus (denom 1 = train on everything, one pass, ≡ [[C45.fit]]);
  * `maxPasses` bounds the grow-refit loop; `base` configures every
  * inner fit. */
case class C45WindowParams(initialDenom: Int = 4, maxPasses: Int = 5,
                           base: C45Params = C45Params()) {
  require(initialDenom >= 1, s"initialDenom must be >= 1: $initialDenom")
  require(maxPasses >= 1, s"maxPasses must be >= 1: $maxPasses")
}

/** The windowing result: the final tree, how many fit passes ran,
  * whether the loop CONVERGED (a pass misclassified nothing outside
  * its window) or hit `maxPasses`, and the per-pass diagnostics
  * (window row count when the pass fitted, rows it then added). */
case class C45Windowed(model: C45Model, passes: Int, converged: Boolean,
                       windowRows: Vector[Long], addedRows: Vector[Long])

/** Quinlan's WINDOWING (ID3 1986; C4.5 1993 ch. 2/7 "-t/-w" trials) —
  * the iterative-training mode that fits on a subset and grows it by
  * its own mistakes: fit a tree on an initial window, score the FULL
  * training set, add every misclassified outside-window row to the
  * window, refit, and repeat until a pass misclassifies nothing
  * outside its window (or `maxPasses`). Historically a memory device,
  * still useful at scale: when a small window already separates the
  * classes, every fit pass scans a fraction of the corpus.
  *
  * Spark-first statelessness: the window is never materialized as a
  * membership table. Pass k's window predicate is a PURE COLUMN over
  * the row —
  * `hash(key) % denom = 0  OR  wrong(m_0)  OR ... OR  wrong(m_{k-1})`
  * — where each `wrong(m_i)` routes the row through an already-fitted
  * tree (flat codegen'd CASE WHEN while narrow, the one-expression
  * tree walk past [[C45Model.transform]]'s routeThreshold). No
  * row-membership shuffle, no persisted chain, nothing to checkpoint:
  * the window is a deterministic function of (row, fitted models), so
  * the whole loop replays bit-identically under any partitioning or
  * failure. Per pass: one fit over the filtered corpus (the fit
  * persists its own narrow projection) + ONE aggregation scoring the
  * full corpus (window size, rows to add, convergence test — a single
  * job). The deterministic md5-keyed initial slice mirrors the
  * forest's bootstrap draw ([[C45Forest]]), so any tier replays the
  * identical window.
  *
  * The reference has no training loop at all beyond level iteration
  * (Main.java:59-123 refits the whole corpus once); windowing is the
  * canonical-C4.5 completion on top. */
object C45Windowing {

  /** Fit with windowing. `key` must be a deterministic string-valued
    * expression over `df`'s columns (duplicate keys land in the same
    * initial window together — acceptable: membership stays a pure
    * row function, the same contract as [[C45Forest.fit]]'s bootstrap
    * key). The class column must be non-null (enforced by the inner
    * [[C45.fit]]). */
  def fit(df: DataFrame, schema: C45Schema, key: Column,
          params: C45WindowParams = C45WindowParams()): C45Windowed = {
    val clsCol = col(schema.classCol).cast("string")
    val initialWin: Column =
      if (params.initialDenom == 1) lit(true)
      else graft.functions.Hashing.hash60(key) % params.initialDenom === 0

    var models = Vector.empty[C45Model]
    var winRows = Vector.empty[Long]
    var added = Vector.empty[Long]
    var converged = false
    while (!converged && models.size < params.maxPasses) {
      // window predicate = initial slice ∪ every prior pass's mistakes
      val preds = models.indices.map(i => s"__c45w_p$i")
      val scored = models.indices.foldLeft(df)((d, i) =>
        models(i).transform(d, preds(i)))
      val win = models.indices.map(i => col(preds(i)) =!= clsCol)
        .foldLeft(initialWin)(_ || _)
      val model = C45.fit(
        scored.filter(win).drop(preds: _*), schema, params.base)

      // one full-corpus job: window size + outside-window mistakes
      val judged = model.transform(scored.withColumn("__c45w_win", win),
        "__c45w_new")
      val r = judged.agg(
        count(when(col("__c45w_win"), 1)).as("w"),
        count(when(!col("__c45w_win") &&
          col("__c45w_new") =!= clsCol, 1)).as("m")).head()
      models :+= model
      winRows :+= r.getLong(0)
      added :+= r.getLong(1)
      converged = r.getLong(1) == 0L
    }
    C45Windowed(models.last, models.size, converged, winRows, added)
  }
}
