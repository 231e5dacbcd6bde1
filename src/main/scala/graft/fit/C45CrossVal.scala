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
  * Scale shape: ONE pass stamps the fold column (no shuffle), then ALL
  * k fits grow from ONE fold-keyed histogram job per tree level
  * ([[C45.fitFolds]]: the per-level `groupBy(fit, rid, aid, val, cls)`
  * carries the fit tag in its key, so one scan of the cached base
  * feeds every fold's cells — previously k filtered fits = k scans per
  * level), and ONE map-side aggregation scores all k held-out folds
  * (`transform` is a flat CASE WHEN per model; the per-fold hit
  * counters share a single scan). Total cost ≈ 1 fit-shaped job per
  * level + 1 eval scan; the collect stays O(k × model). Corpora with
  * null attribute values under fractional missing-mode take the same
  * fused path with per-fit row weights (a `__fit`-tagged replay of the
  * fit's own RouteX fan-out — see [[C45.fitFolds]]); decisions are
  * bit-identical to k sequential fractional fits. Counts are exact
  * longs, so the result is bit-stable at every tier. */
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
    // fused fit's per-level histogram and the fallback's per-fit
    // filters both read through this cache
    val stamped = graft.operators.Widen.toParallelism(df
      .withColumn("__fold", fold) // stamp BEFORE projecting the key away
      .select(("__fold" +: names :+ clsCol)
        .map(org.apache.spark.sql.functions.col): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // phase wall-clock diagnostics: -Dgraft.fit.profile=1 (or env
    // GRAFT_FIT_PROFILE=1 through a forked runner), same switch as fit
    val profile = sys.props.get("graft.fit.profile").contains("1") ||
      sys.env.get("GRAFT_FIT_PROFILE").contains("1")
    def tick[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      if (profile)
        println(f"[crossval] $what: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    try {
      // one up-front probe decides the mode (mirrors C45.fit's own):
      // non-null labels are required either way; null ATTRIBUTE values
      // + fractional mode engage fitFolds' weighted routed-base path
      // the cache-building scan carries EVERYTHING the path decision
      // and the fused fit's binning gate need: null counters plus the
      // per-(fold-exclusion, numeric attr) approx-distinct sketches
      // (HLL over a when()-filter equals HLL over the filtered subset
      // — the sketch only sees the value set), so fitFolds starts
      // straight into its per-level histogram jobs
      val numAttrs = schema.numericAttrs
      val dcAggs =
        if (params.maxBins <= 0) Seq.empty
        else for { f <- 0 until k; a <- numAttrs } yield
          approx_count_distinct(when(col("__fold") =!= f, col(a.name)))
            .as(s"dc_${f}_${a.name}")
      val probeAggs = Seq(
        count(when(col(clsCol).isNull, 1)).as("cls"),
        count(when(names.map(col(_).isNull).reduceOption(_ || _)
          .getOrElse(lit(false)), 1)).as("attr")) ++ dcAggs
      val nullProbe = tick("null probe + cache build")(
        stamped.agg(probeAggs.head, probeAggs.tail: _*).head())
      require(nullProbe.getLong(0) == 0L,
        s"C45.fit requires non-null class labels: column '$clsCol' contains NULLs")
      val fractional = params.missingMode == "fractional" &&
        names.nonEmpty && nullProbe.getLong(1) > 0L
      val dc: Option[Map[(Int, String), Long]] =
        if (params.maxBins <= 0) None
        else Some((for { f <- 0 until k; a <- numAttrs } yield
          (f, a.name) -> nullProbe.getAs[Long](s"dc_${f}_${a.name}")).toMap)
      val models: Seq[C45Model] = tick("fits")(
        C45.fitFolds(stamped, "__fold", k, schema, params, dc, fractional))
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
