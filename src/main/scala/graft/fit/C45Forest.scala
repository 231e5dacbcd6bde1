package graft.fit

import graft.meta.C45Schema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tuning knobs for [[C45Forest.fit]] — bagged C4.5 (Breiman 1996,
  * "Bagging Predictors") with an optional random-subspace restriction
  * per tree (Ho 1998). `nTrees` bootstrap replicates; `attrsPerTree`
  * (0 = all) restricts each tree to a deterministic rotating subset of
  * the schema's attributes — tree t sees attr index i iff
  * `(i + t) % d < attrsPerTree`, so every attribute appears in exactly
  * `attrsPerTree` of any `d` consecutive trees; `seed` salts the
  * bootstrap hash. `base.missingMode` picks the null-value semantics:
  * "drop" (a null attribute value leaves each histogram slice and
  * routes to no leaf, the single-tree drop mode per replicate) or
  * "fractional" (canonical C4.5 unknown-value distribution — a
  * null-valued row descends EVERY child of its rule's split with
  * weight bootstrap-multiplicity × known-mass share, exact micros, in
  * the same per-level walk that routes every row; see the
  * [[LevelLoop]] weight model).
  * `mtry` (0 = off) is Breiman-2001 per-NODE random feature sampling:
  * each open node considers only a deterministic md5-ranked sample of
  * `mtry` of its live attributes ([[C45Forest.mtrySample]]) — sampling
  * per split decorrelates trees better than the per-tree subspace
  * alone when attributes are few; the two restrictions compose (the
  * sample draws from the subspace minus the path's used attrs). */
case class C45ForestParams(nTrees: Int = 10,
                           attrsPerTree: Int = 0,
                           seed: Int = 42,
                           mtry: Int = 0,
                           base: C45Params = C45Params(missingMode = "drop")) {
  require(nTrees >= 1, s"nTrees must be >= 1: $nTrees")
  require(attrsPerTree >= 0, s"attrsPerTree must be >= 0: $attrsPerTree")
  require(mtry >= 0, s"mtry must be >= 0: $mtry")
}

/** A fitted bagged-C4.5 ensemble: `trees(t)` is the C4.5 model of the
  * t-th bootstrap replicate. Serving is majority vote across trees
  * (ties break toward the lexicographically smallest label); each
  * member model serves through its own [[C45Model.transform]] plan, so
  * the vote is T flat CASE WHEN columns + one pure-Column argmax —
  * zero joins, zero shuffles, fully codegen'd. */
case class C45Forest(trees: Vector[C45Model], seed: Int) {

  /** Sorted union of the member trees' class labels. */
  def labels: Seq[String] =
    trees.flatMap(_.schema.classLabels).distinct.sorted

  /** Per-label vote argmax over prediction columns `predCols`, ties to
    * the smallest label: greatest((count, rank, label)) where rank
    * DEscends with the label sort order, so an equal count prefers the
    * earlier label. `gate(t)` optionally masks tree t's vote (the OOB
    * path votes only out-of-bag trees). */
  private def voteColumn(predCols: Seq[Column],
                         gate: Int => Column = _ => lit(true)): Column = {
    val ls = labels
    if (ls.size == 1) return lit(ls.head)
    val structs = ls.zipWithIndex.map { case (l, i) =>
      val cnt = predCols.zipWithIndex.map { case (p, t) =>
        when(gate(t) && p === lit(l), 1).otherwise(0)
      }.reduce(_ + _)
      struct(cnt.as("c"), lit(ls.size - i).as("r"), lit(l).as("l"))
    }
    greatest(structs: _*).getField("l")
  }

  /** Score `df`: adds `outputCol` with the majority-vote label. */
  def transform(df: DataFrame, outputCol: String = "prediction"): DataFrame = {
    val preds = trees.indices.map(t => s"__c45f_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transform(d, preds(t)))
    scored.withColumn(outputCol, voteColumn(preds.map(col)))
      .drop(preds: _*)
  }

  /** Score `df` with class-membership probabilities: `outputCol` is the
    * majority-vote label (same estimator as [[transform]] — hard
    * voting), and each `probPrefix<class>` column is the ensemble
    * AVERAGE of the member trees' leaf-distribution micros —
    * floorDiv(Σ_t p_t + T/2, T), exact integer arithmetic (each tree's
    * micros ≤ 10⁶ and T is model-sized, so the double-backed floor is
    * exact far below 2⁵³). Every member tree carries recorded
    * distributions by construction of [[C45Forest.fit]].
    *
    * A member tree only emits micros columns for its OWN
    * [[C45Model.probaClasses]] — a bootstrap bag can miss a rare class
    * entirely (or see it only in zero-mass depth-exhausted leaves), in
    * which case that tree assigns the class zero mass everywhere, so
    * the ensemble average reads `0L` for it instead of referencing a
    * column the tree never produced. */
  def transformProba(df: DataFrame, outputCol: String = "prediction",
                     probPrefix: String = "p_"): DataFrame = {
    val T = trees.size
    val preds = trees.indices.map(t => s"__c45f_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transformProba(d, preds(t), probPrefix = s"__c45f_tp${t}_"))
    val withVote = scored.withColumn(outputCol, voteColumn(preds.map(col)))
    val emitted: Vector[Set[String]] = trees.map(_.probaClasses.toSet)
    val out = labels.foldLeft(withVote) { (d, c) =>
      val sum = trees.indices.map(t =>
        // backticks: a class label may contain dots (StringIndexer's
        // "0.0"), which col() would read as field access
        if (emitted(t)(c)) col(s"`__c45f_tp${t}_$c`") else lit(0L)).reduce(_ + _)
      d.withColumn(s"$probPrefix$c",
        floor((sum + lit(T / 2)) / lit(T)).cast("long"))
    }
    out.drop(preds: _*)
      .drop(trees.indices.flatMap(t =>
        emitted(t).toSeq.map(c => s"__c45f_tp${t}_$c")): _*)
  }

  /** Missing-value serving — the ensemble counterpart of
    * [[C45Model.transformFractional]]: each member scores through its
    * OWN fractional-weight vote (a null split value descends every
    * child weighted by the fit-recorded leaf masses), then the
    * ensemble majority-votes those per-tree predictions exactly as
    * [[transform]] does. Null-free rows get [[transform]]'s answer
    * bit-for-bit (every member factor is 0 or 1). Needs fit-produced
    * or sidecar-loaded members (rule-text-only trees carry no masses
    * and must serve through [[transform]]). One tree-walk expression
    * per member — zero joins, zero shuffles. */
  def transformFractional(df: DataFrame,
                          outputCol: String = "prediction"): DataFrame = {
    val preds = trees.indices.map(t => s"__c45f_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transformFractional(d, preds(t)))
    scored.withColumn(outputCol, voteColumn(preds.map(col)))
      .drop(preds: _*)
  }

  /** FULL ensemble persistence: one [[C45Model.save]] directory per
    * tree (`dir/t<i>/` — reference text codec + parquet distribution
    * sidecar) plus a one-line `forest.txt` (`nTrees,seed`), all through
    * the Hadoop FileSystem API so any save-visible path (local, HDFS,
    * s3a) works. [[C45Forest.load]] restores a forest whose vote,
    * probabilities, and OOB masks are bit-identical to the live fit's
    * (q_forest_roundtrip gates this). */
  def save(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dirPath, "forest.txt"), true)
    try out.write(s"${trees.size},$seed".getBytes("UTF-8"))
    finally out.close()
    trees.zipWithIndex.foreach { case (m, t) =>
      m.save(spark, new org.apache.hadoop.fs.Path(dirPath, s"t$t").toString)
    }
  }

  /** Out-of-bag evaluation (Breiman's "out-of-bag estimates"): each row
    * is scored ONLY by the trees whose bootstrap replicate excluded it
    * (bootstrap weight 0, recomputed from `key` — the same hash the fit
    * used, so the masks are exact). Rows in every tree's bag (prob
    * ≈ 0.632^T) carry no out-of-bag vote and are excluded. Returns the
    * confusion counts `(actual, oob_prediction, n)` — an unbiased
    * held-out error estimate with ZERO extra fits and one tiny
    * aggregation job. Scoring uses [[transform]]'s deterministic hard
    * routing (a null on a path falls to that tree's majority),
    * regardless of the fit's missing mode. */
  def oobEval(df: DataFrame, key: Column, actualCol: String): DataFrame = {
    val preds = trees.indices.map(t => s"__c45f_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transform(d, preds(t)))
    val oob = trees.indices.map(t =>
      C45Forest.bootstrapU(key, lit(t), seed) < C45Forest.PoissonCum(0))
    val nOob = oob.map(o => when(o, 1).otherwise(0)).reduce(_ + _)
    scored
      .withColumn("__c45f_noob", nOob)
      .filter(col("__c45f_noob") > 0)
      .withColumn("__c45f_vote", voteColumn(preds.map(col), oob))
      .groupBy(col(actualCol).cast("string").as("actual"),
        col("__c45f_vote").as("oob_prediction"))
      .agg(count(lit(1L)).as("n"))
  }
}

/** Bagged C4.5: all `nTrees` bootstrap replicates grow side by side
  * in the [[LevelLoop]], one histogram per level for the whole
  * ensemble, with the per-(row, tree) bootstrap multiplicity as the
  * loop's multiplicity. Each tree is bit-identical to a sequential
  * [[C45.fit]] on its explicitly replicated sample, in either missing
  * mode (C45ForestSpec pins both), and records masses in multiplicity
  * micros.
  *
  * Bootstrap weights are DETERMINISTIC Poisson(1) draws (the standard
  * streaming/distributed bootstrap — Oza & Russell 2001; at n rows a
  * Poisson(1) multiplicity vector is the n→∞ limit of multinomial
  * bagging): w(row, t) = InverseCDF_Poisson(1)(u) where u is a 60-bit
  * md5 hash of (seed, t, row key) scaled to [0,1) — a pure function of
  * the row's key, so any replica of the data computes the same sample
  * with no RNG state, no shuffle, and exact replay in the DuckDB
  * oracle (the same md5 mirror as [[graft.functions.Hashing.hash60]]).
  * Weights are materialized ONCE into the fit's cached projection (T
  * long columns).
  *
  * Numeric binning (`base.maxBins`) computes ONE shared set of
  * quantile edges from the FULL data (one probe + one quantile
  * job, not T): a tree's in-bag sample sees a subset of the full value
  * set, so shared edges bound every tree's boundary window identically
  * — a deliberate, documented divergence from per-replicate binning. */
object C45Forest {

  /** Cumulative Poisson(1) probabilities scaled to 2⁶⁰, k = 0..6:
    * `u < PoissonCum(k)` ⟺ the draw is ≤ k. Draws above k = 6
    * (p < 8.4e-5) clamp to 7 — exact replay matters more than the
    * vanishing tail. Thresholds are floor(c_k · 2⁶⁰) computed at
    * 50-digit precision, hard-coded so Spark and the SQL mirror can
    * never disagree. */
  val PoissonCum: Array[Long] = Array(
    424136118829305329L, // k=0  c=0.36787944117144233
    848272237658610659L, // k=1  c=0.7357588823428847
    1060340297073263324L, // k=2  c=0.9196986029286058
    1131029650211480879L, // k=3  c=0.9810118431238462
    1148701988496035267L, // k=4  c=0.9963401531726563
    1152236456152946145L, // k=5  c=0.9994058151824183
    1152825534095764625L) // k=6  c=0.9999167588507120

  /** The 60-bit uniform draw for (seed, tree, key): first 15 hex chars
    * of md5("seed|tree|key") as a long in [0, 2⁶⁰). Same construction
    * as [[graft.functions.Hashing.hash60]] with the tree id riding in
    * the salt — and the same exact SQL mirror ([[bootstrapUSql]]). */
  def bootstrapU(key: Column, tree: Column, seed: Int): Column =
    graft.functions.HexSlice60.slice(
      md5(concat(lit(s"$seed|"), tree.cast("string"), lit("|"), key)), 1)

  /** The Poisson(1) bootstrap multiplicity for (seed, tree, key). */
  def bootstrapWeight(key: Column, tree: Column, seed: Int): Column = {
    val u = bootstrapU(key, tree, seed)
    PoissonCum.zipWithIndex.tail.foldLeft(
      when(u < PoissonCum(0), 0)) { case (acc, (t, k)) =>
      acc.when(u < t, k)
    }.otherwise(7)
  }

  /** SQL mirror of [[bootstrapU]] for the DuckDB oracle. */
  def bootstrapUSql(keyExpr: String, tree: Int, seed: Int): String =
    s"CAST(('0x' || substr(md5(concat('$seed|$tree|', $keyExpr)), 1, 15)) " +
      "AS BIGINT)"

  /** SQL mirror of the out-of-bag indicator (weight = 0). */
  def oobSql(keyExpr: String, tree: Int, seed: Int): String =
    s"(${bootstrapUSql(keyExpr, tree, seed)} < ${PoissonCum(0)})"

  /** Inverse of [[C45Forest.save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
           schema: C45Schema): C45Forest = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(dirPath, "forest.txt"))
    val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val Array(n, s) = line.trim.split(",")
    C45Forest((0 until n.toInt).map(t => C45Model.load(spark,
      new org.apache.hadoop.fs.Path(dirPath, s"t$t").toString, schema))
      .toVector, s.toInt)
  }

  /** Attribute indices tree `t` may split on (rotating subspace). */
  def attrSubset(t: Int, d: Int, attrsPerTree: Int): Set[Int] =
    if (attrsPerTree <= 0 || attrsPerTree >= d) (0 until d).toSet
    else (0 until d).filter(i => (i + t) % d < attrsPerTree).toSet

  /** The deterministic per-NODE feature sample (Breiman 2001's mtry):
    * the `m` live attribute indices with the smallest
    * md5("seed|tree|level|rid|aid") digests (hex order, aid
    * tie-break) — a pure driver-side function of the node's identity,
    * so any replay of the fit draws the identical sample with no RNG
    * state. `m <= 0` or `m >= live.size` keeps every live attr. */
  def mtrySample(live: Seq[Int], m: Int, seed: Int, tree: Int,
                 level: Int, rid: Int): Set[Int] =
    if (m <= 0 || m >= live.size) live.toSet
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      // digest once per aid (sortBy re-applies its key per comparison)
      val keys: Map[Int, String] = live.map { aid =>
        val d = md.digest(s"$seed|$tree|$level|$rid|$aid".getBytes("UTF-8"))
        aid -> d.map("%02x".format(_)).mkString
      }.toMap
      live.sortBy(aid => (keys(aid), aid)).take(m).toSet
    }

  /** Fit the ensemble. `key` must be a deterministic string-valued
    * expression over `df`'s columns (duplicate keys share a weight —
    * acceptable: the weight stays a pure row function). */
  def fit(df: DataFrame, schema: C45Schema, key: Column,
          params: C45ForestParams = C45ForestParams()): C45Forest =
    fitWithImportance(df, schema, key, params)._1

  /** [[fit]], additionally returning each tree's gain-based feature
    * importance (attr index → Σ node-mass × gain over the splits that
    * chose it, in bootstrap-weight units — the per-tree analogue of
    * [[C45.fitWithImportance]], free from the same driver-side
    * decision pass). The classic random-forest importance is the
    * per-attribute MEAN across trees. */
  def fitWithImportance(df: DataFrame, schema: C45Schema, key: Column,
      params: C45ForestParams = C45ForestParams())
      : (C45Forest, Vector[Map[Int, Double]]) =
    fitWithImportance(df, schema, key, params, LevelLoop.LocalCells)

  /** [[fitWithImportance]] with the level loop's local gate exposed, so
    * specs can keep every level a Spark job (capacity 0). */
  private[fit] def fitWithImportance(df: DataFrame, schema: C45Schema, key: Column,
      params: C45ForestParams, capacity: Long): (C45Forest, Vector[Map[Int, Double]]) = {
    val names = schema.attrNames
    val d = names.size
    val T = params.nTrees
    require(params.attrsPerTree <= d,
      s"attrsPerTree ${params.attrsPerTree} exceeds attribute count $d")
    val wCols = (0 until T).map(t => s"__fw$t")
    // attrs + class + the T materialized bootstrap weights, so no level
    // recomputes md5; over a caller's cache the weights are computed
    // per level on top of it rather than caching the corpus twice
    LevelLoop.withTrainingFrame(df, (names :+ schema.classCol).map(col) ++
        wCols.indices.map(t => bootstrapWeight(key, lit(t), params.seed).as(wCols(t)))) { data =>
      val shared = LevelLoop.probe(data, schema, params.base, "C45Forest.fit")
      val probe = shared.copy(labels = Vector.fill(T)(shared.labels.head),
        edges = Vector.fill(T)(shared.edges.head))
      val fits = LevelLoop.grow(data, schema, params.base, LevelLoop.Models("fitForest",
        probe, t => col(wCols(t)), probe.mass, micros = probe.fractional,
        subspace = t => attrSubset(t, d, params.attrsPerTree),
        sample = if (params.mtry <= 0) None else Some((t, level, rid, live) =>
          mtrySample(live, params.mtry, params.seed, t, level, rid))), capacity = capacity)
      (C45Forest(fits.map(_._1).toVector, params.seed), fits.map(_._2).toVector)
    }
  }
}
