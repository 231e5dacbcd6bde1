package graft.fit

import graft.meta.C45Schema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tuning knobs for [[C45Boost.fit]] — AdaBoost.M1 (Freund & Schapire
  * 1996) with shallow C4.5 base learners, the pairing Quinlan studied
  * in "Bagging, boosting, and C4.5" (AAAI 1996). `rounds` caps the
  * boosting iterations (the loop also stops on ε = 0 or ε ≥ 0.5, the
  * M1 conditions); `base.maxDepth` keeps the weak learners weak
  * (default 2 — near-stumps); `base.missingMode` picks the null-value
  * semantics of each weak fit: "drop" (a null attribute value leaves
  * each histogram slice and routes to no leaf) or "fractional"
  * (canonical C4.5 unknown-value distribution, composed with the boost
  * weight: a null-valued row descends every child with weight
  * boost-micros × known-mass share, the same half-up micro rounding
  * as the single tree's fan-out walk). Serving and the per-round
  * error/reweight pass stay on [[C45Model.transform]]'s deterministic
  * hard routing (a null on the path falls to the majority), exactly
  * like the cross-validation eval contract. */
case class C45BoostParams(rounds: Int = 5,
                          base: C45Params = C45Params(maxDepth = 2,
                            missingMode = "drop")) {
  require(rounds >= 1, s"rounds must be >= 1: $rounds")
}

/** A fitted AdaBoost.M1 ensemble: `trees(t)` with vote weight
  * `alphaMicros(t)` = floor(ln((1−ε_t)/ε_t)·10⁶) and recorded training
  * error `errorMicros(t)` = ε_t·10⁶ rounded HALF-UP on the exact
  * integer masses ((e·10⁶ + w/2) div w — the same rounding the
  * reweight uses; alpha alone floors). Both exact longs so goldens pin
  * float-free. Serving is the weighted vote:
  * argmax over labels of Σ_t α_t·[h_t(x) = label], ties to the
  * lexicographically smallest label — one prediction column per member
  * ([[C45Model.transform]]) + one pure-Column argmax, zero joins, zero
  * shuffles. */
case class C45Boost(trees: Vector[C45Model], alphaMicros: Vector[Long],
                    errorMicros: Vector[Long]) {

  /** Sorted union of the member trees' class labels. */
  def labels: Seq[String] =
    trees.flatMap(_.schema.classLabels).distinct.sorted

  /** The ONE weight vector every serving path votes with: α-micros,
    * except the degenerate Σα = 0 ensemble (every kept round floored
    * its α to 0) falls back to unit weights — so the hard vote and
    * [[transformProba]]'s probability shares can never contradict each
    * other in the same output row (r20 ADVICE: the fallback previously
    * applied to the shares only, leaving the hard vote an all-zero tie
    * to the smallest label). Non-degenerate ensembles are untouched. */
  private lazy val serveWeights: Vector[Long] =
    if (alphaMicros.sum > 0) alphaMicros else alphaMicros.map(_ => 1L)

  /** The α-weighted vote over the member prediction columns `preds`
    * (restricted to the first `upTo` rounds — the staged-diagnostic
    * hook), ties to the lexicographically smallest label. */
  private def voteColumn(preds: Seq[String], upTo: Int): Column = {
    val ls = labels
    if (ls.size == 1) return lit(ls.head)
    greatest(ls.zipWithIndex.map { case (l, i) =>
      val mass = (0 until upTo).map(t =>
        when(col(preds(t)) === lit(l), lit(serveWeights(t)))
          .otherwise(lit(0L))).reduce(_ + _)
      struct(mass.as("m"), lit(ls.size - i).as("r"), lit(l).as("l"))
    }: _*).getField("l")
  }

  /** Score `df`: adds `outputCol` with the α-weighted vote label. */
  def transform(df: DataFrame, outputCol: String = "prediction"): DataFrame = {
    val preds = trees.indices.map(t => s"__c45b_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transform(d, preds(t)))
    scored.withColumn(outputCol, voteColumn(preds, trees.size))
      .drop(preds: _*)
  }

  /** Score `df` with class-membership probabilities: `outputCol` is
    * the hard α-weighted vote (exactly [[transform]]'s estimator), and
    * each `probPrefix<class>` column is the class's NORMALIZED vote
    * mass share in EXACT integer micros —
    * `floorDiv(mass_c·10⁶ + Σα/2, Σα)` where `mass_c = Σ_t α_t·[h_t(x)
    * = c]` and Σα is a driver-side constant. Integral `div` keeps the
    * half-up rounding exact (the products stay orders of magnitude
    * below 2⁶³: each α ≤ ln(total weight mass)·10⁶ — a few tens of
    * millions even at 10¹² training rows); shares sum to 10⁶ ±
    * (#classes−1) from rounding, mirroring [[C45Model.transformProba]]'s
    * contract. Pure flat Columns — zero joins, zero shuffles.
    *
    * Degenerate Σα = 0 (every kept round floored its α to 0 — ε
    * marginally below 0.5 on a huge corpus) falls back to UNWEIGHTED
    * vote-count shares (each round votes 1 micro-unit) instead of
    * throwing: the hard vote column is already tie-broken
    * deterministically, and a fitted ensemble must stay servable. */
  def transformProba(df: DataFrame, outputCol: String = "prediction",
                     probPrefix: String = "p_"): DataFrame = {
    val preds = trees.indices.map(t => s"__c45b_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transform(d, preds(t)))
    val ls = labels
    val weights = serveWeights
    val sumA = weights.sum
    val withVote = scored.withColumn(outputCol, voteColumn(preds, trees.size))
    val out = ls.foldLeft(withVote) { (d, l) =>
      val mass = trees.indices.map(t =>
        when(col(preds(t)) === lit(l), lit(weights(t)))
          .otherwise(lit(0L))).reduce(_ + _)
      d.withColumn("__c45b_m", mass)
        .withColumn(s"$probPrefix$l",
          expr(s"(__c45b_m * 1000000 + ${sumA / 2}) div $sumA"))
        .drop("__c45b_m")
    }
    out.drop(preds: _*)
  }

  /** Missing-value serving — each weak learner scores through its OWN
    * [[C45Model.transformFractional]] (null split values descend every
    * child weighted by fit-recorded leaf masses), then the α-weighted
    * vote combines the per-round predictions exactly as [[transform]]
    * does. Null-free rows get [[transform]]'s answer bit-for-bit. */
  def transformFractional(df: DataFrame,
                          outputCol: String = "prediction"): DataFrame = {
    val preds = trees.indices.map(t => s"__c45b_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transformFractional(d, preds(t)))
    scored.withColumn(outputCol, voteColumn(preds, trees.size))
      .drop(preds: _*)
  }

  /** The standard AdaBoost diagnostic — error vs rounds: the confusion
    * counts of every PREFIX ensemble 1..T, from ONE scoring pass.
    * Staged predictions are free: each prefix's vote masses are prefix
    * sums of the same per-tree CASE WHEN columns, so the plan is T
    * flat vote columns + one posexplode + one tiny aggregation.
    * Returns `(stage, actual, prediction, n)` where stage k uses
    * rounds 0..k-1. */
  def stagedConfusion(df: DataFrame, actualCol: String): DataFrame = {
    val preds = trees.indices.map(t => s"__c45b_p$t")
    val scored = trees.indices.foldLeft(df)((d, t) =>
      trees(t).transform(d, preds(t)))
    val votes = (1 to trees.size).map(k => voteColumn(preds, k))
    scored
      .select(col(actualCol).cast("string").as("actual"),
        posexplode(array(votes: _*)).as(Seq("__k", "prediction")))
      .groupBy((col("__k") + 1).as("stage"), col("actual"),
        col("prediction"))
      .agg(count(lit(1L)).as("n"))
  }

  /** FULL ensemble persistence, mirroring [[C45Forest.save]]'s layout:
    * one [[C45Model.save]] directory per round (`dir/t<i>/` — reference
    * text codec + parquet distribution sidecar) plus a `boost.txt`
    * manifest (line 0 the round count, then one `alpha,error` micros
    * line per round), all through the Hadoop FileSystem API so any
    * save-visible path (local, HDFS, s3a) works. [[C45Boost.load]]
    * restores an ensemble whose vote, probabilities, and staged
    * diagnostics are bit-identical to the live fit's
    * (q_boost_roundtrip gates this). */
  def save(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    val manifest = (trees.size.toString +:
      trees.indices.map(t => s"${alphaMicros(t)},${errorMicros(t)}"))
      .mkString("\n")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dirPath, "boost.txt"), true)
    try out.write(manifest.getBytes("UTF-8"))
    finally out.close()
    trees.zipWithIndex.foreach { case (m, t) =>
      m.save(spark, new org.apache.hadoop.fs.Path(dirPath, s"t$t").toString)
    }
  }
}

/** AdaBoost.M1 over the engine's C4.5, all-integer where it counts:
  *
  * - **Weights are exact long micros** (1 row starts at 10⁶) and ride
  *   as ONE column over the fit's one training frame
  *   ([[LevelLoop.withTrainingFrame]]): round t's weight is an
  *   expression over rounds 0..t−1's hard predictions. Each round's
  *   weak learner is a single-model [[LevelLoop]] fit whose starting
  *   mass is that column, with cells in micros, so a weighted tree is
  *   bit-deterministic under any partitioning.
  * - **The M1 reweight is the Σ-preserving normalized form** —
  *   wrong rows × W/(2E), right rows × W/(2(W−E)) (E = weighted
  *   error mass, W = total mass) — applied as exact long
  *   micro-factors with half-up rounding. This form is
  *   overflow-safe by construction: a wrong row's mass is ≤ E, so
  *   w·fWrong ≤ W·10⁶/2 (and symmetrically for right rows) — still,
  *   the round's agg records max(w) and the fit aborts loudly if a
  *   product could exceed Long.MaxValue rather than wrapping.
  * - **Stopping**: ε = 0 (the tree is kept with α = ln(10⁶)·10⁻⁶ ≈
  *   13.8, the exact-micros stand-in for "perfect") and ε ≥ 0.5 (the
  *   tree is discarded) both end the loop — Freund & Schapire's M1
  *   conditions.
  *
  * Scale shape per round: the weak fit's levels (one collect when the
  * frame is below the level loop's local gate, which every round
  * passes or fails alike; else one weighted histogram job per level)
  * + one eval aggregation that scores the round and sums its error and
  * total mass. Boosting is inherently sequential — each round's
  * weights depend on the previous rounds' predictions — and no round
  * persists anything: every scan of round t recomputes a row's weight
  * from t member predictions, cheap next to a job for shallow weak
  * learners. */
object C45Boost {

  private val W1 = 1000000L

  /** α for a perfect round (ε = 0): ln(10⁶) in micros. */
  val AlphaPerfectMicros: Long = math.floor(math.log(1e6) * 1e6).toLong

  /** Inverse of [[C45Boost.save]]: per-round trees through
    * [[C45Model.load]] (rules + distribution sidecars), α/ε micros from
    * the manifest. Reads through the Hadoop FileSystem API, so any
    * save-visible filesystem works. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
           schema: C45Schema): C45Boost = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(dirPath, "boost.txt"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toVector finally in.close()
    val n = lines.head.trim.toInt
    require(lines.size == n + 1,
      s"boost manifest $dir/boost.txt declares $n rounds but carries " +
        s"${lines.size - 1} alpha,error lines")
    val ae = lines.tail.zipWithIndex.map { case (l, i) =>
      val fs = l.trim.split(",")
      require(fs.length == 2,
        s"boost manifest $dir/boost.txt line ${i + 2}: expected " +
          s"'alpha,error', got '$l'")
      try (fs(0).toLong, fs(1).toLong)
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"boost manifest $dir/boost.txt line ${i + 2}: non-numeric " +
            s"alpha/error micros in '$l'")
      }
    }
    C45Boost((0 until n).map(t => C45Model.load(spark,
      new org.apache.hadoop.fs.Path(dirPath, s"t$t").toString, schema))
      .toVector, ae.map(_._1), ae.map(_._2))
  }

  def fit(df: DataFrame, schema: C45Schema,
          params: C45BoostParams = C45BoostParams()): C45Boost =
    fit(df, schema, params, LevelLoop.LocalCells)

  /** [[fit]] with the level loop's local gate exposed, so specs can
    * keep every level a Spark job (capacity 0). Every round trains on
    * the same rows, so the probe's row count gates them all. */
  private[fit] def fit(df: DataFrame, schema: C45Schema, params: C45BoostParams,
                       capacity: Long): C45Boost =
    LevelLoop.withTrainingFrame(df, (schema.attrNames :+ schema.classCol).map(col)) { data =>
      // every round's weak fit shares its labels and full-data bin
      // edges (the forest's contract)
      val probe = LevelLoop.probe(data, schema, params.base, "C45Boost.fit")
      val sc = data.sparkSession.sparkContext
      val trees = Vector.newBuilder[C45Model]
      val alphas = Vector.newBuilder[Long]
      val errors = Vector.newBuilder[Long]
      // round t's frame: the training frame with each row's weight
      // after rounds 0..t-1, recomputed from their predictions per scan
      var cur = data.withColumn("__cls", col(schema.classCol).cast("string"))
        .withColumn("__w", lit(W1))
      var round = 0
      var stop = false
      while (round < params.rounds && !stop) {
        // one weighted C4.5 fit over (attrs, __cls, __w micros): a
        // single-model LevelLoop whose starting mass is the boost weight
        val model = LevelLoop.grow(cur, schema, params.base, LevelLoop.Models("fitBoost",
          probe, _ => lit(1L), col("__w"), micros = true), capacity = capacity).head._1
        // score + error mass + total mass + max weight in ONE agg job
        val scored = model.transform(cur, "__pred")
        val wrong = col("__pred") =!= col("__cls")
        val r = LevelLoop.described(sc, s"graft.fitBoost round=$round eval")(scored.agg(
          sum(when(wrong, col("__w")).otherwise(lit(0L))).as("e"),
          sum(col("__w")).as("w"),
          max(col("__w")).as("mx")).head())
        val e = r.getLong(0); val w = r.getLong(1); val mx = r.getLong(2)
        if (e == 0L) {
          // perfect weak learner: keep with the exact-micros stand-in
          // for an unbounded alpha, then stop (M1)
          trees += model; alphas += AlphaPerfectMicros; errors += 0L
          stop = true
        } else if (2 * e >= w) {
          // ε >= 0.5: discard and stop (M1)
          stop = true
        } else {
          val alpha = math.floor(
            math.log((w - e).toDouble / e.toDouble) * 1e6).toLong
          trees += model; alphas += alpha
          errors += ((BigInt(e) * W1 + w / 2) / BigInt(w)).toLong
          // Σ-preserving M1 reweight as exact micro-factors; the
          // products are bounded (scaladoc) but verify loudly
          val fWrong = BigInt(w) * W1 / (2 * BigInt(e))
          val fRight = BigInt(w) * W1 / (2 * (BigInt(w) - BigInt(e)))
          require(fWrong * mx + W1 / 2 < BigInt(Long.MaxValue) &&
            fRight * mx + W1 / 2 < BigInt(Long.MaxValue),
            s"boost reweight would overflow long micros (round $round: " +
              s"max weight $mx, factors $fWrong/$fRight) — reduce rounds " +
              "or rebalance the corpus")
          // integral `div` keeps the half-up rounding EXACT at any
          // magnitude (a double-backed `/` would round the >2^53
          // numerator before dividing)
          cur = scored
            .withColumn("__wn",
              col("__w") * when(wrong, lit(fWrong.toLong))
                .otherwise(lit(fRight.toLong)) + lit(W1 / 2))
            .withColumn("__w", expr(s"__wn div $W1"))
            .drop("__pred", "__wn")
        }
        round += 1
      }
      val ts = trees.result()
      require(ts.nonEmpty,
        "C45Boost.fit produced no usable tree (first round error >= 0.5)")
      C45Boost(ts, alphas.result(), errors.result())
    }
}
