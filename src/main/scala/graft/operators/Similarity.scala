package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** One (score, candidate id) pair flowing into [[TopKAggregator]].
  * Top-level: a nested case class defeats encoder codegen. */
private[operators] case class Scored(score: Double, id: Long)

/** Aggregated top-k result as parallel arrays, best-first. */
private[operators] case class TopHits(score: Array[Double], id: Array[Long])

/** Bounded top-k as a partial-combining aggregate: the buffer is a
  * best-first list CAPPED AT k, merged associatively — so map-side
  * partial aggregation reduces every partition's candidates to at most
  * k per query BEFORE the shuffle, and the exchange carries O(k) rows
  * per (query, partition) instead of serializing every candidate of a
  * hot query into one window partition. Ordering is total (score desc,
  * id asc — callers pre-round the score), so the result is independent
  * of partitioning and arrival order. */
private[operators] class TopKAggregator(k: Int)
  extends Aggregator[Scored, List[Scored], TopHits] {
  require(k >= 1, s"k must be positive: $k")

  private def better(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: List[Scored] = Nil

  override def reduce(buf: List[Scored], x: Scored): List[Scored] =
    if (buf.lengthCompare(k) >= 0 && !better(x, buf.last)) buf
    else {
      val (pre, post) = buf.span(better(_, x))
      (pre ::: x :: post).take(k)
    }

  override def merge(a: List[Scored], b: List[Scored]): List[Scored] = {
    val out = List.newBuilder[Scored]
    var (l, r, n) = (a, b, 0)
    while (n < k && (l.nonEmpty || r.nonEmpty)) {
      if (r.isEmpty || (l.nonEmpty && better(l.head, r.head))) {
        out += l.head; l = l.tail
      } else { out += r.head; r = r.tail }
      n += 1
    }
    out.result()
  }

  override def finish(b: List[Scored]): TopHits =
    TopHits(b.map(_.score).toArray, b.map(_.id).toArray)

  override def bufferEncoder: Encoder[List[Scored]] = Encoders.kryo[List[Scored]]
  override def outputEncoder: Encoder[TopHits] = Encoders.product[TopHits]
}

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`). The vector math is pure `Column` composition
  * (`zip_with` + `aggregate`, codegen'd) — no UDF.
  *
  * Brute-force top-k is the correctness baseline (cross join against a
  * broadcast query set — fine when |queries| is small). The scale path
  * is [[ivfTopK]]: a deterministic coarse quantizer buckets all vectors
  * once (shuffle by centroid id), and each query probes only its
  * nearest `nProbe` buckets — the classic IVF trade of recall for a
  * 1/(nBuckets/nProbe) scan reduction.
  */
object Similarity {

  def toDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Rank `scored` (qid, id, scoreCol) to per-qid top-k via
    * [[TopKAggregator]] — the k-bounded replacement for a per-qid
    * `row_number` window. The window shape serializes EVERY candidate
    * of a query into a single partition before ranking; here partial
    * aggregation combines map-side, the exchange moves ≤ k rows per
    * (query, partition), and one query's fan-in can never skew a
    * partition. `scoreCol` must already be rounded (ties break on id,
    * so the order must be exact). Output: (qid, id, scoreCol, rank)
    * with rank 1..k best-first — the window's exact schema. */
  private def boundedTopK(scored: DataFrame, k: Int, scoreCol: String): DataFrame = {
    val agg = udaf(new TopKAggregator(k), Encoders.product[Scored])
    scored.groupBy("qid")
      .agg(agg(col(scoreCol), col("id")).as("h"))
      .select(col("qid"),
        posexplode(arrays_zip(col("h.score").as("score"), col("h.id").as("id"))))
      .select(col("qid"), col("col.id").as("id"),
        col("col.score").as(scoreCol), (col("pos") + 1).as("rank"))
  }

  /** Sequential left-to-right dot product — a native codegen'd Catalyst
    * expression (graft.functions.DotProduct); same accumulation order
    * as DuckDB's list_dot_product for oracle parity. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Pre-normalized double vector: cosine becomes a plain dot. The
    * norm is bound ONCE as a lambda variable (`transform(array(nrm),
    * n -> ...)` + element_at 1): referencing the `sqrt(dot(d, d))`
    * subtree inside the per-element lambda would re-evaluate the O(dim)
    * dot per element — O(dim²) per vector. */
  def unitVector(c: Column): Column = {
    val d = toDoubleVec(c)
    element_at(transform(array(sqrt(dot(d, d))), n =>
      transform(d, x => x / n)), 1)
  }

  /** Exact top-k by cosine for each query vector (brute force).
    * `queries`: (qidCol, vecCol). Deterministic ranking: cosine is
    * rounded to 6 before ordering, ties broken by candidate id. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    val cand = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val q = queries.select(col(qidCol).as("qid"), toDoubleVec(col(qvecCol)).as("qv"))
    val scored = cand.crossJoin(broadcast(q))
      .select(col("qid"), col("id"),
        round(cosine(col("v"), col("qv")), 6).as("cosine"))
    boundedTopK(scored, k, "cosine")
  }

  /** Deterministic coarse centroids WITHOUT training: the first
    * `nCentroids` vectors by id. Kept as the zero-cost fallback;
    * [[kmeansCentroids]] is the trained default for [[ivfTopK]] — on
    * clustered real embeddings, untrained first-N centroids track
    * whatever region small ids happen to live in and probe recall
    * collapses. */
  def coarseCentroids(df: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int): DataFrame =
    df.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cid"), toDoubleVec(col(vecCol)).as("cv"))

  /** Deterministic spherical k-means coarse quantizer: Lloyd's
    * iterations expressed as DataFrame aggregations, for the IVF
    * bucketing metric (cosine).
    *
    * Init: the `nCentroids` vectors with the smallest salted id hash —
    * a deterministic uniform sample of the corpus (NOT first-N-by-id,
    * which picks whatever region small ids live in).
    *
    * Iterate (`nIter` rounds): every vector assigns to its
    * highest-cosine centroid via a BROADCAST cross join against the
    * tiny centroid table + per-id argmax aggregation, then each
    * centroid becomes the mean of its members' unit vectors (the
    * spherical update; cosine ranking is scale-invariant so the mean
    * needs no re-normalization before use). Centroids travel as
    * broadcast DATA, not plan literals, so every iteration reuses the
    * SAME physical plan and whole-stage-codegen compiles once for the
    * whole loop (literal centroid arrays would force a Janino
    * recompile per round). Per round: one broadcast + two
    * partial-aggregated shuffles, and only nCentroids × dim cells
    * reach the driver — the MLlib driver/cluster split. Component
    * means are rounded so the result does not depend on float
    * summation order across partitions; empty clusters keep their
    * previous centroid; ties go to the smallest centroid id.
    * Iteration stops early at the (rounded) centroid fixpoint — a
    * coarse quantizer needs bucket SHAPE, not converged means, so
    * `nIter` is a cap, not a target. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, nIter: Int = 5): DataFrame = {
    require(nCentroids >= 1, "nCentroids must be positive")
    val spark = df.sparkSession
    val u = Widen.toParallelism(
        df.select(col(idCol).as("id"), unitVector(col(vecCol)).as("u")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var centroids: Array[Array[Double]] = u
      .orderBy(graft.functions.Hashing.hash60(col("id").cast("string")), col("id"))
      .limit(nCentroids)
      .select(col("u")).collect()
      .map(_.getSeq[Double](0).toArray)
    import spark.implicits._
    var iter = 0
    var converged = false
    var prevMeans: Array[Array[Double]] = null
    while (iter < nIter && !converged && centroids.length > 1) {
      val normed = centroids.map { c =>
        val n = math.sqrt(c.map(x => x * x).sum)
        if (n == 0) c else c.map(_ / n)
      }
      val cDf = normed.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cv")
      // per-id argmax via max over (sim, -cid) structs: highest cosine
      // wins, ties go to the smallest cid; sims rounded so the
      // assignment is stable under fp noise
      val cellSums = u.crossJoin(broadcast(cDf))
        .select(col("id"), col("u"),
          struct(round(dot(col("u"), col("cv")), 9).as("sim"),
            (-col("cid")).as("nc")).as("sc"))
        .groupBy("id")
        .agg(max(col("sc")).as("best"), first(col("u")).as("u"))
        .select((-col("best.nc")).as("cid"),
          posexplode(col("u")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCid = cellSums.groupBy(_.getAs[Int]("cid"))
      val updated = normed.indices.map { ci =>
        byCid.get(ci) match {
          case Some(rows) =>
            val out = normed(ci).clone()
            rows.foreach { r =>
              val d = r.getAs[Int]("d")
              val mean = r.getAs[Double]("sx") / r.getAs[Long]("n")
              out(d) = math.rint(mean * 1e6) / 1e6
            }
            out
          case None => normed(ci) // empty cluster: keep previous
        }
      }.toArray
      // rounded means repeating across two rounds ⟺ assignments are
      // at a fixpoint — stop; nIter only caps pathological oscillation
      converged = prevMeans != null && updated.indices.forall(i =>
        java.util.Arrays.equals(updated(i), prevMeans(i)))
      prevMeans = updated
      centroids = updated
      iter += 1
    }
    centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cid", "cv")
    } finally u.unpersist() // training is fully eager; a failed job must not leak cache
  }

  /** Assign every vector to its nearest centroid (IVF bucketing): one
    * broadcast cross join against the tiny centroid set + per-vector
    * argmax — the bucketed table is then reusable across queries.
    *
    * The argmax is a `max` over (sim, -cid) structs under a groupBy,
    * NOT a row_number window: aggregation partial-combines the
    * nCentroids candidate rows per vector map-side, so the shuffle
    * carries ~one row per vector instead of nCentroids rows — the
    * difference between shuffling n and n × nCentroids at corpus
    * scale. Ties go to the smallest centroid id, as before. */
  def assignBuckets(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame): DataFrame = {
    val v = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    v.crossJoin(broadcast(centroids))
      .select(col("id"), col("v"),
        struct(round(cosine(col("v"), col("cv")), 6).as("sim"),
          (-col("cid")).as("nc")).as("sc"))
      .groupBy("id")
      .agg(max(col("sc")).as("best"), first(col("v")).as("v"))
      .select(col("id"), col("v"), (-col("best.nc")).as("cid"))
  }

  /** K-means clustering as a first-class corpus operator (topic /
    * domain clustering for data curation, not just the IVF routing
    * step): train the deterministic spherical quantizer
    * ([[kmeansCentroids]]) and profile the resulting partition —
    * per cluster, its member count and mean cosine to the centroid
    * (a cohesion score: ~1 = tight topical cluster, ~0 = grab-bag).
    *
    * Scale shape is the trainer's (per round: one broadcast of the
    * tiny centroid table + two partial-aggregated shuffles) plus ONE
    * assignment pass: broadcast cross join against nCentroids rows,
    * per-id argmax folded into the aggregation so the shuffle carries
    * one row per vector, then a cluster-keyed partial-agg rollup to
    * nCentroids output rows. Mean cosine is summed as DECIMAL(18,6)
    * over the 6dp-rounded per-member sims — exact integer arithmetic,
    * so the mean is independent of partition order and bit-identical
    * across engines; the final divide is one double op on two exact
    * values. Ties (equal cosine to two centroids) go to the smallest
    * cid, matching [[assignBuckets]]. */
  def clusterProfile(df: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int, nIter: Int = 5): DataFrame = {
    val centroids = kmeansCentroids(df, idCol, vecCol, nCentroids, nIter)
    val v = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    v.crossJoin(broadcast(centroids))
      .select(col("id"),
        struct(round(cosine(col("v"), col("cv")), 6).as("sim"),
          (-col("cid")).as("nc")).as("sc"))
      .groupBy("id")
      .agg(max(col("sc")).as("best"))
      .select((-col("best.nc")).as("cid"), col("best.sim").as("sim"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum(col("sim").cast("decimal(18,6)")).as("__sum"))
      .select(col("cid"), col("n_members"),
        round(col("__sum").cast("double") / col("n_members"), 6)
          .as("mean_sim"))
  }

  /** Simplified (centroid-based) silhouette score per cluster — the
    * clustering-quality gauge that answers "did k-means actually find
    * structure, and which clusters are grab-bags?" before a pipeline
    * trusts cluster-derived curation decisions (SemDeDup buckets,
    * topic mixtures, IVF cells). Full silhouette (Rousseeuw 1987)
    * needs all pairwise distances — O(n²); the standard large-data
    * variant scores each point against CENTROIDS instead: with
    * cosine distance d(x, c) = 1 − cos(x, c),
    *
    *   a(x) = d(x, own centroid),  b(x) = min over other centroids,
    *   s(x) = (b − a) / max(a, b)   (0 when both are 0)
    *
    * so s ∈ [−1, 1], ~1 = firmly inside its cluster, ~0 = on a
    * boundary, < 0 = assigned to the wrong centroid (possible after
    * Lloyd stops early). O(n·k) instead of O(n²).
    *
    * Scale shape: two broadcast cross joins against the tiny centroid
    * table, each collapsed by a partial-aggregating per-id max (the
    * [[assignBuckets]] struct-argmax discipline — the shuffle carries
    * one row per vector, never k); per-point silhouettes round to 6dp
    * and sum as micros longs, so the per-cluster mean is
    * partition-order independent and engine-exact. Assignment ties
    * break to the smallest cid, matching [[assignBuckets]].
    *
    * Output: (cid, n_members, mean_sil) — one row per non-empty
    * cluster; mean_sil = floor(Σ micros / n + 0.5) / 1e6. Requires
    * ≥ 2 centroids (silhouette is undefined at k = 1: there is no
    * "other centroid", and the inner join yields no rows). */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame): DataFrame = {
    val v = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val best = v.crossJoin(broadcast(centroids))
      .select(col("id"), col("v"),
        struct(round(cosine(col("v"), col("cv")), 6).as("sim"),
          (-col("cid")).as("nc")).as("sc"))
      .groupBy("id")
      .agg(max(col("sc")).as("best"), first(col("v")).as("v"))
      .select(col("id"), col("v"), (-col("best.nc")).as("cid"),
        col("best.sim").as("a_sim"))
    val second = best
      .crossJoin(broadcast(centroids.withColumnRenamed("cid", "ocid")))
      .filter(col("ocid") =!= col("cid"))
      .groupBy("id")
      .agg(max(round(cosine(col("v"), col("cv")), 6)).as("b_sim"))
    val a = lit(1.0) - col("a_sim")
    val b = lit(1.0) - col("b_sim")
    val sRaw = when(greatest(a, b) === 0.0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    best.join(second, "id")
      .select(col("cid"),
        floor(sRaw * lit(1e6) + lit(0.5)).cast("long").as("__m"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum(col("__m")).as("__sum"))
      .select(col("cid"), col("n_members"),
        (floor(col("__sum") / col("n_members") + lit(0.5)) / lit(1e6))
          .as("mean_sil"))
  }

  /** Triplet mining for metric learning (the FaceNet recipe, Schroff
    * et al. 2015): for each ANCHOR vector, find its hardest positive
    * (same label, LOWEST cosine — the farthest example the model must
    * still pull in) and hardest negative (different label, HIGHEST
    * cosine — the closest impostor it must push away), plus the margin
    * violation `neg_cos − pos_cos` (> 0 ⟺ the triplet is active under
    * a zero-margin loss; training pipelines keep the violators).
    *
    * One broadcast of the anchor set against the candidate corpus and
    * ONE aggregation: both extremes are conditional min/max over
    * (cosine, id) structs, so partial aggregation collapses the
    * candidates map-side and the shuffle carries two structs per
    * (anchor, partition) — never a per-candidate row. Deterministic:
    * cosines round to 6dp, ties break toward the smallest candidate
    * id on both sides. Self-pairs are excluded. Anchors with no
    * same-label (or no different-label) candidate emit NULLs for that
    * side. `anchors` must be small enough to broadcast (a probe/batch
    * set — the per-batch shape of a corpus-wide miner; for all-corpus
    * mining, drive batches through this or route candidates through
    * [[ivfTopK]] cells first). */
  def tripletMine(df: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, anchors: DataFrame, aidCol: String,
                  avecCol: String, albCol: String): DataFrame = {
    val cand = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"),
      col(labelCol).as("lbl"))
    val a = anchors.select(col(aidCol).as("qid"),
      toDoubleVec(col(avecCol)).as("qv"), col(albCol).as("qlbl"))
    val cos = round(cosine(col("v"), col("qv")), 6)
    cand.crossJoin(broadcast(a))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"),
        when(col("lbl") === col("qlbl"),
          struct(cos.as("c"), col("id").as("id"))).as("p"),
        when(col("lbl") =!= col("qlbl"),
          struct(cos.as("c"), (-col("id")).as("nid"))).as("n"))
      .groupBy("qid")
      .agg(min(col("p")).as("bp"), max(col("n")).as("bn"))
      .select(col("qid"),
        col("bp.id").as("pos_id"), col("bp.c").as("pos_cos"),
        (-col("bn.nid")).as("neg_id"), col("bn.c").as("neg_cos"),
        round(col("bn.c") - col("bp.c"), 6).as("violation"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023,
    * arXiv:2303.09540): cluster the embeddings with the deterministic
    * spherical k-means trainer, then — WITHIN each cluster only — drop
    * every vector that has a smaller-id cluster-mate with cosine ≥
    * `simThreshold`. The clustering is what makes this tractable at
    * corpus scale: candidate pairs are Σ over clusters of |c|² instead
    * of n² (the same bucket-bounding argument as the banded LSH joins,
    * with k-means as the bucketing function — semantically-close pairs
    * land in the same cluster, so the within-cluster restriction loses
    * only pairs that straddle a cluster boundary, the paper's stated
    * trade).
    *
    * The keep rule is the greedy pair rule (drop b iff ∃ a < b in the
    * same cluster with cos(a,b) ≥ τ), NOT transitive-closure
    * clustering: a kept vector is the smallest id of its
    * neighborhood, and chains collapse toward the smallest id without
    * a connected-components pass. The CC-based alternative (exact
    * transitive clusters) is [[graft.operators.Dedup.keepCanonical]];
    * this one is one join + one aggregation, the shape the paper runs
    * at web scale. Deterministic: cosines are rounded to 6dp before
    * the threshold compare and the rule depends only on the id order.
    *
    * Scale shape: one trained-centroid broadcast assignment pass
    * (persisted — it feeds both self-join sides and the output), one
    * cid-keyed equi-self-join bounded by cluster sizes, one distinct
    * on the dropped ids, one left-anti-style id join back. Skewed
    * clusters bound the join the way LSH buckets do — raise
    * `nCentroids` to shrink them (the paper uses k ≈ √n · const).
    *
    * Output: (id, cid, keep) — the full corpus annotated, `keep =
    * false` for dropped members. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, nIter: Int = 5,
                    simThreshold: Double = 0.3,
                    scope: CacheScope = CacheScope.unmanaged()): DataFrame =
    semanticDedupWith(df, idCol, vecCol,
      kmeansCentroids(df, idCol, vecCol, nCentroids, nIter),
      simThreshold, scope)

  /** [[semanticDedup]] over an already-TRAINED centroid table — the
    * stored-model serve path (the [[ivfTopKWith]] discipline): at
    * corpus scale the quantizer is trained once and every batch loads
    * it; identical output to the training entry point by construction
    * (that one delegates here). */
  def semanticDedupWith(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, simThreshold: Double = 0.3,
                        scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    require(simThreshold <= 1.0,
      "simThreshold > 1 keeps everything; the duplicate prefilter assumes <= 1")
    val assigned = scope.persist(
      assignBuckets(df, idCol, vecCol, centroids))
    // duplicate-mass guard (the banded-join discipline, simHashPairs'
    // distinct-signature trick): the pair join sees only DISTINCT
    // vectors per cluster — identical vectors collapse to their min-id
    // representative first, so a degenerate corpus of n copies costs
    // one partial-agg groupBy instead of an n² bucket. The output is
    // provably unchanged: duplicates share every cosine, so whenever a
    // non-canonical copy witnesses a drop, its (smaller-id) canonical
    // does too, and the copies themselves drop by cosine 1 ≥ τ.
    val sig = md5(concat_ws(",",
      transform(col("v"), x => x.cast("string"))))
    val reps = scope.persist(assigned
      .withColumn("__sig", sig)
      .groupBy("cid", "__sig")
      .agg(min(col("id")).as("__rid"), first(col("v")).as("v"),
        count(lit(1)).as("__copies")))
    val a = reps.select(col("cid"), col("__rid").as("__a_id"),
      col("v").as("__a_v"))
    val b = reps.select(col("cid"), col("__rid").as("__b_id"),
      col("v").as("__b_v"))
    val droppedReps = a.join(b, "cid")
      .filter(col("__a_id") < col("__b_id"))
      .filter(round(cosine(col("__a_v"), col("__b_v")), 6) >= simThreshold)
      .select(col("__b_id").as("id")).distinct()
    // non-canonical copies drop without ever entering the join —
    // EXCEPT zero-norm duplicates: their pairwise cosine is NULL
    // (0/0), so the pair rule (and the all-pairs oracle) keeps them;
    // the shortcut must not be more aggressive than the rule it
    // shortcuts.
    val droppedCopies = assigned
      .withColumn("__sig", sig)
      .join(reps.filter(col("__copies") > 1 && norm(col("v")) > 0)
        .select(col("cid"), col("__sig"), col("__rid")), Seq("cid", "__sig"))
      .filter(col("id") =!= col("__rid"))
      .select(col("id"))
    val dropped = droppedReps.union(droppedCopies).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cid"),
        not(coalesce(col("__dropped"), lit(false))).as("keep"))
  }

  /** Relational DBSCAN (Ester et al., KDD 1996) over cosine
    * similarity: density clustering with explicit NOISE — the
    * curation shape k-means can't give you (k-means forces every
    * outlier into some cluster; DBSCAN names them). A vector is CORE
    * when its ε-neighborhood (cosine ≥ `epsCos`, self included)
    * holds ≥ `minPts` vectors; clusters are the connected components
    * of the core-core neighbor graph (exact minimum-id labels); non-core
    * vectors with a core neighbor join their minimum core-neighbor
    * cluster as BORDER points (the deterministic resolution of DBSCAN's
    * border-tie ambiguity); everything else is noise (cluster NULL).
    *
    * Shape: the quadratic cosine pair join runs in parallel and its ε
    * pair table persists once; the labelling is [[dbscanFromPairs]]'s,
    * which runs in ONE task, with no shuffle, while the pair table's
    * directed edges fit ~1M, and relationally beyond.
    *
    * The ε-neighbor pair join here is the EXACT bounded baseline (the
    * q_embed_neardup discipline — feed it a bounded slice); at corpus
    * scale use [[dbscanBucketed]] (SemDeDup k-means candidate
    * buckets) or build the pair table yourself with the SRP-LSH bands
    * ([[graft.operators.Dedup]] embedding LSH) and feed it through
    * [[dbscanFromPairs]]. Every label decision is a min over
    * ids/labels — deterministic under any partitioning and
    * engine-replayable.
    *
    * Output: (id, role ∈ core|border|noise, cluster — NULL for
    * noise). */
  def dbscan(df: DataFrame, idCol: String, vecCol: String,
             epsCos: Double, minPts: Int,
             scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    val v = scope.persist(df
      .select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v"))))
    val pairs =
      v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("i"), col("b.id").as("j"),
          (dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
        .filter(col("cos") >= epsCos)
        .select("i", "j")
    dbscanFromPairs(v.select("id"), pairs, minPts, scope)
  }

  /** DBSCAN density labeling from an EXTERNALLY-SUPPLIED ε-neighbor
    * pair table — the corpus-scale entry point (the
    * [[graft.operators.GraphRank.pagerank]] signature discipline:
    * the quadratic candidate step is the caller's to bound, the
    * density/component machinery is ours). `nodes` must carry every
    * vector id in an `id` column (isolated ids have no pair and must
    * still surface as noise); `pairs` is any table of ε-neighbor
    * witnesses in columns `i`, `j` — unordered, duplicated (LSH bands
    * emit a pair once per colliding band), self-paired or half-null
    * input is fine: pairs are normalized to distinct `i < j` edges
    * before the degree count, so duplicate witnesses never inflate
    * density. A neighborhood is the neighbor count + self; a core needs
    * ≥ `minPts` of it and a node-table row (an endpoint outside the
    * node table counts toward its partner but is never reported).
    * Clusters are the exact minimum-id components of the core-core
    * edges, and border points attach to their MINIMUM core-neighbor
    * cluster. Every node-table row yields exactly one output row.
    *
    * Scale shape ([[graft.operators.GraphRank.pagerank]]'s): the pair
    * table persists once and is counted. When its directed edges
    * (2 × pairs) fit one task ([[Dedup.BucketEdges]], ~1M) and the ids
    * are integral, ONE task labels every node that touches a pair, with
    * no shuffle: it drops self and null pairs, deduplicates the
    * undirected edges, counts neighbors, gates cores, runs one
    * union-find over the core-core edges and attaches border points.
    * The task reads the pair rows plus the node ids that touch a pair
    * (one broadcast semi-join). Nodes without a pair never enter it and
    * take their closed form — a singleton core when `minPts` is 1, noise
    * otherwise — in one final broadcast left join, whose checkpoint is
    * the result. Larger graphs run relationally: the distinct edges
    * persist, one degree rollup gates cores, the core-core edges go
    * through [[graft.operators.Dedup.connectedComponents]] (one
    * union-find round below ~1M edges), and border points take one
    * join + min. Both shapes return the same rows and column types.
    *
    * With an approximate candidate generator the result is DBSCAN
    * over the generator's recall: a missed true pair can demote a
    * core to border/noise or split a bridge — identical to how every
    * LSH-banded dedup in this engine trades recall for the n² term. */
  def dbscanFromPairs(nodes: DataFrame, pairs: DataFrame, minPts: Int,
                      scope: CacheScope = CacheScope.unmanaged()): DataFrame =
    dbscanFromPairs(nodes, pairs, minPts, scope, Dedup.BucketEdges)

  /** [[dbscanFromPairs]] with the one-task capacity in directed edges
    * exposed, so specs can force the relational path (capacity 0). */
  private[operators] def dbscanFromPairs(nodes: DataFrame, pairs: DataFrame,
      minPts: Int, scope: CacheScope, oneTaskEdges: Long): DataFrame = {
    require(minPts >= 1, "minPts must be positive")
    // the pair table feeds the endpoint broadcast and the task (or
    // every relational step): an upstream pair join runs once
    val p2 = scope.persist(pairs)
    val nPairs = p2.count()
    val ns = nodes.select("id")
    if (OneTaskGraph.fitsOneTask(p2, ns, nPairs, oneTaskEdges)) {
      // clusters typed as the relational path's coalesce types them
      val x = col("x").cast(p2.select(least(col("i"), col("j"))).schema.head.dataType)
      val isCore = coalesce(col("deg"), lit(0L)) + 1 >= minPts
      return OneTaskGraph.inOneTask(p2, ns)(_.dbscan(minPts))
        .select(col("id"),
          when(isCore, "core").when(x.isNotNull, "border").otherwise("noise").as("role"),
          when(isCore, coalesce(x, col("id"))).otherwise(x).as("cluster"))
        .localCheckpoint()
    }
    val nbrs = scope.persist(p2
      .filter(col("i") =!= col("j"))
      .select(least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"))
      .distinct())
    val deg = nbrs.select(col("i").as("id"))
      .union(nbrs.select(col("j").as("id")))
      .groupBy("id").agg(count(lit(1)).as("nc"))
    val nd = scope.persist(ns
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("nc"), lit(0L)) + 1 >= minPts).as("is_core")))
    // distinct: a core id the node table repeats still labels once
    val coreIds = nd.filter(col("is_core")).select("id").distinct()
    val coreEdges = nbrs
      .join(coreIds.select(col("id").as("i")), "i")
      .join(coreIds.select(col("id").as("j")), "j")
      .select("i", "j")
    val cc = Dedup.connectedComponents(coreEdges) // (id, cluster_id)
    // isolated cores (no core neighbor) are singleton clusters
    val coreCl = scope.persist(coreIds
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster")))
    val adj = nbrs.select(col("i").as("x"), col("j").as("y"))
      .union(nbrs.select(col("j").as("x"), col("i").as("y")))
    val borderCl = adj
      .join(coreCl.withColumnRenamed("id", "x"), "x")
      .join(nd.filter(!col("is_core")).select(col("id").as("y")), "y")
      .groupBy(col("y").as("id")).agg(min(col("cluster")).as("bcl"))
    nd
      .join(coreCl.withColumnRenamed("cluster", "ccl"), Seq("id"), "left")
      .join(borderCl, Seq("id"), "left")
      .select(col("id"),
        when(col("is_core"), "core")
          .when(col("bcl").isNotNull, "border")
          .otherwise("noise").as("role"),
        when(col("is_core"), col("ccl")).otherwise(col("bcl")).as("cluster"))
  }

  /** Corpus-scale DBSCAN: candidate ε-neighbor pairs from the
    * SemDeDup k-means bucketing ([[kmeansCentroids]] +
    * [[assignBuckets]]) fed through [[dbscanFromPairs]]. Only
    * same-bucket pairs are scored, so the quadratic term is bounded
    * at Σ clusterᵢ² instead of n² — the exact trade
    * [[semanticDedup]] makes, with the same failure mode: a true
    * ε-pair that straddles a centroid boundary is missed, which can
    * demote density or split a cluster (recall loss, never false
    * pairs — every emitted pair is exactly verified by cosine).
    * With well-separated geometry (cluster diameter ≪ centroid
    * separation, the regime DBSCAN is used for) the bucketed result
    * matches the exact [[dbscan]] — DbscanSpec pins that agreement
    * on planted geometry. */
  def dbscanBucketed(df: DataFrame, idCol: String, vecCol: String,
                     epsCos: Double, minPts: Int, nCentroids: Int,
                     nIter: Int = 5,
                     scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    val centroids = kmeansCentroids(df, idCol, vecCol, nCentroids, nIter)
    val assigned = scope.persist(
      assignBuckets(df, idCol, vecCol, centroids)
        .withColumn("nrm", norm(col("v"))))
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        (dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= epsCos)
      .select("i", "j")
    dbscanFromPairs(assigned.select("id"), pairs, minPts, scope)
  }

  /** Per-vector int8 scalar quantization — the STORAGE-side companion
    * to PQ's search-side compression: each embedding is rescaled to
    * 256 levels over its own [min, max] range (4 bytes → 1 byte per
    * component; an 8× smaller at-rest footprint than float64 staging,
    * 4× vs float32), with the (min, scale) pair kept per vector for
    * dequantization. Everything is a per-row `Column` pipeline — no
    * shuffle, no UDF, scales with scan bandwidth — and every step is
    * elementwise IEEE double arithmetic (no aggregation-order
    * dependence), so codes are bit-identical across engines; the
    * round-trip MSE is a left-to-right fold rounded to 6dp, the same
    * discipline q_array_ops pins. Constant vectors (max == min) code
    * to all-zeros with scale 0 and exact reconstruction. */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = toDoubleVec(col(vecCol))
    val mn = array_min(v)
    val mx = array_max(v)
    val scale = (mx - mn) / lit(255.0)
    val codes = transform(v, x =>
      when(scale === 0, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L), floor((x - mn) / scale + lit(0.5)))))
        .cast("int"))
    df.select(col(idCol).as("id"), v.as("v"), mn.as("mn"), mx.as("mx"),
        scale.as("scale"), codes.as("cs"))
      .select(col("id"), size(col("v")).cast("long").as("n_dims"),
        round(col("mn"), 6).as("mn"), round(col("mx"), 6).as("mx"),
        md5(concat_ws(",", transform(col("cs"), c => c.cast("string"))))
          .as("codes_sig"),
        round(aggregate(
          zip_with(col("v"), col("cs"), (x, c) => {
            val err = x - (col("mn") + c.cast("double") * col("scale"))
            err * err
          }), lit(0.0), (acc, e) => acc + e) / size(col("v")), 6).as("mse"))
  }

  /** A reusable IVF index: the trained coarse centroids (tiny, driver
    * local) and the bucketed corpus, persisted so REPEATED query
    * batches probe the same materialized assignment instead of
    * re-scanning + re-assigning the corpus per batch. Callers own the
    * lifetime: call [[release]] when done (persisted state is never
    * leaked implicitly — one-shot [[ivfTopK]] does not persist). */
  final case class IvfIndex(centroids: DataFrame, bucketed: DataFrame) {
    def release(): Unit = { bucketed.unpersist(); () }

    /** Append vectors to the index WITHOUT retraining: assign the new
      * batch against the frozen centroids (one broadcast join over the
      * batch only) and union it into the bucketed table. This is the
      * cheap common case at corpus scale — an arriving shard costs
      * O(shard), not O(corpus) — at the price of centroids that slowly
      * drift from the true cluster structure; retrain via
      * [[buildIvfIndex]] when recall decays. The returned index owns a
      * NEW persisted table; this one is released. */
    def append(df: DataFrame, idCol: String, vecCol: String): IvfIndex = {
      val merged = bucketed
        .unionByName(assignBuckets(df, idCol, vecCol, centroids))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      merged.count() // materialize THROUGH the old cache before freeing it
      bucketed.unpersist()
      IvfIndex(centroids, merged)
    }
  }

  /** Train the quantizer and materialize the bucket assignment once.
    * The corpus-sized `bucketed` table is persisted — probe it with
    * [[probeTopK]] across many query batches, then [[release]]. */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int): IvfIndex = {
    val centroids = kmeansCentroids(df, idCol, vecCol, nCentroids)
    val bucketed = assignBuckets(df, idCol, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(centroids, bucketed)
  }

  /** Probe an IVF index (built eagerly or one-shot): each query ranks
    * the centroids, keeps its `nProbe` nearest buckets, and
    * brute-forces only those. The probe table is |queries| × nProbe
    * rows — ALWAYS broadcast. Without the hint this would be a
    * sort-merge join shuffling the whole bucketed corpus by `cid`, a
    * key with only nCentroids distinct values — a full shuffle onto
    * ≤ nCentroids partitions with guaranteed skew. Broadcasting the
    * probes keeps the corpus side shuffle-free (scan → broadcast hash
    * join → per-qid top-k). */
  def probeTopK(centroids: DataFrame, bucketed: DataFrame,
                queries: DataFrame, qidCol: String, qvecCol: String,
                k: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), toDoubleVec(col(qvecCol)).as("qv"))
    val wProbe = Window.partitionBy("qid")
      .orderBy(round(col("sim"), 6).desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qv"), col("cid"), cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qv"), col("cid"))
    val scored = bucketed.join(broadcast(probes), "cid")
      .select(col("qid"), col("id"),
        round(cosine(col("v"), col("qv")), 6).as("cosine"))
    boundedTopK(scored, k, "cosine")
  }

  /** IVF approximate top-k, one shot: train + assign + probe in a
    * single lazy plan. With nProbe == nCentroids this is exactly
    * [[bruteForceTopK]]. The coarse quantizer is trained
    * ([[kmeansCentroids]]), so buckets track the data's cluster
    * structure and partial probes keep their recall on real
    * (clustered) embeddings. The bucketed corpus appears ONCE in this
    * plan, so nothing is persisted (and nothing can leak); for
    * repeated query batches over one corpus use [[buildIvfIndex]] +
    * [[probeTopK]], which persist the assignment behind an explicit
    * release. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nCentroids: Int, nProbe: Int): DataFrame = {
    val centroids = kmeansCentroids(df, idCol, vecCol, nCentroids)
    ivfTopKWith(df, idCol, vecCol, queries, qidCol, qvecCol,
      k, nProbe, centroids)
  }

  /** [[ivfTopK]] served from a PRE-TRAINED coarse quantizer — train
    * once (or load the stored centroid table), amortize across query
    * batches; identical output to the training overload given the
    * centroids it would have trained. */
  def ivfTopKWith(df: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qidCol: String, qvecCol: String,
                  k: Int, nProbe: Int, centroids: DataFrame): DataFrame = {
    val bucketed = assignBuckets(df, idCol, vecCol, centroids)
    probeTopK(centroids, bucketed, queries, qidCol, qvecCol, k, nProbe)
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ): the MEMORY-side scale path. IVF cuts
  // how much of the corpus a query scans; PQ cuts how many bytes each
  // stored vector occupies — nSub codes of log2(nCodes) bits replace
  // dim doubles (64 doubles -> 4 bytes here), so a 100 TB embedding
  // column's searchable form fits a cluster's RAM. Asymmetric distance
  // (ADC) scores quantized vectors against EXACT query slices.
  // ---------------------------------------------------------------

  /** Split a unit vector into nSub contiguous subvectors: one row per
    * (id, m, um). */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
                         nSub: Int, subDim: Int): DataFrame =
    df.select(col(idCol).as("id"), unitVector(col(vecCol)).as("u"))
      .select(col("id"), explode(array((0 until nSub).map(m =>
        struct(lit(m).as("m"),
          slice(col("u"), m * subDim + 1, subDim).as("um"))): _*)).as("s"))
      .select(col("id"), col("s.m").as("m"), col("s.um").as("um"))

  /** Nearest code per (vector, subspace) against a (m, cid, cv)
    * codebook table: squared-L2 argmin as a partial-aggregated
    * struct-max (the [[assignBuckets]] shape — the shuffle carries one
    * row per (id, m), not nCodes rows). Distances round to 9, ties go
    * to the smallest cid; the expression is written exactly as the
    * DuckDB oracle spells it so the doubles agree bit-for-bit. */
  private def nearestCode(sub: DataFrame, codebooks: DataFrame): DataFrame =
    sub.join(broadcast(codebooks), "m")
      .select(col("id"), col("m"), col("um"),
        struct((-round(dot(col("um"), col("um")) - lit(2) * dot(col("um"), col("cv"))
          + dot(col("cv"), col("cv")), 9)).as("nd"),
          (-col("cid")).as("nc")).as("sc"))
      .groupBy("id", "m")
      .agg(max(col("sc")).as("best"), first(col("um")).as("um"))
      .select(col("id"), col("m"), (-col("best.nc")).as("code"), col("um"))

  /** Train one L2 Lloyd codebook per subspace — every subspace in the
    * SAME job each round (the per-round plan is one broadcast join +
    * two partial-agg shuffles for all nSub codebooks together, and it
    * is identical across rounds so codegen compiles once). Seeds are
    * the nCodes smallest-salted-hash vectors, sliced per subspace
    * (the [[kmeansCentroids]] init). Component means round to 1e-6
    * (order-independent), empty codes keep their previous centroid,
    * training stops at the rounded fixpoint — all exactly the
    * spherical trainer's discipline, minus the normalization (PQ
    * reconstructs magnitudes, so subvectors must NOT be re-scaled).
    * Returns (m, cid, cv). */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  nSub: Int, nCodes: Int, nIter: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    require(dim % nSub == 0, s"dim $dim must divide into $nSub subspaces")
    val subDim = dim / nSub
    val sub = Widen.toParallelism(subVectors(df, idCol, vecCol, nSub, subDim))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    import spark.implicits._
    val seeds: Array[Array[Double]] = df
      .select(col(idCol).as("id"), unitVector(col(vecCol)).as("u"))
      .orderBy(graft.functions.Hashing.hash60(col("id").cast("string")), col("id"))
      .limit(nCodes)
      .select(col("u")).collect()
      .map(_.getSeq[Double](0).toArray)
    // state[m][cid][d]
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(nSub)(m => seeds.map(_.slice(m * subDim, (m + 1) * subDim)))
    var iter = 0
    var converged = false
    var prev: Array[Array[Array[Double]]] = null
    while (iter < nIter && !converged) {
      val cDf = books.zipWithIndex.flatMap { case (book, m) =>
        book.zipWithIndex.map { case (c, cid) => (m, cid, c.toSeq) }
      }.toSeq.toDF("m", "cid", "cv")
      val cells = nearestCode(sub, cDf)
        .select(col("m"), col("code").as("cid"), posexplode(col("um")).as(Seq("d", "x")))
        .groupBy("m", "cid", "d")
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byKey = cells.groupBy(r => (r.getAs[Int]("m"), r.getAs[Int]("cid")))
      val updated = Array.tabulate(nSub) { m =>
        books(m).indices.map { cid =>
          byKey.get((m, cid)) match {
            case Some(rows) =>
              val out = books(m)(cid).clone()
              rows.foreach { r =>
                val d = r.getAs[Int]("d")
                val mean = r.getAs[Double]("sx") / r.getAs[Long]("n")
                out(d) = math.rint(mean * 1e6) / 1e6
              }
              out
            case None => books(m)(cid) // empty code: keep previous
          }
        }.toArray
      }
      converged = prev != null && updated.indices.forall(m =>
        updated(m).indices.forall(c =>
          java.util.Arrays.equals(updated(m)(c), prev(m)(c))))
      prev = updated
      books = updated
      iter += 1
    }
    books.zipWithIndex.flatMap { case (book, m) =>
      book.zipWithIndex.map { case (c, cid) => (m, cid, c.toSeq) }
    }.toSeq.toDF("m", "cid", "cv")
    } finally sub.unpersist()
  }

  /** PQ-encode the corpus against trained codebooks: one row per
    * (id, m) carrying the chosen code — nSub small ints per vector,
    * the compressed representation ADC scores against. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, nSub: Int, subDim: Int): DataFrame =
    nearestCode(subVectors(df, idCol, vecCol, nSub, subDim), codebooks)
      .select(col("id"), col("m"), col("code"))

  /** PQ approximate top-k by asymmetric distance: queries stay EXACT,
    * the corpus is its codes. Per query the (m, cid) inner-product
    * lookup table is |queries| × nSub × nCodes rows — always tiny,
    * always broadcast — so scoring is codes ⋈ broadcast(LUT) + one
    * partial-agg sum per (qid, id): the corpus is never cross-joined
    * against queries at full dimensionality, and the shuffled rows
    * carry a single double each. Scores: per-subspace IPs round to 9,
    * their sum to 6; rank ties break on id.
    *
    * `rerank = 0` returns pure ADC ranks. At aggressive compression
    * ADC retrieves the right REGION but collapses within-region order
    * (identically-coded vectors tie), so production retrieval reranks:
    * `rerank = R` keeps the top-R ADC candidates per query and
    * re-scores ONLY those against the original vectors by exact cosine
    * — the candidate set is |queries| × R rows, broadcast, so the
    * rerank is a broadcast hash join fetching R vectors per query,
    * never a second corpus scan. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qidCol: String, qvecCol: String,
             k: Int, nSub: Int, nCodes: Int, nIter: Int = 3,
             rerank: Int = 0): DataFrame = {
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    require(dim % nSub == 0, s"dim $dim must divide into $nSub subspaces")
    val subDim = dim / nSub
    val codebooks = pqCodebooks(df, idCol, vecCol, nSub, nCodes, nIter)
    val codes = pqEncode(df, idCol, vecCol, codebooks, nSub, subDim)
    val qsub = subVectors(queries, qidCol, qvecCol, nSub, subDim)
      .withColumnRenamed("id", "qid")
    val lut = qsub.join(broadcast(codebooks), "m")
      .select(col("qid"), col("m"), col("cid"),
        round(dot(col("um"), col("cv")), 9).as("ip"))
    val adcScored = codes.join(broadcast(lut),
        codes("m") === lut("m") && codes("code") === lut("cid"))
      .groupBy(col("qid"), col("id"))
      .agg(round(sum(col("ip")), 6).as("score"))
    if (rerank <= 0) boundedTopK(adcScored, k, "score")
    else {
      val cand = boundedTopK(adcScored, rerank, "score").select("qid", "id")
      val q = queries.select(col(qidCol).as("qid"), toDoubleVec(col(qvecCol)).as("qv"))
      val v = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      val rescored = v.join(broadcast(cand), "id")
        .join(broadcast(q), "qid")
        .select(col("qid"), col("id"),
          round(cosine(col("v"), col("qv")), 6).as("score"))
      boundedTopK(rescored, k, "score")
    }
  }

  /** IVF-PQ composed top-k — the standard large-scale ANN shape
    * (FAISS's IndexIVFPQ): the trained IVF coarse quantizer routes
    * each query to its `nProbe` nearest CELLS, and PQ asymmetric
    * distance scores ONLY the codes inside those cells. IVF cuts how
    * much of the corpus a query touches (nProbe/nCentroids of it); PQ
    * cuts what each touched vector costs (nSub small codes instead of
    * dim doubles) — composed, a query scans a fraction of the corpus
    * at ~16× less data per vector.
    *
    * Plan shape: both trainers are the existing deterministic Lloyd
    * loops ([[kmeansCentroids]], [[pqCodebooks]]); the cell-of-id
    * attachment is ONE corpus equi-join (at index-build time — amortize
    * it across query batches by persisting, exactly as [[IvfIndex]]
    * does for plain IVF); query-side probes and the per-query
    * (m, code) → inner-product LUT are tiny and always broadcast, so
    * scoring is codes ⋈ broadcast(probes) ⋈ broadcast(LUT) + one
    * partial-agg sum per (qid, id) — the corpus never shuffles for a
    * query, and rows outside the probed cells never leave the scan.
    * `rerank = R` re-scores the top-R ADC candidates per query by
    * exact cosine (broadcast candidate fetch, never a second corpus
    * scan), restoring within-cell order at aggressive compression. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String,
                k: Int, nCentroids: Int, nProbe: Int,
                nSub: Int, nCodes: Int,
                nIterIvf: Int = 5, nIterPq: Int = 3,
                rerank: Int = 0): DataFrame = {
    val centroids = kmeansCentroids(df, idCol, vecCol, nCentroids, nIterIvf)
    val codebooks = pqCodebooks(df, idCol, vecCol, nSub, nCodes, nIterPq)
    ivfPqTopKWith(df, idCol, vecCol, queries, qidCol, qvecCol,
      k, nProbe, centroids, codebooks, nSub, rerank)
  }

  /** [[ivfPqTopK]] served from PRE-TRAINED models — the production
    * shape: centroids and codebooks are trained once (or loaded from
    * a stored model table) and amortized across query batches; this
    * entry point runs only the serve path (bucket attach, encode,
    * probe, ADC, rerank). Output is identical to the training
    * overload given the models it would have trained. */
  def ivfPqTopKWith(df: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String,
                    k: Int, nProbe: Int,
                    centroids: DataFrame, codebooks: DataFrame,
                    nSub: Int, rerank: Int = 0): DataFrame = {
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    require(dim % nSub == 0, s"dim $dim must divide into $nSub subspaces")
    val subDim = dim / nSub
    val bucketed = assignBuckets(df, idCol, vecCol, centroids)
    val codes = pqEncode(df, idCol, vecCol, codebooks, nSub, subDim)
    // probe selection: verbatim the [[probeTopK]] ranking (round-6
    // cosine desc, cid asc) so IVF and IVF-PQ probe identical cells
    val q = queries.select(col(qidCol).as("qid"), toDoubleVec(col(qvecCol)).as("qv"))
    val wProbe = Window.partitionBy("qid")
      .orderBy(round(col("sim"), 6).desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("cid"), cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cid"))
    val qsub = subVectors(queries, qidCol, qvecCol, nSub, subDim)
      .withColumnRenamed("id", "qid")
    val lut = qsub.join(broadcast(codebooks), "m")
      .select(col("qid"), col("m"), col("cid"),
        round(dot(col("um"), col("cv")), 9).as("ip"))
    // restrict ADC to the probed cells: cell-of-id ⋈ broadcast probes
    // keeps only (query, id) pairs whose cell the query probes
    val withCell = codes.join(bucketed.select(col("id"), col("cid")), "id")
      .join(broadcast(probes), "cid")
    val adcScored = withCell.join(broadcast(lut),
        withCell("qid") === lut("qid") && withCell("m") === lut("m") &&
          withCell("code") === lut("cid"))
      .groupBy(withCell("qid"), col("id"))
      .agg(round(sum(col("ip")), 6).as("score"))
    if (rerank <= 0) boundedTopK(adcScored, k, "score")
    else {
      val cand = boundedTopK(adcScored, rerank, "score").select("qid", "id")
      val v = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      val rescored = v.join(broadcast(cand), "id")
        .join(broadcast(q), "qid")
        .select(col("qid"), col("id"),
          round(cosine(col("v"), col("qv")), 6).as("score"))
      boundedTopK(rescored, k, "score")
    }
  }

  /** Per-group embedding outliers (curation: drop the vectors that
    * least belong to their label/domain): compute each group's
    * centroid, score every vector by cosine to its group centroid,
    * and emit the `k` lowest-cosine vectors per group.
    *
    * Centroids are order-deterministic: each component is rounded to
    * integer MICROS before the per-(group, dim) sum, so the mean comes
    * from an exact integer sum — the same trick as the bigram LM score,
    * and what makes this hash-match a SQL oracle despite float inputs.
    * Scale shape: one posexplode → partial-agg (group, dim) sums
    * (bounded by #groups × dim), centroids rebuilt per group and
    * broadcast back; ranking shuffles one row per vector. */
  def groupOutliers(df: DataFrame, idCol: String, vecCol: String,
                    groupCol: String, k: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      toDoubleVec(col(vecCol)).as("v"))
    val comp = base
      .select(col("grp"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("grp"), col("pos"),
        floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("m"))
      .groupBy("grp", "pos")
      .agg(sum(col("m")).as("sm"), count(lit(1)).as("cnt"))
      .select(col("grp"), col("pos"),
        (floor(col("sm") / col("cnt") + lit(0.5)) / lit(1e6)).as("c"))
    val centroids = comp.groupBy("grp")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
    val w = Window.partitionBy("grp")
      .orderBy(col("cosine").asc, col("id").asc)
    base.join(broadcast(centroids), "grp")
      .select(col("id"), col("grp"),
        round(cosine(col("v"), col("cv")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Per-vector label agreement with its k nearest neighbors INSIDE
    * its coarse cluster — the mislabeled-sample detector (the kNN
    * noise filter of Wilson 1972, bucketed): a vector whose
    * neighborhood votes against its own label is a labeling error,
    * an ambiguous example, or a contaminated class — exactly what a
    * curator pulls before training on weak labels.
    *
    * Bucketing makes it scale-shaped: the pair join is within-cluster
    * only (Σ cluster² work, the [[dbscanBucketed]] bound — never the
    * corpus all-pairs), neighbors rank by round(cosine, 6) with id
    * tie-break, and everything after the top-k prune is exact longs:
    * `agree_micros = n_agree·10^6 div k_actual` where `k_actual =
    * min(k, |cluster|−1)`. Cluster singletons have no neighbors and
    * are DROPPED (no row — a 0-vote "disagreement" would slander
    * them); callers needing them back can left-join the source.
    *
    * Output: (id, label, cid, k_actual, n_agree, agree_micros). */
  def labelAgreement(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, centroids: DataFrame,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val assigned = assignBuckets(df, idCol, vecCol, centroids)
      .join(df.select(col(idCol).as("id"), col(labelCol).as("label")), "id")
    val a = assigned.select(col("cid"), col("id"), col("v"), col("label"))
    val b = assigned.select(col("cid"), col("id").as("nid"),
      col("v").as("nv"), col("label").as("nlabel"))
    val w = Window.partitionBy("id")
      .orderBy(col("c").desc, col("nid").asc)
    a.join(b, "cid")
      .where(col("id") =!= col("nid"))
      .select(col("id"), col("label"), col("cid"), col("nid"),
        col("nlabel"), round(cosine(col("v"), col("nv")), 6).as("c"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .groupBy("id", "label", "cid")
      .agg(count(lit(1)).as("k_actual"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("id"), col("label"), col("cid"), col("k_actual"),
        col("n_agree"),
        expr("(n_agree * 1000000L) div k_actual").as("agree_micros"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) of per-query candidate lists: greedily selects k
    * results maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — the
    * diversity-aware final stage of retrieval, where a plain top-k
    * over a deduplicated-but-still-clustered corpus returns k copies
    * of one neighborhood and MMR returns the neighborhoods.
    *
    * `cands` is any (qid, id, cosine) candidate table — brute-force
    * or IVF top-N output plugs in directly. Scale shape: candidates
    * are already N-bounded per query, so every one of the k unrolled
    * rounds is (a) one qid-keyed struct-argmax partial agg to pick
    * each query's next selection and (b) one qid-keyed join to update
    * the running max-similarity — work per round is O(queries × N)
    * rows regardless of corpus size, and ALL queries advance in the
    * same round (the driver loop is k iterations, not queries × k).
    * Candidate vectors ride the pool rows so no round re-joins the
    * corpus table.
    *
    * Variant note: the redundancy penalty is CLAMPED at zero
    * (maxsim starts at 0 and only grows), i.e. `max(0, max_{s∈S}
    * sim)` — anti-correlation with an already-selected result is
    * "unrelated", not a relevance bonus. Round 1 therefore selects
    * pure argmax-relevance, the conventional MMR start.
    *
    * Determinism: rel and pairwise sims are round(cosine, 6) lifted
    * to exact micros longs; the selection score
    * `score = λµ·rel_µ − (10^6 − λµ)·maxsim_µ` stays a raw long
    * product-sum (NO division — Spark `div` truncates toward zero
    * while DuckDB `//` floors, and scores go negative, so the replay
    * avoids the one operator the engines disagree on); ties break on
    * smaller id via struct-max over (score, −id).
    *
    * Lineage discipline: every round's pool references the previous
    * pool TWICE (through the round's selection and through the
    * update join), so without truncation the logical plan — and the
    * candidate-generation subtree inside it — doubles per round
    * (2^k copies of a brute-force scan by round k: measured as a
    * driver OOM at the 10× tier). Each round therefore ends in an
    * EAGER localCheckpoint with the superseded pool freed — the
    * pagerank/BPE discipline; checkpointed state is queries × N
    * rows, reclaimed as rounds supersede.
    *
    * Output: (qid, rank, id, rel_micros, maxsim_micros, score) with
    * rank 1..k in selection order. */
  def mmrRerank(cands: DataFrame, vecs: DataFrame, idCol: String,
                vecCol: String, k: Int, lambdaMicros: Long): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(lambdaMicros > 0L && lambdaMicros <= 1000000L,
      s"lambdaMicros out of (0, 10^6]: $lambdaMicros")
    val lm = lit(lambdaMicros)
    val om = lit(1000000L - lambdaMicros)
    val v = vecs.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    var pool = cands
      .select(col("qid"), col("id"),
        floor(col("cosine") * lit(1e6) + lit(0.5)).cast("long").as("rel"))
      .join(v, "id")
      .select(col("qid"), col("id"), col("rel"), col("v"),
        lit(0L).as("maxsim"))
      .localCheckpoint() // eager: cuts the candidate-gen lineage now
    var selected: DataFrame = null
    var t = 1
    while (t <= k) {
      // struct-max on (score, -id) = highest score, smallest id on tie
      val sel = pool
        .select(col("qid"), struct(
          (lm * col("rel") - om * col("maxsim")).as("score"),
          (-col("id")).as("nid"), col("rel").as("rel"),
          col("maxsim").as("maxsim"), col("v").as("v")).as("c"))
        .groupBy("qid").agg(max(col("c")).as("c"))
        .select(col("qid"), lit(t.toLong).as("rank"),
          (-col("c.nid")).as("id"), col("c.rel").as("rel_micros"),
          col("c.maxsim").as("maxsim_micros"), col("c.score").as("score"),
          col("c.v").as("sv"))
        .localCheckpoint() // tiny (one row per qid); read again below
      val out = sel.drop("sv")
      selected = if (selected == null) out else selected.unionAll(out)
      if (t < k) {
        val next = pool
          .join(sel.select(col("qid"), col("id").as("__sid"), col("sv")), "qid")
          .where(col("id") =!= col("__sid"))
          .select(col("qid"), col("id"), col("rel"), col("v"),
            greatest(col("maxsim"),
              floor(round(cosine(col("v"), col("sv")), 6) * lit(1e6)
                + lit(0.5)).cast("long")).as("maxsim"))
          .localCheckpoint()
        org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint(pool)
        pool = next
      } else {
        org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint(pool)
      }
      t += 1
    }
    selected
  }
}
