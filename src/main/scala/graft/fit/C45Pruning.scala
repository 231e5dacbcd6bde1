package graft.fit

import graft.model.Rule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pessimistic error pruning for a fitted [[C45Model]] — the part of
  * canonical C4.5 the reference omits entirely (SURVEY.md §0: "no
  * pruning"). Bottom-up subtree replacement: an internal node collapses
  * to a majority leaf when its pessimistic error as a leaf is no worse
  * than the sum of its children's pessimistic subtree errors.
  *
  * The pessimistic bound is the Wilson upper confidence limit on the
  * leaf's error rate at confidence z (default z = 0.6745, the normal
  * deviate for C4.5's CF = 0.25) — a published, closed-form stand-in
  * for C4.5's inverse-beta bound with the same monotonicity: small
  * leaves are penalized hardest, which is exactly what makes noise
  * splits collapse while real structure survives.
  *
  * Scale shape: AT MOST one Spark job. Pruning against the TRAINING
  * distribution ([[pruneTraining]], canonical C4.5) needs ZERO jobs —
  * the fit already recorded every leaf's exact class distribution as
  * it closed (`C45Model.leafDist`), so re-routing the corpus to
  * rebuild those counts would be a redundant full scan. Pruning
  * against held-out data ([[prune]]) routes rows to their leaf in ONE
  * job and aggregates to per-(leaf, class) counts, O(#leaves ×
  * #classes) rows to the driver — through the flat disjoint-predicate
  * CASE WHEN while the model is narrow, and through the same tree-walk
  * expression transform uses past [[C45Model.FlatMaxLeaves]] leaves (a
  * thousands-of-leaves CASE WHEN blows whole-stage-codegen limits).
  * Subtree raising runs only up to that width (see [[prune]]).
  * The pruning pass itself is a driver-side fold over the
  * leaf trie: O(model), no further jobs, deterministic (ties
  * collapse, and majority ties pick the lexicographically smallest
  * label). */
object C45Pruning {

  /** Normal deviate for C4.5's default CF = 0.25. */
  val DefaultZ = 0.6744897501960817

  /** The z for an arbitrary C4.5 confidence factor: the (1-CF)
    * standard-normal quantile (CF 0.25 → 0.6745; smaller CF → larger z
    * → harder pruning). The C4.5 default short-circuits to the exact
    * [[DefaultZ]] constant so CF-parameterized callers (the spark.ml
    * wrapper) are bit-identical to engine-default callers; other CFs
    * use Acklam's published rational approximation to the inverse
    * normal CDF (|relative error| < 1.15e-9 — far inside the pruning
    * comparison's 1e-9 tie tolerance at any realistic n). */
  def zForCF(cf: Double): Double = {
    require(cf > 0.0 && cf < 0.5, s"CF must be in (0, 0.5): $cf")
    if (cf == 0.25) DefaultZ else inverseNormalCdf(1.0 - cf)
  }

  /** Acklam's inverse standard-normal CDF (lower-tail quantile),
    * restricted to the central/upper regions `zForCF` reaches
    * (p ∈ (0.5, 1)). Coefficients are the published constants. */
  private def inverseNormalCdf(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pHigh = 1 - 0.02425
    if (p <= pHigh) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** Wilson upper confidence bound on an error RATE: observed `errors`
    * in `n` trials. n = 0 is defined as 0 (an empty leaf costs
    * nothing; it can only appear through degenerate inputs). */
  def upperErrorRate(errors: Double, n: Double, z: Double = DefaultZ): Double =
    if (n <= 0) 0.0
    else {
      val f = errors / n
      val z2 = z * z
      math.min(1.0,
        (f + z2 / (2 * n) + z * math.sqrt(f * (1 - f) / n + z2 / (4 * n * n))) /
          (1 + z2 / n))
    }

  private case class Pruned(leaves: Vector[Rule], err: Double,
                            counts: Map[String, Long],
                            dists: Vector[Map[String, Long]],
                            origIdx: Vector[Vector[Int]],
                            raisedInside: Boolean)

  /** One subtree-RAISING candidate: at the internal node `prefix`
    * (split at index `depth`), the largest-mass child's edge `branch`;
    * `otherIdx` are the original leaf indices under the node's OTHER
    * children (the rows raising must re-route), `targetIdx` the
    * original leaves under `branch` (where they land). */
  private[fit] case class RaiseCand(id: Int, prefix: Vector[(Int, graft.model.Split)],
                               depth: Int, branch: (Int, graft.model.Split),
                               otherIdx: Vector[Int], targetIdx: Vector[Int])

  /** Per-candidate re-routed class counts from [[raiseScan]]:
    * candidate id → (original target leaf index, or -1 for rows the
    * raised splits cannot route) → class → row count. */
  private type RaiseCounts = Map[Int, Map[Int, Map[String, Long]]]

  /** Prune `model` against data `df` (training or held-out). Returns a
    * model whose leaves are a subset-or-collapse of the input's: every
    * pruned leaf predicate is a prefix of one or more original leaf
    * predicates, so the leaves still partition the space.
    *
    * With `raising = true`, each internal node additionally considers
    * C4.5's SECOND pruning operator — replacing itself with its
    * largest child's subtree (Quinlan 1993 §5.2: grafting the largest
    * branch in place of the node). The other branches' rows are
    * re-routed through the raised subtree by their actual attribute
    * values (ONE extra Spark job for ALL candidates: the node's
    * non-largest-branch rows × the raised subtree's leaf predicates,
    * aggregated to per-(candidate, target-leaf, class) counts — still
    * O(model) rows to the driver; which child is "largest" comes from
    * the counts job, so the two jobs are inherently ordered — scoring
    * every branch in one fused job was measured SLOWER, see
    * OPTIMIZATION_r21.md, and [[pruneTrainingRaising]] is the one-job
    * path when the counts are already recorded). Raised leaves are
    * re-labeled from their merged distributions, and the decision
    * compares leaf / raised / kept errors under the same Wilson bound
    * with C4.5's preference order (leaf ≤ raise ≤ keep on ties).
    * Exactness rule:
    * a node considers raising only if no raise already fired INSIDE
    * its largest child (replacements below are fine — their counts
    * merge by prefix; a nested raise would invalidate the precomputed
    * original-geometry routing), so every accepted raise is scored on
    * exact re-routed counts. One corner IS an approximation (r20
    * ADVICE): rows the raised subtree cannot route (null or unseen
    * split values) are scored as one implicit leaf labeled by their
    * OWN majority, while at serving such rows fall to the model
    * majority (or into a covering collapsed prefix leaf) — an accepted
    * raise's scored error can diverge from true serving error on
    * exactly that unroutable slice; everywhere else the counts are
    * exact.
    *
    * When `df` IS the training data and the model came straight from
    * the fit, prefer [[pruneTraining]] for replacement-only pruning —
    * identical result, zero jobs (raising always needs the data: the
    * re-route depends on attribute values the fit's per-leaf
    * distributions no longer carry). */
  def prune(model: C45Model, df: DataFrame, z: Double = DefaultZ,
            raising: Boolean = false): C45Model =
    pruneVia(model, df, z, raising, walk = model.leaves.size > C45Model.FlatMaxLeaves)

  /** [[prune]] with its counts scan forced through the tree walk
    * (`walk`) or the flat CASE WHEN: specs compare the two. */
  private[fit] def pruneVia(model: C45Model, df: DataFrame, z: Double,
                            raising: Boolean, walk: Boolean): C45Model = {
    if (model.leaves.isEmpty) return model
    require(!model.overlapping,
      "pruning is subtree replacement over a tree-form leaf partition; " +
        "generalized (C45RuleSimplify) rule sets overlap and cannot be " +
        "subtree-pruned — simplify already minimizes each rule")
    val counts = scanCounts(model, df, walk)
    val raise =
      if (!raising || !raisable(model)) None
      else {
        val cands = selectLargest(raiseCandidatesAll(model.leaves), counts)
        if (cands.isEmpty) None
        else Some((cands.map(c => c.prefix -> c).toMap,
          raiseScan(model, df, cands, unit = 1.0)))
      }
    pruneFromCounts(model, counts, z, unit = 1.0, raise)
  }

  /** Raising-enabled pruning of a model against its OWN training data
    * in ONE Spark job instead of [[prune]]'s two. The base (leaf,
    * class) counts — which also pick each node's largest child — come
    * from the exact per-leaf distributions the fit recorded as leaves
    * closed (`C45Model.leafDist`, long micros; the same source
    * [[pruneTraining]] uses, pinned ≡ scan counts on a null-free
    * corpus by PruningSpec), so the counts scan is free and only the
    * raise re-route job touches the corpus. Raise counts collect in
    * row units and convert to exact micros (×10⁶, exact long
    * arithmetic), so every Wilson-bound double below is bit-identical
    * to `prune(model, df, raising = true)`: n = Σmicros/1e6 recovers
    * the integer row count exactly (both factors and the true quotient
    * are representable). `df` must be the frame the model was fitted
    * on; wide models (past [[C45Model.FlatMaxLeaves]]) fall back to
    * replacement-only [[pruneTraining]], mirroring [[prune]]'s raising
    * gate. */
  def pruneTrainingRaising(model: C45Model, df: DataFrame,
                           z: Double = DefaultZ): C45Model = {
    if (model.leaves.isEmpty) return model
    require(!model.overlapping,
      "pruning is subtree replacement over a tree-form leaf partition; " +
        "generalized (C45RuleSimplify) rule sets overlap and cannot be " +
        "subtree-pruned — simplify already minimizes each rule")
    require(model.leafDist.size == model.leaves.size,
      "pruneTrainingRaising needs per-leaf class distributions: fit/prune/" +
        "C45Model.load produce them (loadRules text-only loads do not)")
    if (!raisable(model)) return pruneTraining(model, z)
    val counts = model.leafDist.zipWithIndex
      .collect { case (d, i) if d.nonEmpty => i -> d }.toMap
    val raise = {
      val cands = selectLargest(raiseCandidatesAll(model.leaves), counts)
      if (cands.isEmpty) None
      else Some((cands.map(c => c.prefix -> c).toMap,
        raiseScan(model, df, cands, unit = 1e6)))
    }
    pruneFromCounts(model, counts, z, unit = 1e6, raise)
  }

  /** Prune `model` against its own TRAINING distribution without
    * touching the data: reuses the exact per-leaf class distributions
    * the fit recorded as leaves closed (`C45Model.leafDist`, long
    * micros). On a null-free corpus this is bit-identical to
    * `prune(model, trainingDf)` for 10⁶× cheaper; under fractional
    * missing-mode it is strictly MORE faithful — the recorded micros
    * carry the fractional membership of null-bearing rows that the
    * scan path's leaf predicates route nowhere (Quinlan's C4.5 prunes
    * on those fractional weights). Any model carrying per-leaf
    * distributions qualifies: fit-produced, already-pruned (the prune
    * keeps the merged distributions), or loaded through
    * [[C45Model.load]]'s distribution sidecar — only rule-text-only
    * loads ([[C45Model.loadRules]]) lack them. Generalized
    * ([[C45RuleSimplify]]) rule sets carry distributions but overlap,
    * so subtree replacement is undefined on them — rejected with a
    * clear message, as in [[prune]]. */
  def pruneTraining(model: C45Model, z: Double = DefaultZ): C45Model = {
    if (model.leaves.isEmpty) return model
    require(!model.overlapping,
      "pruning is subtree replacement over a tree-form leaf partition; " +
        "generalized (C45RuleSimplify) rule sets overlap and cannot be " +
        "subtree-pruned — simplify already minimizes each rule")
    require(model.leafDist.size == model.leaves.size,
      "pruneTraining needs per-leaf class distributions: fit/prune/" +
        "C45Model.load produce them (loadRules text-only loads do not)")
    val counts = model.leafDist.zipWithIndex
      .collect { case (d, i) if d.nonEmpty => i -> d }.toMap
    pruneFromCounts(model, counts, z, unit = 1e6, raise = None)
  }

  /** Enumerate every STRUCTURAL raise candidate: each internal node of
    * the leaf trie with ≥ 2 children × each of its child branches. The
    * data decides which branch is largest only AFTER the scan, so
    * enumerating all branches up front is what lets the re-route job
    * fuse with the base-count job ([[fusedScan]]). Pure driver-side
    * recursion over the leaf set, O(edges) candidates. */
  private[fit] def raiseCandidatesAll(leaves: Vector[Rule])
      : Vector[RaiseCand] = {
    val out = Vector.newBuilder[RaiseCand]
    var nextId = 0
    def walk(group: Vector[(Rule, Int)], depth: Int,
             prefix: Vector[(Int, graft.model.Split)]): Unit = {
      if (group.length == 1 && group.head._1.depth == depth) return
      val children = group.groupBy(_._1.conditions(depth)).toSeq
        .sortBy(_._1.toString)
      if (children.size >= 2) {
        children.foreach { case (branch, under) =>
          out += RaiseCand(nextId, prefix, depth, branch,
            group.collect { case (r, i) if r.conditions(depth) != branch => i },
            under.map(_._2).toVector)
          nextId += 1
        }
      }
      children.foreach { case (c, g) => walk(g, depth + 1, prefix :+ c) }
    }
    walk(leaves.zipWithIndex, 0, Vector.empty)
    out.result()
  }

  /** The branch C4.5 raises at each node: largest scanned mass, ties →
    * smallest branch-condition string — the identical selection the
    * former two-job path made from its separate counts pass (mass of a
    * branch = Σ of its leaves' scanned class counts). */
  private[fit] def selectLargest(cands: Vector[RaiseCand],
                                 counts: Map[Int, Map[String, Long]])
      : Vector[RaiseCand] = {
    def mass(idx: Vector[Int]): Long =
      idx.map(i => counts.getOrElse(i, Map.empty).values.sum).sum
    cands.groupBy(_.prefix).valuesIterator
      .map(_.minBy(c => (-mass(c.targetIdx), c.branch.toString)))
      .toVector
  }

  /** ONE job scoring every raise candidate: each row that routed to a
    * non-largest branch of a candidate node is re-routed through the
    * raised subtree's BELOW-conditions (the original leaf conjunctions
    * minus the branch edge — still a disjoint tree partition of the
    * node's region), then everything aggregates to per-(candidate,
    * target original leaf, class) counts. Rows no below-conjunction
    * accepts (null / unseen split values) count under target -1. The
    * per-row work is |candidates| flat codegen'd CASE WHEN columns +
    * one posexplode; output is O(candidates × leaves × classes).
    * Counts return in the caller's `unit` (×unit, exact long
    * arithmetic) so they merge with the caller's base counts. */
  private def raiseScan(model: C45Model, df: DataFrame,
                        cands: Vector[RaiseCand], unit: Double): RaiseCounts = {
    val names = model.schema.attrNames
    val leaves = model.leaves
    val toUnit = math.round(unit)
    // the per-candidate re-route through the raised subtree's
    // BELOW-conditions (the original leaf conjunctions minus the
    // branch edge — still a disjoint tree partition of the node's
    // region); -1 = no below-conjunction accepts (null/unseen values)
    def routedFor(c: RaiseCand): org.apache.spark.sql.Column =
      c.targetIdx.foldLeft(lit(-1)) { (acc, j) =>
        val below = leaves(j).conditions.drop(c.depth + 1)
        if (below.isEmpty) lit(j) // raised subtree is a single leaf
        else when(below.map { case (aid, sp) =>
          sp.toPredicate(col(names(aid)))
        }.reduce(_ && _), lit(j)).otherwise(acc)
      }
    // candidates keyed by the leaves whose rows they re-route: a row
    // evaluates ONLY its own leaf's affecting candidates (at most one
    // per ancestor node, ≤ depth of them) instead of |cands| guarded
    // columns — the per-row cost drops from O(cands × subtree) to
    // O(depth × subtree) and the explode emits ≤ depth entries per
    // row instead of |cands| mostly-null slots. Same (cand, target,
    // class) count set bit-for-bit: a candidate used to contribute
    // exactly when __rid ∈ otherIdx, which is exactly the arms the
    // row's rid now carries.
    val armsByRid: Seq[(Int, org.apache.spark.sql.Column)] =
      leaves.indices.flatMap { i =>
        val cis = cands.indices.filter(ci => cands(ci).otherIdx.contains(i))
        if (cis.isEmpty) None
        else Some(i -> array(cis.map(ci =>
          struct(lit(ci).as("__cand"),
            routedFor(cands(ci)).as("__tgt"))): _*))
      }
    if (armsByRid.isEmpty) return Map.empty
    val armCol = armsByRid.tail.foldLeft(
      when(col("__rid") === armsByRid.head._1, armsByRid.head._2)) {
      case (acc, (rid, a)) => acc.when(col("__rid") === rid, a)
    } // rids no candidate touches fall to null → explode emits nothing
    val rows = LevelLoop.described(df.sparkSession.sparkContext,
        s"graft.prune raise scan (${cands.size} candidates)") {
      df.withColumn("__rid", C45.flatRidColumn(leaves, names))
        .filter(col("__rid") >= 0 && col(model.schema.classCol).isNotNull)
        .select(col(model.schema.classCol).cast("string").as("cls"),
          explode(armCol).as("__ct"))
        .select(col("__ct.__cand").as("__cand"),
          col("__ct.__tgt").as("__tgt"), col("cls"))
        .groupBy("__cand", "__tgt", "cls")
        .agg(count(lit(1)).as("n"))
        .collect()
    }
    rows.groupBy(r => cands(r.getInt(0)).id)
      .map { case (cid, rs) =>
        cid -> rs.groupBy(_.getInt(1)).map { case (tgt, g) =>
          tgt -> g.map(r => r.getString(2) -> r.getLong(3) * toUnit).toMap
        }
      }
  }

  /** Whether subtree raising may run: [[raiseScan]] re-routes through
    * per-candidate CASE WHEN arms that grow with the subtree, so past
    * the flat serving width they would blow whole-stage-codegen limits
    * exactly like a flat transform — wider models prune
    * replacement-only. */
  private def raisable(model: C45Model): Boolean =
    model.leaves.size <= C45Model.FlatMaxLeaves

  /** One job: route every row to its (disjoint) leaf, count classes.
    * Through the flat first-match CASE WHEN, or with `walk` through the
    * tree-walk expression transform uses past
    * [[C45Model.FlatMaxLeaves]] leaves ([[C45Model.treeLeafColumn]]) —
    * constant expression size, codegen-safe at any width, no join.
    * Both produce identical counts (leaves partition the space, so
    * first-match ≡ only-match whenever the tree form exists). */
  private def scanCounts(model: C45Model, df: DataFrame,
                         walk: Boolean): Map[Int, Map[String, Long]] = {
    val leaves = model.leaves
    // the flat plan routes through the SAME rid expression narrow
    // serving uses
    val rid = (if (walk) model.treeLeafColumn else None)
      .getOrElse(C45.flatRidColumn(leaves, model.schema.attrNames))
    LevelLoop.described(df.sparkSession.sparkContext, "graft.prune scan counts") {
      // null class labels (rejected by the fit, but held-out frames
      // are caller-supplied) have no class to count — dropped
      df.select(rid.as("rid"), col(model.schema.classCol).cast("string").as("cls"))
        .filter(col("rid") >= 0 && col("cls").isNotNull)
        .groupBy("rid", "cls").agg(count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (k, rows) =>
          k -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
        }
    }
  }

  /** The driver-side bottom-up pass, shared by both counts sources.
    * `counts` values are in units of `unit` rows (1.0 for scan counts,
    * 1e6 for the fit's recorded micros) — the Wilson bound is NOT
    * scale-invariant (its small-n penalty is the point), so n converts
    * to true row units before the math; sums/majorities stay exact
    * long arithmetic. */
  private def pruneFromCounts(model: C45Model,
                              counts: Map[Int, Map[String, Long]],
                              z: Double, unit: Double,
                              raise: Option[(Map[Vector[(Int, graft.model.Split)],
                                RaiseCand], RaiseCounts)]): C45Model = {
    val leaves = model.leaves

    def leafErr(c: Map[String, Long]): Double = {
      val n = c.values.sum / unit
      val errors = n - (if (c.isEmpty) 0L else c.values.max) / unit
      n * upperErrorRate(errors, n, z)
    }

    /** Majority with deterministic ties: max count, then smallest label. */
    def majority(c: Map[String, Long]): String =
      if (c.isEmpty) model.majority
      else {
        val mx = c.values.max
        c.collect { case (l, n) if n == mx => l }.min
      }

    def mergeCnt(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }

    /** The raise option at this node, if one is exact here: largest
      * child structurally raise-safe (no nested raise), re-routed
      * counts folded onto its pruned leaves, leaves re-labeled from
      * the merged distributions. */
    def raiseAt(prefix: Vector[(Int, graft.model.Split)], depth: Int,
                results: Seq[((Int, graft.model.Split), Pruned)])
        : Option[Pruned] =
      raise.flatMap { case (byPrefix, rcounts) =>
        byPrefix.get(prefix).flatMap { cand =>
          val cRes = results.find(_._1 == cand.branch).get._2
          if (cRes.raisedInside) None
          else {
            val posOf: Map[Int, Int] = cRes.origIdx.zipWithIndex
              .flatMap { case (os, p) => os.map(_ -> p) }.toMap
            val extra =
              Array.fill(cRes.leaves.size)(Map.empty[String, Long])
            var unrouted = Map.empty[String, Long]
            rcounts.getOrElse(cand.id, Map.empty).foreach { case (j, c) =>
              if (j < 0) unrouted = mergeCnt(unrouted, c)
              else extra(posOf(j)) = mergeCnt(extra(posOf(j)), c)
            }
            val raisedDists = cRes.dists.zip(extra).map {
              case (own, add) => mergeCnt(own, add)
            }
            val raisedErr = raisedDists.map(leafErr).sum + leafErr(unrouted)
            val raisedLeaves = cRes.leaves.zip(raisedDists).map {
              case (r, dc) => Rule(r.conditions.patch(depth, Nil, 1),
                Some(if (dc.nonEmpty) majority(dc)
                else r.label.getOrElse(model.majority)))
            }
            Some(Pruned(raisedLeaves, raisedErr,
              Map.empty, // caller substitutes the node's merged counts
              raisedDists, cRes.origIdx, raisedInside = true))
          }
        }
      }

    /** Recursive bottom-up pass over leaves sharing the prefix up to
      * `depth`. Leaves' condition vectors are root-ordered, so the
      * group's split attribute at this depth is conditions(depth). */
    def walk(group: Vector[(Rule, Int)], depth: Int,
             prefix: Vector[(Int, graft.model.Split)]): Pruned = {
      if (group.length == 1 && group.head._1.depth == depth) {
        val (r, i) = group.head
        val c = counts.getOrElse(i, Map.empty)
        return Pruned(Vector(r), leafErr(c), c, Vector(c),
          Vector(Vector(i)), raisedInside = false)
      }
      val results = group.groupBy(_._1.conditions(depth)).toSeq
        .sortBy(_._1.toString)
        .map { case (cond, rs) => cond -> walk(rs, depth + 1, prefix :+ cond) }
      val children = results.map(_._2)
      val subtreeErr = children.map(_.err).sum
      val merged = children.flatMap(_.counts.toSeq)
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val asLeafErr = leafErr(merged)
      val raised = raiseAt(prefix, depth, results)
      val raisedErr = raised.map(_.err).getOrElse(Double.PositiveInfinity)
      // C4.5's preference on ties: leaf (simplest) ≤ raise ≤ keep
      if (asLeafErr <= subtreeErr + 1e-9 && asLeafErr <= raisedErr + 1e-9)
        Pruned(Vector(Rule(prefix, Some(majority(merged)))), asLeafErr,
          merged, Vector(merged),
          // a prefix leaf covers every original under the node — and
          // RESETS raise-safety: prefix coverage is exact again
          Vector(group.map(_._2)), raisedInside = false)
      else if (raisedErr <= subtreeErr + 1e-9)
        raised.get.copy(counts = merged)
      else
        Pruned(children.flatMap(_.leaves).toVector, subtreeErr, merged,
          children.flatMap(_.dists).toVector,
          children.flatMap(_.origIdx).toVector,
          children.exists(_.raisedInside))
    }

    val rooted = walk(leaves.zipWithIndex, 0, Vector.empty)
    // keep the merged per-leaf class distributions the bottom-up walk
    // just computed — realigned to the PRUNED leaves and converted to
    // exact micros (held-out scan counts × 1e6; fit micros pass
    // through) — so prune → transformFractional / transformProba /
    // re-prune all compose. leafMass is each leaf's distribution sum,
    // the same invariant the fit maintains. Note: pruning against
    // held-out data carries the HELD-OUT distributions (that is the
    // distribution the pruned model was validated on); pruneTraining
    // carries training micros exactly as the fit recorded them.
    val toMicros = math.round(1e6 / unit)
    val dists = rooted.dists.map(_.view.mapValues(_ * toMicros).toMap)
    model.copy(leaves = rooted.leaves,
      leafMass = dists.map(_.values.sum),
      leafDist = dists)
  }
}
