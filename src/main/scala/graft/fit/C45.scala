package graft.fit

import graft.functions.TreeLeaf
import graft.meta.C45Schema
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import graft.stats.InfoStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.reflect.runtime.universe.TypeTag

/** Tuning knobs for [[C45.fit]]. `minDataRatio` is the reference's 10%
  * both-sides guard on numeric boundaries (MyReducer.java:34,188-190);
  * `maxDepth` bounds the level loop (the reference's only bound is
  * attribute exhaustion). `maxBins` caps candidate boundaries per
  * numeric attribute: attributes with more distinct values are
  * quantile-discretized once up front (MLlib-style), keeping the
  * per-(rule,attr) window in the split search bounded at any data
  * scale — the reference instead buffers and rescans EVERY distinct
  * value inside one reducer (MyReducer.java:112-205). 0 disables. */
/** `missingMode` governs null ATTRIBUTE values (null class labels are
  * always rejected): "fractional" (default) is canonical C4.5 — a null
  * row's weight is split across the children of its rule's split in
  * proportion to observed branch mass, gains are scaled by the known
  * fraction and split-info charges the unknown slice as an extra
  * branch; "drop" reproduces the pre-weighting behavior (null rows
  * silently leave each attribute's histogram and drop from the tree
  * once their path splits on the null attribute — the closest a
  * no-NPE engine gets to the reference, which crashes). Corpora with
  * no nulls take a byte-identical code path either way. */
/** Routing is not a knob: every level of every fit walks the tree
  * grown so far inside one [[graft.functions.TreeLeaf]] expression
  * over the training cache (see [[LevelLoop]]). The walk's generated
  * code does not depend on the tree, so all levels share one compiled
  * class. Fractional fits walk the same tree, fanning null-valued rows
  * out along it (`graft_tree_fan`, [[graft.functions.TreeWalk]]). */
case class C45Params(minDataRatio: Double = InfoStats.DefaultMinDataRatio,
                     maxDepth: Int = 30,
                     maxBins: Int = 256,
                     missingMode: String = "fractional") {
  require(missingMode == "fractional" || missingMode == "drop",
    s"missingMode must be fractional|drop: $missingMode")
}

/** A fitted C4.5 model: the leaf rule set (root-to-leaf conjunctions,
  * exactly the reference's printed deliverable, Main.java:128-131) plus
  * a majority-class fallback and a prediction phase the reference lacks
  * (SURVEY.md §0).
  *
  * `leafMass`/`leafDist` are per-leaf training masses / class
  * distributions in EXACT INTEGER MICROS in BOTH missing modes — a
  * drop-mode fit records row counts × 10⁶, a fractional fit records
  * the (deterministically rounded) fractional micro weights, and on a
  * null-free corpus the two coincide exactly (every weight is exactly
  * 10⁶). The scale is therefore mode-INdependent; absolute-mass
  * consumers can divide by 10⁶ for row units (MassScaleSpec pins
  * this, incl. through the k-fold fit). `leafMass(i) ==
  * leafDist(i).values.sum` always; a maxDepth-exhausted leaf carries
  * mass 0 and an empty distribution. */
case class C45Model(schema: C45Schema, leaves: Vector[Rule], majority: String,
                    leafMass: Vector[Long] = Vector.empty,
                    leafDist: Vector[Map[String, Long]] = Vector.empty) {
  def ruleStrings: Seq[String] = leaves.map(_.encode)

  /** Score a DataFrame: adds `outputCol` with the leaf label. Rows
    * reaching no leaf (an attribute value unseen in training, or a null
    * along the path) fall back to the global majority class.
    *
    * The leaf count picks one of two plans. Up to
    * [[C45Model.FlatMaxLeaves]] leaves, one flat first-match CASE WHEN
    * over the full root-to-leaf conjunctions: codegen-friendly while
    * short, and measurably faster than the walk there. A WIDER model
    * would blow past whole-stage-codegen limits and re-test depth-long
    * conjunction prefixes once per rule, so it instead walks the tree
    * inside one [[graft.functions.TreeLeaf]] expression (a
    * constant-size loop over the flattened node arrays: no join, no
    * shuffle, no extra job) and looks the label up in a literal array
    * by leaf index. Falls back to the CASE WHEN when the leaf set has
    * no tree form (rule sets generalized by [[C45RuleSimplify]]
    * overlap, and first-match order is then semantic). */
  def transform(df: DataFrame, outputCol: String = "prediction"): DataFrame =
    transformVia(df, outputCol, wide)

  /** [[transform]] through the tree walk (`walk`, when the leaves have
    * a tree form) or the flat CASE WHEN, whatever the leaf count:
    * specs compare the two plans. */
  private[fit] def transformVia(df: DataFrame, outputCol: String, walk: Boolean): DataFrame =
    (if (walk) routedTransform(df, outputCol) else None).getOrElse(flatTransform(df, outputCol))

  /** More leaves than the flat plans serve. */
  private def wide: Boolean = leaves.size > C45Model.FlatMaxLeaves

  private def flatTransform(df: DataFrame, outputCol: String): DataFrame = {
    val names = schema.attrNames
    val pred = leaves.headOption match {
      case None => lit(majority)
      case Some(h) =>
        leaves.tail.foldLeft(
          when(h.toPredicate(names), lit(h.label.get))) { (acc, r) =>
          acc.when(r.toPredicate(names), lit(r.label.get))
        }.otherwise(lit(majority))
    }
    df.withColumn(outputCol, pred)
  }

  /** Tree-walk scoring (the wide-model path): the label of the leaf
    * [[treeLeafColumn]] routes each row to, majority for −1. Returns
    * None when the leaves don't form a proper tree partition
    * (overlapping generalized rules, a lone child, mixed sibling
    * splits) — the caller then keeps the order-aware CASE WHEN. */
  private[fit] def routedTransform(df: DataFrame, outputCol: String): Option[DataFrame] =
    treeLeafColumn.map(leaf =>
      df.withColumn(outputCol, byLeaf(leaf, majority, leaves.map(_.label.get))))

  /** `values(leaf)`, or `fallback` where the leaf index is −1: one
    * lookup in a literal array, whatever the number of leaves. */
  private def byLeaf[T: TypeTag](leaf: Column, fallback: T, values: Seq[T]): Column =
    element_at(typedLit(fallback +: values), leaf + 2)

  /** The leaf index each row reaches through the tree (−1 for a null
    * or unseen value along its path), as one [[graft.functions.TreeLeaf]]
    * expression. None when the leaves have no tree form. */
  private[fit] def treeLeafColumn: Option[Column] =
    if (!treeForm) None else Some(TreeLeaf.column(walkInputs, walkTree()))

  /** The walk's inputs, one per (attribute, split kind) in first-use
    * order: numeric split attributes cast to double, categorical ones
    * to string, so the walk compares exactly as
    * [[graft.model.Rule.toPredicate]] does. */
  private lazy val slots: Seq[(Int, Boolean)] =
    leaves.flatMap(_.conditions.map { case (aid, s) => (aid, !s.isInstanceOf[CatEq]) }).distinct

  private def walkInputs: Seq[Column] = slots.map { case (aid, numeric) =>
    col(schema.attrNames(aid)).cast(if (numeric) "double" else "string") }

  /** The leaves' paths flattened into node arrays; leaf i outputs i. */
  private def walkTree(share: Vector[(Int, Split)] => Double = _ => 0.0): TreeLeaf.Nodes =
    C45.treeNodes(leaves.map(_.conditions),
      (aid, s) => slots.indexOf((aid, !s.isInstanceOf[CatEq])), share)

  /** The class set [[transformProba]] emits columns for, in its column
    * order (sorted strings): every class observed in a leaf
    * distribution or label, plus the majority. */
  def probaClasses: Seq[String] =
    (leafDist.flatMap(_.keys) ++ leaves.flatMap(_.label) :+ majority)
      .distinct.sorted

  /** Per-row class-membership probabilities from the leaves' training
    * class distributions — C4.5's predict_proba. Each row routes to
    * its leaf exactly as [[transform]] does, and emits that leaf's
    * class shares in EXACT INTEGER MICROS (`floor(cnt·10⁶/total+0.5)`
    * on the fit-recorded long micros — float-free, so outputs golden-
    * pin bit-stably at any tier; the per-leaf micros may sum to
    * 10⁶ ± (#classes-1) from rounding). Rows reaching no leaf (null or
    * unseen value on the path) and zero-mass leaves take the majority
    * class at 10⁶. Output: `outputCol` (the [[transform]] label) plus
    * one `<probPrefix><class>` micros column per class label, classes
    * sorted. The leaf index comes from [[transform]]'s two plans,
    * picked the same way — a flat first-match CASE WHEN up to
    * [[C45Model.FlatMaxLeaves]] leaves or without a tree form, the
    * [[treeLeafColumn]] tree walk beyond — and the label and every
    * class's micros are literal-array lookups on it. Fit-produced,
    * pruned, simplified ([[C45RuleSimplify]], first-match
    * distributions), and sidecar-loaded ([[C45Model.load]]) models
    * carry the distributions; only rule-text-only loads
    * ([[C45Model.loadRules]]) do not. */
  def transformProba(df: DataFrame, outputCol: String = "prediction",
                     probPrefix: String = "p_"): DataFrame =
    transformProbaVia(df, outputCol, probPrefix, wide)

  /** [[transformProba]] with the plan forced, as [[transformVia]]. */
  private[fit] def transformProbaVia(df: DataFrame, outputCol: String, probPrefix: String,
                                     walk: Boolean): DataFrame = {
    require(leafDist.size == leaves.size && leaves.nonEmpty,
      "transformProba needs per-leaf class distributions: fit/prune/" +
        "simplify/C45Model.load produce them (loadRules text-only " +
        "loads do not)")
    require(leaves.forall(_.label.nonEmpty), "model has open rules")
    val classes: Seq[String] = probaClasses
    // per-leaf micros vector, exact integer arithmetic on the recorded
    // long micros; zero-mass leaves -> all mass on the leaf's label
    def microsOf(d: Map[String, Long], fallback: String): Seq[Long] = {
      val tot = d.values.sum
      if (tot == 0L) classes.map(c => if (c == fallback) 1000000L else 0L)
      else classes.map(c =>
        math.floorDiv(d.getOrElse(c, 0L) * 1000000L + tot / 2, tot))
    }
    val leafMicros: Vector[Seq[Long]] =
      leaves.zip(leafDist).map { case (r, d) => microsOf(d, r.label.get) }
    val majorityMicros = classes.map(c => if (c == majority) 1000000L else 0L)
    // first-match order preserved on the flat path (required for
    // overlapping generalized rule sets)
    val leafIdx = (if (walk) treeLeafColumn else None)
      .getOrElse(C45.flatRidColumn(leaves, schema.attrNames))
    val leaf = col("__leaf")
    // quoted: an input column may carry a dot (the ensembles' per-member
    // micros columns of a StringIndexer label "0.0"), which a bare col()
    // would read as field access
    val inputs = df.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`"))
    df.withColumn("__leaf", leafIdx)
      .select((inputs :+
        byLeaf(leaf, majority, leaves.map(_.label.get)).as(outputCol)) ++
        classes.zipWithIndex.map { case (c, ci) =>
          byLeaf(leaf, majorityMicros(ci), leafMicros.map(_(ci))).as(s"$probPrefix$c")
        }: _*)
  }

  /** A generalized ([[C45RuleSimplify]]) rule set: more than one leaf
    * and no tree form — leaves may overlap and first-match order is
    * semantic. Drives the semantics switches in [[transformFractional]]
    * (C4.5rules unknown-fails scoring) and [[C45Pruning]] (rejects:
    * subtree replacement needs a partition). */
  private[fit] def overlapping: Boolean = leaves.size > 1 && !treeForm

  /** Whether the leaf rules' condition prefixes form a tree: every
    * distinct path prefix is a leaf or an internal node, and an
    * internal node's children split on one attribute, either `<= b`
    * and `> b` on one boundary or equality on distinct categories.
    * False for a single root leaf, duplicate leaves, a leaf prefix
    * extended further (overlapping generalized rules), a lone child
    * and mixed sibling splits. The tree walks
    * ([[treeLeafColumn]], [[fractionalVotes]]) flatten such a tree. */
  private lazy val treeForm: Boolean = {
    val paths = leaves.map(_.conditions)
    val leafSet = paths.toSet
    val children = paths.flatMap(p => (1 to p.length).map(p.take)).distinct.groupBy(_.init)
    leaves.nonEmpty && leaves.forall(_.label.nonEmpty) && leafSet.size == paths.size &&
      paths.exists(_.nonEmpty) && !leafSet.exists(children.contains) &&
      children.values.forall { kids =>
        kids.map(_.last._1).distinct.size == 1 && (kids.map(_.last._2) match {
          case Seq(NumLE(a), NumGT(b)) => a == b
          case Seq(NumGT(b), NumLE(a)) => a == b
          case splits => splits.forall(_.isInstanceOf[CatEq])
        })
      }
  }

  /** Score rows that may carry NULL attribute values with Quinlan's
    * fractional-weight vote — the prediction-side counterpart of
    * `C45Params.missingMode = "fractional"`. A row descends the tree;
    * at a node whose split attribute is null it follows EVERY child
    * with its weight scaled by the child's share of training mass
    * (`leafMass`, recorded by the fit in exact micros), and the
    * predicted label is the class with the largest summed leaf weight
    * (ties break to the lexicographically smallest class; an all-zero
    * vote — every known value unseen in training — falls back to the
    * global majority). Rows with no nulls get exactly [[transform]]'s
    * answer: every factor is 0 or 1 and one leaf carries weight 1.
    *
    * One plan at any width: the per-class votes come from one
    * `graft_tree_vote` expression ([[fractionalVotes]]), a
    * walk over the same node arrays [[transform]]'s wide plan uses,
    * then the argmax. No join, no shuffle. Fit-produced, pruned
    * (which keep the merged leaf distributions), simplified, and
    * sidecar-loaded ([[C45Model.load]]) models carry the masses;
    * rule-text-only loads do not and must use [[transform]].
    *
    * Generalized ([[C45RuleSimplify]]) rule lists have no tree to
    * fractionally descend: C4.5rules itself classifies them with
    * unknown-FAILS first-match (a test on a null value is unsatisfied
    * — Quinlan 1993, ch. 5), which is exactly [[transform]]'s
    * semantics, so such models delegate there. */
  def transformFractional(df: DataFrame, outputCol: String = "prediction"): DataFrame = {
    require(leafMass.size == leaves.size && leaves.nonEmpty,
      "transformFractional needs per-leaf training masses: fit/prune/" +
        "simplify/C45Model.load produce them (loadRules text-only " +
        "loads do not — use transform)")
    require(leaves.forall(_.label.nonEmpty), "model has open rules")
    if (overlapping) transform(df, outputCol)
    else df.withColumn("__c45_votes", fractionalVotes)
      .withColumn(outputCol, argmaxPred(fractionalClasses.zipWithIndex.map { case (c, i) =>
        c -> col("__c45_votes").getItem(i) }))
      .drop("__c45_votes")
  }

  /** The classes [[fractionalVotes]] votes for, in its order. */
  private[fit] def fractionalClasses: Seq[String] = leaves.flatMap(_.label).distinct.sorted

  /** Each row's per-class fractional vote ([[fractionalClasses]]
    * order) as one `graft_tree_vote` array column. A node's
    * share is `mass(p) / mass(p.init)` over [[prefixMass]] (0.0 under
    * a zero-mass parent), so the walk multiplies and sums exactly as
    * a per-leaf product of per-condition factors, summed per class in
    * leaf order, would. Needs a tree form or a single leaf
    * ([[overlapping]] models have no tree to descend). */
  private[fit] def fractionalVotes: Column = {
    val mass = prefixMass
    val tree = walkTree { p =>
      val pm = mass(p.init).toDouble
      if (pm > 0) mass(p) / pm else 0.0
    }
    val classes = fractionalClasses
    TreeLeaf.walkColumn(Nil, walkInputs, new TreeLeaf.Vote(tree,
      leaves.map(r => classes.indexOf(r.label.get)).toArray, classes.size))
  }

  /** Training mass of every distinct path prefix (micros): the
    * denominator/numerator pool for the per-edge fractions. */
  private[fit] def prefixMass: Map[Vector[(Int, Split)], Long] = {
    val m = scala.collection.mutable.Map.empty[Vector[(Int, Split)], Long]
    leaves.zip(leafMass).foreach { case (r, w) =>
      (0 to r.conditions.length).foreach { d =>
        val p = r.conditions.take(d); m(p) = m.getOrElse(p, 0L) + w
      }
    }
    m.toMap
  }

  /** Deterministic argmax over per-class weight columns: greatest on
    * (weight, -classIndex, label) structs — ties go to the smaller
    * index, i.e. the lexicographically smallest class — then the
    * all-zero fallback to majority. */
  private[fit] def argmaxPred(byClass: Seq[(String, Column)]): Column =
    if (byClass.size == 1)
      when(byClass.head._2 > 0, lit(byClass.head._1)).otherwise(lit(majority))
    else {
      val best = greatest(byClass.zipWithIndex.map { case ((c, w), i) =>
        struct(w.as("w"), lit(-i).as("r"), lit(c).as("c")) }: _*)
      when(best.getField("w") > 0, best.getField("c")).otherwise(lit(majority))
    }

  /** The model as a DataFrame (rule codec string, label, depth). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    leaves.map(r => (r.encode, r.label.getOrElse(""), r.depth))
      .toDF("rule", "label", "depth")
  }

  /** Persist the rule set in the reference's queue-file text format
    * (one encoded rule per line — Main.java:272-289 / Rule.java:22-33);
    * driver-side IO, the model is tiny by construction. */
  def saveRules(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (ruleStrings :+ s":$majority").mkString("\n"))

  /** FULL model persistence: the reference text codec ([[saveRules]],
    * `dir/rules.txt`) PLUS a parquet distribution sidecar (`dir/dist`,
    * one (leaf, cls, micros) row per leaf × observed class — exact
    * long micros, lossless in parquet), so a [[C45Model.load]]ed model
    * supports [[transformFractional]]/[[transformProba]]/
    * [[C45Pruning.pruneTraining]] — everything a live fit supports.
    * The sidecar is O(model) rows; `leafMass` is not stored because it
    * is always each leaf's distribution sum (fit invariant). A leaf
    * absent from the sidecar carries an empty distribution (mass 0 —
    * maxDepth-exhausted leaves), exactly as the fit recorded it.
    *
    * `dir` may be on ANY Hadoop-visible filesystem (local, HDFS, s3a):
    * the rules file writes through the Hadoop FileSystem API — the
    * model is O(leaves) tiny, so single-file driver IO is the right
    * shape even at cluster scale — and the sidecar is an ordinary
    * parquet write. ([[saveRules]] stays the local-path reference-codec
    * convenience.) */
  def save(spark: SparkSession, dir: String): Unit = {
    require(leafDist.size == leaves.size && leaves.nonEmpty,
      "C45Model.save persists the distribution sidecar: the model must " +
        "carry per-leaf class distributions (fit/prune/simplify/load " +
        "produce them); use saveRules for a rules-only text export")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    val out = fs.create(new org.apache.hadoop.fs.Path(dirPath, "rules.txt"),
      /*overwrite=*/ true)
    try out.write(
      (ruleStrings :+ s":$majority").mkString("\n").getBytes("UTF-8"))
    finally out.close()
    import spark.implicits._
    leafDist.zipWithIndex
      .flatMap { case (d, i) => d.toSeq.map { case (c, m) => (i, c, m) } }
      .toDF("leaf", "cls", "micros")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dirPath, "dist").toString)
  }
}

object C45Model {
  /** The most leaves [[C45Model.transform]] and
    * [[C45Model.transformProba]] serve through the flat first-match
    * CASE WHEN; wider tree-form models walk the tree. The flat plan is
    * faster while it is short, and the leaf count is what its code
    * size grows with. */
  private[fit] val FlatMaxLeaves = 64

  /** Inverse of [[C45Model.saveRules]]: the final `:label` line (a
    * condition-less closed rule) carries the global majority. Text
    * codec only — the loaded model has no leaf distributions (use
    * [[load]] for the full round-trip). */
  def loadRules(path: String, schema: C45Schema): C45Model = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path)).toArray.map(_.toString).filter(_.nonEmpty)
    val rules = lines.map(graft.model.Rule.decode).toVector
    val majority = rules.last.label.getOrElse(
      sys.error(s"model file $path has no majority line"))
    C45Model(schema, rules.init, majority)
  }

  /** Inverse of [[C45Model.save]]: rules from the text codec, per-leaf
    * class distributions from the parquet sidecar (leaf index aligns
    * with the rules-file line order), `leafMass` rebuilt as each
    * leaf's distribution sum. The result is indistinguishable from the
    * live fit's model — train → store → load → prune/serve
    * probabilities round-trips bit-exactly (ModelPersistenceSpec /
    * q_model_roundtrip). Reads through the Hadoop FileSystem API, so
    * any [[C45Model.save]]-visible filesystem works. */
  def load(spark: SparkSession, dir: String, schema: C45Schema): C45Model = {
    val rulesPath = new org.apache.hadoop.fs.Path(dir, "rules.txt")
    val fs = rulesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(rulesPath)
    val text =
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    val rules = text.split("\n").filter(_.nonEmpty)
      .map(graft.model.Rule.decode).toVector
    val majority = rules.last.label.getOrElse(
      sys.error(s"model dir $dir has no majority line"))
    val base = C45Model(schema, rules.init, majority)
    val byLeaf: Map[Int, Map[String, Long]] =
      spark.read.parquet(new org.apache.hadoop.fs.Path(dir, "dist").toString)
        .collect()
        .groupBy(_.getAs[Int]("leaf"))
        .map { case (i, rows) =>
          i -> rows.map(r =>
            r.getAs[String]("cls") -> r.getAs[Long]("micros")).toMap
        }
    val dist = base.leaves.indices.toVector
      .map(i => byLeaf.getOrElse(i, Map.empty[String, Long]))
    base.copy(leafMass = dist.map(_.values.sum), leafDist = dist)
  }
}

/** Level-wise C4.5 fit (SURVEY.md O4): the reference's one-MapReduce-job-
  * per-tree-level driver loop (Main.java:59-123) over a persisted
  * DataFrame. Per level, ALL open rules are scored simultaneously: rules
  * at one level have mutually disjoint predicates, so one walk of the
  * tree grown so far assigns each row its rule id, and one shuffled
  * aggregation scores every (rule, attribute) pair — replacing
  * the reference's rule-queue HDFS files, distributed-cache side input
  * and combiner-less raw-pair shuffle (SURVEY.md §3.4, §4).
  *
  * Semantics choices vs the reference (SURVEY.md §2 quirks, all chosen
  * "correct", regression-documented in C45QuirksSpec):
  *  #1 numeric boundaries compare as typed doubles, never truncated
  *     strings; #2 leaves take the majority class, not last-seen;
  *  #3 boundaries are per (rule, attr), no cross-rule contamination;
  *  #4 rules with no positive-gain candidate close as majority leaves
  *     instead of silently dropping their rows; #5 an attribute is used
  *     at most once per path (replicated — it defines tree shape);
  *  #6 the ε=1e-5 splitInfo==0 case never wins (a zero-gain "split"
  *     replays the same node), so such rules close as majority leaves.
  */
/** One split a level decided: how a PARENT rule (by its rid at the
  * previous level) routes its rows to child rids at this level. `kind`
  * = "num" (boundary + left/right child) or "cat" (value → child map).
  * [[C45.deriveFinalCounts]] derives a final level's class marginals
  * from these (the fit itself routes rows by walking the tree,
  * [[C45.frontierRidColumn]]). Top-level, not nested in the object: a
  * private nested case class defeats the encoder's generated code and
  * forces interpreted fallback. */
private[fit] case class Route(prid: Int, kind: String, aid: Int,
                              boundary: Double, lrid: Int, rrid: Int,
                              children: Map[String, Int])

object C45 {

  private[fit] case class Cand(aid: Int, gainRatio: Double, gain: Double,
                               boundary: Option[Double], fracLeft: Double = 0.0)

  /** Driver-side statistics of one level, derived from one histogram
    * collect: the per-rule class marginals plus per-(rule, attr) split
    * candidates. The [[LevelLoop]] replays the same math on each
    * model's cell slice, so every fitter decides bit-identically. */
  private[fit] case class LevelStats(
      clsCounts: Map[Int, Map[String, Long]],
      cat: Map[(Int, Int), Cand],
      catValues: Map[(Int, Int), Seq[(String, Long)]],
      num: Map[(Int, Int), Cand])

  /** What one level's driver-side decision pass produced: rules closed
    * this level (with their exact-micros mass and class distribution),
    * the next frontier with each rule's share of its parent's known
    * mass (what a null split value passes down), the level's splits as
    * routing rows, gain-importance increments, and the (possibly newly
    * fixed) global majority. */
  private[fit] case class LevelDecision(
      closedAdd: Vector[(Rule, Long, Map[String, Long])],
      nextOpen: Vector[Rule],
      shares: Vector[Double],
      routes: Seq[Route],
      importanceAdd: Seq[(Int, Double)],
      globalMajority: Option[String])

  /** The flat rule-index expression: first-match CASE WHEN over the
    * rules' root-to-leaf conjunctions, -1 = no rule. Narrow-model
    * serving, pruning and rule simplification use it (first-match
    * order is what overlapping simplified rules need); no fit loop
    * does. On a tree's open rules it assigns exactly the rid
    * [[frontierRidColumn]] does, which specs use as a second witness. */
  private[fit] def flatRidColumn(open: Vector[Rule], names: Seq[String]): Column = {
    val first = when(open.head.toPredicate(names), 0)
    open.zipWithIndex.tail.foldLeft(first) { case (acc, (r, i)) =>
      acc.when(r.toPredicate(names), lit(i))
    }.otherwise(lit(-1))
  }

  /** Flatten root-to-node paths into [[TreeLeaf.Nodes]]: the node a
    * path ends at outputs the path's index, and a node no path ends at
    * outputs −1 — so is the unreached side of a numeric split, and a
    * category no path takes misses the node's map, which the walk also
    * answers with −1. `slotOf` gives a split's walk input position and
    * `share` the share of the path prefix ending at a node (0.0 at the
    * root and off the paths). The paths must form a tree: siblings
    * split on one attribute (and one boundary), as every fitted rule
    * set's paths do. */
  private[fit] def treeNodes(paths: Seq[Vector[(Int, Split)]], slotOf: (Int, Split) => Int,
                             share: Vector[(Int, Split)] => Double = _ => 0.0): TreeLeaf.Nodes = {
    final class Node {
      var kind: Byte = TreeLeaf.Leaf
      var slot, left, right, leaf = -1
      var boundary, share = 0.0
      var cats: java.util.HashMap[UTF8String, Integer] = null
    }
    val nodes = scala.collection.mutable.ArrayBuffer(new Node)
    def fresh(): Int = { nodes += new Node; nodes.size - 1 }
    def numeric(n: Node, b: Double): Node = {
      if (n.kind == TreeLeaf.Leaf) {
        n.kind = TreeLeaf.Num; n.boundary = b; n.left = fresh(); n.right = fresh()
      }
      n
    }
    paths.zipWithIndex.foreach { case (path, out) =>
      var at = 0
      path.indices.foreach { d =>
        val (aid, split) = path(d)
        val n = nodes(at)
        n.slot = slotOf(aid, split)
        at = split match {
          case NumLE(b) => numeric(n, b).left
          case NumGT(b) => numeric(n, b).right
          case CatEq(v) =>
            if (n.kind == TreeLeaf.Leaf) { n.kind = TreeLeaf.Cat; n.cats = new java.util.HashMap }
            n.cats.computeIfAbsent(UTF8String.fromString(v), _ => fresh())
        }
        nodes(at).share = share(path.take(d + 1))
      }
      nodes(at).leaf = out
    }
    new TreeLeaf.Nodes(nodes.map(_.kind).toArray, nodes.map(_.slot).toArray,
      nodes.map(_.boundary).toArray, nodes.map(_.left).toArray,
      nodes.map(_.right).toArray, nodes.map(_.cats).toArray, nodes.map(_.leaf).toArray,
      nodes.map(_.share).toArray)
  }

  /** The fit's frontier router: the index in `open` of the rule each
    * row reaches, walking the tree grown so far in one
    * [[graft.functions.TreeLeaf]] expression; −1 (the row leaves the
    * fit) for a closed leaf, a null split value or an unseen category,
    * exactly where [[flatRidColumn]] matches no rule. Closed leaves
    * need no nodes: a branch no open path takes walks to −1. Every
    * attribute is a walk input, in schema order (numeric as double,
    * categorical as string), and the tree is a reference object, so
    * the generated code is the same whatever the frontier:
    * every level of a fit hits the codegen cache after the first. */
  private[fit] def frontierRidColumn(open: Vector[Rule], schema: C45Schema): Column =
    TreeLeaf.column(frontierInputs(schema), treeNodes(open.map(_.conditions), (aid, _) => aid))

  /** Every attribute as a frontier walk input, in schema order: the
    * inputs of [[frontierRidColumn]] and of the fractional fan-out
    * walk over the same nodes (LevelLoop.fanned). */
  private[fit] def frontierInputs(schema: C45Schema): Seq[Column] =
    schema.attrs.map(a => col(a.name).cast(if (a.isNumeric) "double" else "string"))

  /** Driver-side split stats on the collected cells — the same
    * factored identities as InfoStats (A4-A7 and the O2 boundary
    * scan), summed in sorted (value, class) order so the floating-
    * point result is independent of partitioning AND of scale
    * (10× counts shift every term by the same log2(10)).
    * ε special cases exactly as InfoStats.gainRatioD, but taking the
    * (possibly known-fraction-scaled) gain as given: in unweighted
    * mode gain == info - condE and this IS gainRatioD bit-for-bit. */
  private[fit] def levelStats(cells: Array[(Int, Int, String, String, Long)],
      schema: C45Schema, classLabels: Seq[String], fractional: Boolean,
      unit: Double, params: C45Params): LevelStats = {
    val clsCounts: Map[Int, Map[String, Long]] = cells.iterator
      .filter(_._2 == -1).toSeq
      .groupBy(_._1)
      .map { case (rid, cs) => rid -> cs.map(c => c._3 -> c._5).toMap }

    def gainRatioOf(gain: Double, splitInfo: Double, info: Double): Double = {
      val tol = 1e-12
      if (math.abs(splitInfo) < tol) {
        if (math.abs(info) < tol) 0.0 else InfoStats.Epsilon
      } else gain / splitInfo
    }
    // each class label's positions among the sorted labels; a cell of
    // another class counts in no numeric boundary scan
    val sortedLabels = classLabels.sorted
    val labelIndex = sortedLabels.indices.groupBy(sortedLabels)
    val catStats = Map.newBuilder[(Int, Int), Cand]
    val catValues = Map.newBuilder[(Int, Int), Seq[(String, Long)]]
    val numStats = Map.newBuilder[(Int, Int), Cand]
    cells.iterator.filter(_._2 != -1).toSeq
      .groupBy(t => (t._1, t._2))
      .toSeq.sortBy(_._1)
      .foreach { case ((rid, aid), cs) =>
        // nRaw: the rule's KNOWN mass on this attribute; totRaw: its
        // full mass (sentinel slice). In fractional mode gain scales
        // by the known fraction and splitInfo charges the unknown
        // slice as an extra branch (Quinlan's unknown-value
        // accounting); with no nulls the two are equal and every
        // expression below reduces to the unweighted original.
        val nRaw = cs.map(_._5).sum
        val n = nRaw / unit
        val totRaw = clsCounts.getOrElse(rid, Map.empty).values.sum
        val nTot = totRaw / unit
        val nUnknown = nTot - n
        val sCls = cs.groupBy(_._4)
          .map { case (c, g) => c -> g.map(_._5).sum }
          .toSeq.sortBy(_._1).map(t => InfoStats.plogpD(t._2 / unit)).sum
        val info = InfoStats.log2D(n) - sCls / n
        if (!schema.isNumericAttr(aid)) {
          val perVal = cs.groupBy(_._3).toSeq.sortBy(_._1)
          val sVal = perVal.map { case (_, g) =>
            InfoStats.plogpD(g.map(_._5).sum / unit) }.sum
          val sCell = cs.sortBy(t => (t._3, t._4))
            .map(t => InfoStats.plogpD(t._5 / unit)).sum
          val splitInfo =
            if (!fractional) InfoStats.log2D(n) - sVal / n
            else InfoStats.log2D(nTot) -
              (sVal + InfoStats.plogpD(nUnknown)) / nTot
          val condE = (sVal - sCell) / n
          val gain = if (fractional) (n / nTot) * (info - condE) else info - condE
          catStats += (rid, aid) -> Cand(aid, gainRatioOf(gain, splitInfo, info),
            gain, None)
          catValues += (rid, aid) -> perVal.map { case (v, g) =>
            v -> g.map(_._5).sum }
        } else {
          // boundary scan over sorted distinct values: cumulative
          // class counts give the left contingency row at each
          // candidate; the maximum value has no right side and the
          // minDataRatio guard applies to both sides
          // (MyReducer.java:140-141,188-190). Argmin on
          // (cond_entropy, boundary), strict <. Counts stay exact
          // longs (micros) through the cumulative scan.
          val labels = sortedLabels
          val byVal = cs.groupBy(_._3)
            .map { case (v, g) =>
              val counts = new Array[Long](labels.size)
              g.foreach(t => labelIndex.get(t._4).foreach(_.foreach(i => counts(i) += t._5)))
              v.toDouble -> counts.toSeq
            }.toSeq.sortBy(_._1)
          val tot = labels.indices.map(i => byVal.map(_._2(i)).sum)
          val left = Array.fill(labels.size)(0L)
          var leftN = 0L
          var best: Option[(Double, Double)] = None // (condE, boundary)
          byVal.foreach { case (v, rowCounts) =>
            labels.indices.foreach(i => left(i) += rowCounts(i))
            leftN += rowCounts.sum
            val rightN = nRaw - leftN
            if (rightN > 0 && leftN >= nRaw * params.minDataRatio &&
                rightN >= nRaw * params.minDataRatio) {
              val sLeft = labels.indices.map(i => InfoStats.plogpD(left(i) / unit)).sum
              val sRight = labels.indices.map(i =>
                InfoStats.plogpD((tot(i) - left(i)) / unit)).sum
              val lN = leftN / unit
              val rN = rightN / unit
              val condE = ((lN * InfoStats.log2D(lN) - sLeft) +
                (rN * InfoStats.log2D(rN) - sRight)) / n
              if (best.forall(b => condE < b._1)) best = Some((condE, v))
            }
          }
          best.foreach { case (condE, b) =>
            val leftBN = byVal.takeWhile(_._1 <= b).map(_._2.sum).sum
            val rightBN = nRaw - leftBN
            val splitInfo =
              if (!fractional) InfoStats.log2D(n) -
                (InfoStats.plogpD(leftBN / unit) + InfoStats.plogpD(rightBN / unit)) / n
              else InfoStats.log2D(nTot) -
                (InfoStats.plogpD(leftBN / unit) + InfoStats.plogpD(rightBN / unit) +
                  InfoStats.plogpD(nUnknown)) / nTot
            val gain = if (fractional) (n / nTot) * (info - condE) else info - condE
            numStats += (rid, aid) -> Cand(aid,
              gainRatioOf(gain, splitInfo, info), gain, Some(b),
              leftBN.toDouble / nRaw.toDouble)
          }
        }
      }
    LevelStats(clsCounts, catStats.result(), catValues.result(), numStats.result())
  }

  /** Derive the FINAL level's per-child class distributions from the
    * PARENT level's histogram cells and its split routes — so a fit
    * whose frontier reaches `maxDepth` never runs the last (widest)
    * histogram job. Exact by construction: a child's rows are exactly
    * its parent's rows selected by the one new split condition, and
    * the parent's cells already carry the (rid, splitAttr, value,
    * class) → Σweight table that condition partitions — numeric
    * children by `value <= boundary` over the snapped value the
    * boundary scan itself ranked (raw `v <= b ⟺ snap(v) <= b`, the
    * binning contract), categorical children by their exact value
    * slice. Rows with a NULL split value appear in no slice and route
    * to no child at serve time either — identical exclusion. Only the
    * weight-rounding FRACTIONAL fan-out is non-derivable (per-row
    * micro rounding happens at routing); fractional fits keep their
    * final histogram. GoldenFitSpec/C45ForestSpec/C45BoostSpec pin
    * bit-identity of the resulting models. */
  private[fit] def deriveFinalCounts(
      cells: Array[(Int, Int, String, String, Long)],
      routes: Seq[Route]): Map[Int, Map[String, Long]] = {
    val out = Map.newBuilder[Int, Map[String, Long]]
    val byRule = cells.groupBy(c => (c._1, c._2))
    routes.foreach { rt =>
      val slice = byRule.getOrElse((rt.prid, rt.aid), Array.empty[(Int, Int, String, String, Long)])
      if (rt.kind == "num") {
        val le = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        val gt = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        slice.foreach { case (_, _, v, cls, n) =>
          if (v.toDouble <= rt.boundary) le(cls) += n else gt(cls) += n
        }
        if (le.nonEmpty) out += rt.lrid -> le.toMap
        if (gt.nonEmpty) out += rt.rrid -> gt.toMap
      } else {
        val byValue = slice.groupBy(_._3)
        rt.children.foreach { case (v, crid) =>
          val m = byValue.getOrElse(v, Array.empty[(Int, Int, String, String, Long)]).groupBy(_._4)
            .map { case (c, g) => c -> g.map(_._5).sum }
          if (m.nonEmpty) out += crid -> m
        }
      }
    }
    out.result()
  }

  /** Driver-side per-rule decision (O3/O4): tiny tables only. The
    * same pass records each split as a Route row (child rid = position
    * in nextOpen, by construction the index the flat CASE WHEN and the
    * tree walk assign too). */
  private[fit] def decideLevel(open: Vector[Rule], level: Int, st: LevelStats,
      schema: C45Schema, params: C45Params, classLabels: Seq[String],
      fractional: Boolean, unit: Double,
      globalMajority0: Option[String]): LevelDecision = {
    val closedAdd = Vector.newBuilder[(Rule, Long, Map[String, Long])]
    val nextOpen = Vector.newBuilder[Rule]
    val shares = Vector.newBuilder[Double]
    val routes = Seq.newBuilder[Route]
    val imp = Seq.newBuilder[(Int, Double)]
    var globalMajority = globalMajority0
    var nextIdx = 0
    val candsOf = (st.cat.toSeq ++ st.num).groupMap(_._1._1) { case ((_, aid), c) => (aid, c) }
    open.zipWithIndex.foreach { case (rule, rid) =>
      val counts = st.clsCounts.getOrElse(rid, Map.empty)
      if (counts.isEmpty) {
        // no rows reached this rule (possible only via races in input);
        // close with global majority rather than silently dropping (#4)
        closedAdd += ((rule.closed(globalMajority.getOrElse(classLabels.head)),
          0L, Map.empty))
      } else {
        val majority = counts.toSeq.maxBy { case (l, n) => (n, l) }._1
        if (globalMajority.isEmpty && rid == 0 && level == 0)
          globalMajority = Some(majority)
        val pure = counts.size == 1
        val cands = candsOf.getOrElse(rid, Nil).collect {
          case (aid, c) if !rule.usedAttrs.contains(aid) &&
              c.gain > 1e-12 && c.gainRatio > InfoStats.Epsilon => c
        }
        if (pure || cands.isEmpty || rule.depth >= params.maxDepth) {
          closedAdd += ((rule.closed(majority),
            if (fractional) counts.values.sum else counts.values.sum * 1000000L,
            if (fractional) counts else counts.view.mapValues(_ * 1000000L).toMap))
        } else {
          val best = cands.maxBy(c => (c.gainRatio, -c.aid))
          imp += best.aid -> (counts.values.sum / unit * best.gain)
          best.boundary match {
            case Some(b) =>
              nextOpen += rule.withCondition(best.aid, NumLE(b))
              nextOpen += rule.withCondition(best.aid, NumGT(b))
              shares ++= Seq(best.fracLeft, 1.0 - best.fracLeft)
              routes += Route(rid, "num", best.aid, b, nextIdx, nextIdx + 1,
                Map.empty)
              nextIdx += 2
            case None =>
              // one child per value observed at this node (#4: children
              // for absent domain values would hold zero rows)
              val vals = st.catValues((rid, best.aid))
              routes += Route(rid, "cat", best.aid, 0.0, -1, -1,
                vals.zipWithIndex.map { case ((v, _), i) => v -> (nextIdx + i) }
                  .toMap)
              val known = vals.map(_._2).sum.toDouble
              vals.foreach { case (v, c) =>
                nextOpen += rule.withCondition(best.aid, CatEq(v))
                shares += c / known
              }
              nextIdx += vals.size
          }
        }
      }
    }
    LevelDecision(closedAdd.result(), nextOpen.result(), shares.result(), routes.result(),
      imp.result(), globalMajority)
  }

  def fit(df: DataFrame, schema: C45Schema,
          params: C45Params = C45Params()): C45Model =
    fitWithImportance(df, schema, params)._1

  /** Is the WHOLE input cache-backed — i.e. does the plan root reach an
    * InMemoryRelation through nothing but row-preserving wrappers
    * (Project/Filter/aliases)? An InMemoryRelation merely somewhere in
    * the tree (say a small cached dimension joined to a huge uncached
    * fact input) must NOT count: skipping fit's own persist there would
    * silently recompute the full upstream plan once per level. */
  private[fit] def inputCacheBacked(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project, SubqueryAlias}
    def backed(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case Project(_, child) => backed(child)
      case LFilter(_, child) => backed(child)
      case SubqueryAlias(_, child) => backed(child)
      case _ => false
    }
    backed(df.queryExecution.withCachedData)
  }

  /** [[fit]], additionally returning gain-based feature importance:
    * per attribute, Σ over the splits that chose it of
    * (rows at the node) × (information gain of the split) — the
    * standard impurity-decrease importance, un-normalized. Computed
    * entirely from the driver-side selection pass (zero extra jobs);
    * deterministic because every gain is derived from the sorted
    * histogram in a fixed order. Attributes never chosen are absent
    * from the map. */
  def fitWithImportance(df: DataFrame, schema: C45Schema,
                        params: C45Params = C45Params()): (C45Model, Map[Int, Double]) =
    fitRouted(df, schema, params, frontierRidColumn)

  /** [[fitWithImportance]] with the frontier router and the local
    * gate's capacity as arguments: specs route through [[flatRidColumn]]
    * (at capacity 0, which keeps every level a Spark job) to compare
    * the two, and compare the local and the Spark histogram. One
    * model of the [[LevelLoop]]: multiplicity 1, rows at mass 1, or
    * micros that fan out when the corpus has null attribute values and
    * `missingMode` is "fractional". A caller that already cached `df`
    * keeps its cache ([[LevelLoop.withTrainingFrame]]). */
  private[fit] def fitRouted(df: DataFrame, schema: C45Schema, params: C45Params,
                             router: (Vector[Rule], C45Schema) => Column,
                             capacity: Long = LevelLoop.LocalCells)
      : (C45Model, Map[Int, Double]) =
    LevelLoop.withTrainingFrame(df, (schema.attrNames :+ schema.classCol).map(col)) { data =>
      val probe = LevelLoop.probe(data, schema, params, "C45.fit")
      LevelLoop.grow(data, schema, params, LevelLoop.Models("fit", probe, _ => lit(1L),
        probe.mass, micros = probe.fractional), router, capacity = capacity).head
    }

  /** k-fold fitting: model f trains on the rows of `stamped` whose
    * `foldCol` is not f, all k grown side by side, one histogram per
    * level ([[LevelLoop]], multiplicity `foldCol ≠ f`; `capacity` is
    * its local gate). Each model is
    * bit-identical to [[fit]] on its training rows (CrossValSpec), and
    * records masses on the same 10⁶ scale whatever the mode
    * (MassScaleSpec).
    *
    * Contract: `stamped` is cached or cache-backed and holds `foldCol`
    * (int in [0, k)), the schema's attributes and the class column;
    * `fractional` says whether null rows fan out. */
  private[fit] def fitFolds(stamped: DataFrame, foldCol: String, k: Int,
      schema: C45Schema, params: C45Params, fractional: Boolean = false,
      capacity: Long = LevelLoop.LocalCells): Seq[C45Model] =
    growFolds(stamped, foldCol, schema, params, LevelLoop.probe(stamped, schema, params,
      "C45.fitFolds", Some((foldCol, k))).copy(fractional = fractional), capacity)

  /** [[fitFolds]] from a finished probe. */
  private[fit] def growFolds(stamped: DataFrame, foldCol: String, schema: C45Schema,
                             params: C45Params, probe: LevelLoop.Probe,
                             capacity: Long = LevelLoop.LocalCells): Seq[C45Model] =
    LevelLoop.grow(stamped, schema, params, LevelLoop.Models("fitFolds", probe,
      f => (col(foldCol) =!= f).cast("long"), probe.mass, micros = probe.fractional),
      capacity = capacity).map(_._1)
}
