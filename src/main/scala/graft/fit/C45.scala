package graft.fit

import graft.functions.TreeLeaf
import graft.meta.C45Schema
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import graft.stats.InfoStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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
/** `routeJoinThreshold`: frontiers wider than this route rows through
  * a broadcast rule-table join instead of one flat CASE WHEN. The two
  * paths produce identical trees (spec-pinned); the trade is
  * whole-stage-codegen compile time of an O(rules × depth) expression
  * (grows every level, compiled fresh each level) against a join +
  * routed-base persist (constant-size expression, one compiled shape
  * reused). Measured at sf0.1: a 22-rule flat level costs ~2.3s vs
  * ~1.4s join-routed while ≤12-rule levels favor flat — the crossover
  * sits under 20 rules, hence 16. */
case class C45Params(minDataRatio: Double = InfoStats.DefaultMinDataRatio,
                     maxDepth: Int = 30,
                     maxBins: Int = 256,
                     routeJoinThreshold: Int = 16,
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
  * this, incl. through the fused fold fit). `leafMass(i) ==
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
    * Two plans. Up to `routeThreshold` leaves, one flat first-match
    * CASE WHEN over the full root-to-leaf conjunctions — codegen-
    * friendly while short. A WIDER model would blow past whole-stage-
    * codegen limits and re-test depth-long conjunction prefixes once
    * per rule, so it instead walks the tree inside one
    * [[graft.functions.TreeLeaf]] expression (a constant-size loop over
    * the flattened node arrays: no join, no shuffle, no extra job) and
    * looks the label up in a literal array by leaf index. Falls back
    * to the CASE WHEN when the leaf set has no tree form (rule sets
    * generalized by [[C45RuleSimplify]] overlap, and first-match order
    * is then semantic). */
  def transform(df: DataFrame, outputCol: String = "prediction",
                routeThreshold: Int = 64): DataFrame =
    if (leaves.size > routeThreshold)
      routedTransform(df, outputCol).getOrElse(flatTransform(df, outputCol))
    else flatTransform(df, outputCol)

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
    * expression: numeric split attributes cast to double, categorical
    * ones to string, so the walk compares exactly as
    * [[graft.model.Rule.toPredicate]] does. None when the leaves have
    * no tree form. */
  private[fit] def treeLeafColumn: Option[Column] = treeStructure().map {
    case (nid, levels) =>
      val size = nid.size
      val kind = Array.fill(size)(TreeLeaf.Leaf)
      val slot = new Array[Int](size)
      val boundary = new Array[Double](size)
      val left = new Array[Int](size)
      val right = new Array[Int](size)
      val cats = new Array[java.util.HashMap[UTF8String, Integer]](size)
      val leaf = Array.fill(size)(-1)
      // one input per (attribute, split kind), in first-use order
      val slots = scala.collection.mutable.LinkedHashMap.empty[(Int, Boolean), Int]
      levels.flatten.filter(_.kind != "leaf").foreach { r =>
        val numeric = r.kind == "num"
        slot(r.prid) = slots.getOrElseUpdate((r.aid, numeric), slots.size)
        if (numeric) {
          kind(r.prid) = TreeLeaf.Num
          boundary(r.prid) = r.boundary
          left(r.prid) = r.lrid
          right(r.prid) = r.rrid
        } else {
          kind(r.prid) = TreeLeaf.Cat
          val m = new java.util.HashMap[UTF8String, Integer]()
          r.children.foreach { case (v, c) => m.put(UTF8String.fromString(v), c) }
          cats(r.prid) = m
        }
      }
      leaves.zipWithIndex.foreach { case (r, i) => leaf(nid(r.conditions)) = i }
      val names = schema.attrNames
      val attrs = slots.keys.toSeq.map { case (aid, numeric) =>
        col(names(aid)).cast(if (numeric) "double" else "string") }
      TreeLeaf.column(attrs,
        new TreeLeaf.Nodes(kind, slot, boundary, left, right, cats, leaf))
  }

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
    * sorted. The leaf index comes from the same two plans as
    * transform — a flat first-match CASE WHEN while the model is
    * narrow, the [[treeLeafColumn]] tree walk past `routeThreshold`
    * leaves (generalized rule sets have no tree form and always take
    * the order-aware flat path) — and the label and every class's
    * micros are literal-array lookups on it. Fit-produced, pruned,
    * simplified ([[C45RuleSimplify]], first-match distributions), and
    * sidecar-loaded ([[C45Model.load]]) models carry the
    * distributions; only rule-text-only loads ([[C45Model.loadRules]])
    * do not. */
  def transformProba(df: DataFrame, outputCol: String = "prediction",
                     probPrefix: String = "p_",
                     routeThreshold: Int = 64): DataFrame = {
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
    val leafIdx = (if (leaves.size > routeThreshold) treeLeafColumn else None)
      .getOrElse(C45.flatRidColumn(leaves, schema.attrNames))
    val leaf = col("__leaf")
    df.withColumn("__leaf", leafIdx)
      .select((df.columns.toSeq.map(col) :+
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
  private[fit] def overlapping: Boolean =
    leaves.size > 1 && treeStructure().isEmpty

  /** Reconstruct the tree from the leaf rules' condition prefixes:
    * node ids for every distinct path prefix (assigned level-wise in
    * first-appearance order — deterministic, leaves is an ordered
    * Vector) plus one Route row set per level (internal splits + leaf
    * self-loops, so the fractional level-walk is one linear join
    * chain; [[treeLeafColumn]] flattens the same rows). None when
    * the leaf set has no tree form: a single root leaf, duplicate
    * leaves, a leaf prefix extended further (overlapping generalized
    * rules), or a node whose children mix attributes/boundaries. */
  private def treeStructure(): Option[
      (scala.collection.mutable.LinkedHashMap[Vector[(Int, Split)], Int],
       Seq[Seq[Route]])] = {
    val leafConds = leaves.map(_.conditions)
    if (leafConds.isEmpty || leaves.exists(_.label.isEmpty)) return None
    val leafSet = leafConds.toSet
    if (leafSet.size != leafConds.size) return None // duplicate leaves: order matters
    val maxD = leafConds.map(_.length).max
    if (maxD == 0) return None // single root leaf — the flat literal is ideal
    val nid = scala.collection.mutable.LinkedHashMap[Vector[(Int, Split)], Int]()
    (0 to maxD).foreach { d =>
      leafConds.foreach { c =>
        if (c.length >= d) { val p = c.take(d); if (!nid.contains(p)) nid(p) = nid.size }
      }
    }
    // a prefix that is both a leaf and extended further = overlap
    val extendedPrefixes = nid.keys.filter(_.nonEmpty).map(_.init).toSet
    if (leafSet.exists(extendedPrefixes.contains)) return None
    val prefixes = nid.keys.toSeq
    val levels: Seq[Seq[Route]] =
      (0 until maxD).map { d =>
        val internal = prefixes.filter(p => p.length == d && !leafSet.contains(p))
        val routeRows = internal.map { p =>
          val added = prefixes.filter(q => q.length == d + 1 && q.init == p).map(_.last)
          val le = added.collect { case (a, NumLE(b)) => (a, b) }
          val gt = added.collect { case (a, NumGT(b)) => (a, b) }
          val cat = added.collect { case (a, CatEq(v)) => (a, v) }
          (le, gt, cat) match {
            case (Seq((a1, b1)), Seq((a2, b2)), Seq()) if a1 == a2 && b1 == b2 =>
              Route(nid(p), "num", a1, b1,
                nid(p :+ (a1 -> NumLE(b1))), nid(p :+ (a1 -> NumGT(b1))), Map.empty)
            case (Seq(), Seq(), vs) if vs.nonEmpty &&
              vs.map(_._1).distinct.size == 1 && vs.map(_._2).distinct.size == vs.size =>
              val a = vs.head._1
              Route(nid(p), "cat", a, 0.0, -1, -1,
                vs.map { case (ai, v) => v -> nid(p :+ (ai -> CatEq(v))) }.toMap)
            case _ => return None // not a clean single-attribute split
          }
        }
        val leafLoops = prefixes
          .filter(p => p.length <= d && leafSet.contains(p))
          .map(p => Route(nid(p), "leaf", -1, 0.0, nid(p), nid(p), Map.empty))
        routeRows ++ leafLoops
      }
    Some((nid, levels))
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
    * Two plans, mirroring [[transform]]: up to `routeThreshold` leaves,
    * one flat map-only expression (per leaf a product of per-condition
    * factors, per class a fixed-order sum — zero shuffles, fully
    * codegen'd). Wider models level-walk through broadcast edge joins
    * with the weight fanning out exactly as the fit's fractional
    * routing does (weights ride as exact long micros so the per-row
    * per-class sums are order-independent), then ONE hash aggregation
    * by row id and a join back to the input. Fit-produced, pruned
    * (which keep the merged leaf distributions), simplified, and
    * sidecar-loaded ([[C45Model.load]]) models carry the masses;
    * rule-text-only loads do not and must use [[transform]].
    *
    * Generalized ([[C45RuleSimplify]]) rule lists have no tree to
    * fractionally descend: C4.5rules itself classifies them with
    * unknown-FAILS first-match (a test on a null value is unsatisfied
    * — Quinlan 1993, ch. 5), which is exactly [[transform]]'s
    * semantics, so such models delegate there. */
  def transformFractional(df: DataFrame, outputCol: String = "prediction",
                          routeThreshold: Int = 64): DataFrame = {
    require(leafMass.size == leaves.size && leaves.nonEmpty,
      "transformFractional needs per-leaf training masses: fit/prune/" +
        "simplify/C45Model.load produce them (loadRules text-only " +
        "loads do not — use transform)")
    require(leaves.forall(_.label.nonEmpty), "model has open rules")
    if (overlapping) return transform(df, outputCol, routeThreshold)
    val classes = leaves.flatMap(_.label).distinct.sorted
    if (leaves.size <= routeThreshold) flatFractional(df, outputCol, classes)
    else routedFractional(df, outputCol, classes)
      .getOrElse(flatFractional(df, outputCol, classes))
  }

  /** Training mass of every distinct path prefix (micros): the
    * denominator/numerator pool for the per-edge fractions. */
  private def prefixMass: Map[Vector[(Int, Split)], Long] = {
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
  private def argmaxPred(byClass: Seq[(String, Column)]): Column =
    if (byClass.size == 1)
      when(byClass.head._2 > 0, lit(byClass.head._1)).otherwise(lit(majority))
    else {
      val best = greatest(byClass.zipWithIndex.map { case ((c, w), i) =>
        struct(w.as("w"), lit(-i).as("r"), lit(c).as("c")) }: _*)
      when(best.getField("w") > 0, best.getField("c")).otherwise(lit(majority))
    }

  /** Flat fractional scoring as a STAGED TRIE WALK: one projection
    * per tree level, each adding the level's node-weight columns as
    * `w(child) = w(parent) × edge-factor` — every shared path prefix
    * is computed ONCE and referenced by name, instead of inlining the
    * full root-to-leaf product per leaf. The naive per-leaf form
    * repeats every shared prefix across leaves AND classes
    * (O(leaves × depth × classes) subexpressions); on a 5-member
    * forest that expression fell out of whole-stage codegen entirely
    * (zero codegen spans, interpreted eval — 24s for 600k rows at
    * sf0.1, vs ~3s staged). CollapseProject keeps the stages separate
    * because the node columns are referenced more than once (children
    * + class sums), so each weight is evaluated exactly once per row
    * inside codegen. Numerically BIT-IDENTICAL to the per-leaf fold:
    * the staged products associate left-to-right exactly like
    * `foldLeft(1.0)(_ * _)` (and `1.0 × f = f` exactly in IEEE), and
    * the class sums keep the same leaf order. */
  private def flatFractional(df: DataFrame, outputCol: String,
                             classes: Seq[String]): DataFrame = {
    val names = schema.attrNames
    val mass = prefixMass
    // all distinct non-empty prefixes, shallow→deep, stable order
    val prefixes: Vector[Vector[(Int, Split)]] = leaves
      .flatMap(r => (1 to r.conditions.length).map(r.conditions.take))
      .distinct
    val colOf: Map[Vector[(Int, Split)], String] =
      prefixes.zipWithIndex.map { case (p, i) => p -> s"__c45f_w$i" }.toMap
    def factor(p: Vector[(Int, Split)]): Column = {
      val (aid, s) = p.last
      // a zero-mass parent (possible only through zero-mass leaves,
      // e.g. maxDepth-exhausted ones) contributes nothing: frac 0,
      // never 0/0
      val denom = mass(p.init).toDouble
      val frac = if (denom > 0) mass(p) / denom else 0.0
      val a = col(names(aid))
      when(a.isNull, lit(frac))
        .otherwise(when(s.toPredicate(a), lit(1.0)).otherwise(lit(0.0)))
    }
    val byDepth = prefixes.groupBy(_.length).toSeq.sortBy(_._1)
    val staged = byDepth.foldLeft(df) { case (d, (depth, ps)) =>
      d.withColumns(ps.map { p =>
        colOf(p) -> (if (depth == 1) factor(p)
        else col(colOf(p.init)) * factor(p))
      }.toMap)
    }
    def wLeaf(r: Rule): Column =
      if (r.conditions.isEmpty) lit(1.0) else col(colOf(r.conditions))
    val byClass = classes.map { c =>
      c -> leaves.collect {
        case r if r.label.contains(c) => wLeaf(r)
      }.reduce(_ + _)
    }
    staged.withColumn(outputCol, argmaxPred(byClass))
      .drop(prefixes.map(colOf): _*)
  }

  /** Wide-model fractional scoring: a level-walk with the fit's
    * fractional fan-out — one
    * broadcast edge join per level where a null split value multiplies
    * the row into every child at `floor(w·frac + 0.5)` micros, leaves
    * self-loop at full weight, and a known-but-unseen value drops the
    * branch (that subtree's vote is zero, exactly as the flat factors
    * give 0). One hash aggregation by row id collapses the fan-out to
    * per-class long sums (order-independent), and a left join back to
    * the input restores rows whose every branch died (→ majority).
    * Row ids come from monotonically_increasing_id, which is
    * deterministic for a deterministic source partitioning — both
    * scans of `withId` in the self-join see identical ids. Returns
    * None when the leaves don't form a proper tree (overlapping
    * generalized rules) — such models carry no masses anyway. */
  private def routedFractional(df: DataFrame, outputCol: String,
                               classes: Seq[String]): Option[DataFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    val structure = treeStructure()
    if (structure.isEmpty) return None
    val (nid, levels) = structure.get
    val mass = prefixMass
    val nidMass: Map[Int, Long] = nid.map { case (p, i) => i -> mass(p) }.toMap
    val edgeLevels: Seq[Seq[PredEdge]] = levels.map(_.flatMap { r =>
      r.kind match {
        case "leaf" => Seq(PredEdge(r.prid, "leaf", -1, 0.0, "", "", r.prid, 1.0))
        case "num" =>
          // zero-mass parents (see flatFractional): frac 0, never 0/0
          val pm = nidMass(r.prid).toDouble
          def fr(c: Int) = if (pm > 0) nidMass(c) / pm else 0.0
          Seq(PredEdge(r.prid, "num", r.aid, r.boundary, "le", "", r.lrid,
              fr(r.lrid)),
            PredEdge(r.prid, "num", r.aid, r.boundary, "gt", "", r.rrid,
              fr(r.rrid)))
        case _ =>
          val pm = nidMass(r.prid).toDouble
          r.children.toSeq.sortBy(_._1).map { case (v, c) =>
            PredEdge(r.prid, "cat", r.aid, 0.0, "", v, c,
              if (pm > 0) nidMass(c) / pm else 0.0) }
      }
    })
    val names = schema.attrNames
    val withId = df.withColumn("__rowid", monotonically_increasing_id())
    var cur = withId.select(
      (col("__rowid") +: names.map(col)) :+
        lit(1000000L).as("__w") :+ lit(nid(Vector.empty)).as("__nid"): _*)
    edgeLevels.foreach { edges =>
      val edgeDf = edges.toDF("__pnid", "__kind", "__aid", "__boundary",
        "__side", "__catval", "__cnid", "__frac")
      val routeAids = edges.filter(_.kind != "leaf").map(_.aid).toSet
      val routeNum = schema.numericAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
      val routeCat = schema.categoricalAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
      val fracW = floor(col("__w") * col("__frac") + lit(0.5)).cast("long")
      val leafBranch = when(col("__kind") === "leaf", col("__w"))
      val withNum =
        if (routeNum.isEmpty) leafBranch
        else {
          val numv = map(routeNum.flatMap(a =>
            Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("double"))): _*)
          val v = element_at(numv, col("__aid"))
          leafBranch.when(col("__kind") === "num",
            when(col("__side") === "le" && v <= col("__boundary"), col("__w"))
              .when(col("__side") === "gt" && v > col("__boundary"), col("__w"))
              .when(v.isNull, fracW))
        }
      val newW =
        if (routeCat.isEmpty) withNum
        else {
          val catv = map(routeCat.flatMap(a =>
            Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("string"))): _*)
          val cv = element_at(catv, col("__aid"))
          withNum.when(col("__kind") === "cat",
            when(cv === col("__catval"), col("__w")).when(cv.isNull, fracW))
        }
      cur = cur.join(broadcast(edgeDf), cur("__nid") === edgeDf("__pnid"))
        .withColumn("__wN", newW)
        .filter(col("__wN").isNotNull && col("__wN") > 0)
        .drop("__nid", "__w", "__pnid", "__kind", "__aid", "__boundary",
          "__side", "__catval", "__frac")
        .withColumnRenamed("__cnid", "__nid")
        .withColumnRenamed("__wN", "__w")
    }
    val labelDf = leaves.map(r => (nid(r.conditions), r.label.get))
      .toDF("__lnid", "__lbl")
    val sums = classes.map(c =>
      sum(when(col("__lbl") === lit(c), col("__w")).otherwise(lit(0L)))
        .as(s"__wc_$c"))
    val votes = cur.join(broadcast(labelDf), col("__nid") === col("__lnid"))
      .groupBy("__rowid")
      .agg(sums.head, sums.tail: _*)
    val pred = argmaxPred(classes.map(c => c -> col(s"__wc_$c")))
    Some(withId.join(votes, Seq("__rowid"), "left")
      .withColumn(outputCol,
        when(col(s"__wc_${classes.head}").isNull, lit(majority)).otherwise(pred))
      .drop((("__rowid" +: classes.map(c => s"__wc_$c"))): _*))
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
  * at one level have mutually disjoint predicates, so a single flat
  * CASE WHEN assigns each row its rule id, and one shuffled aggregation
  * per attribute kind scores every (rule, attribute) pair — replacing
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
/** One row of the broadcast routing table for deep frontiers: how a
  * PARENT rule (by its rid at the previous level) routes its rows to
  * child rids at this level. `kind` = "num" (boundary + left/right
  * child) or "cat" (value → child map); closed parents simply have no
  * row, so their rows drop out of the inner join — the same fate the
  * flat CASE WHEN gives them via the `-1` → filter. (Top-level, not
  * nested in the object: a private nested case class defeats the
  * encoder's generated code and forces interpreted fallback.) */
private[fit] case class Route(prid: Int, kind: String, aid: Int,
                              boundary: Double, lrid: Int, rrid: Int,
                              children: Map[String, Int])

/** Exploded routing row for the FRACTIONAL-weight path: one row per
  * (parent rule, child rule) edge, carrying the one condition that
  * selects the child ("num" side le/gt of `boundary`, or "cat"
  * equality on `catval`) and `frac` — the child's share of the
  * parent's KNOWN mass on the split attribute, which is the weight
  * multiplier a null-valued row receives for this child (Quinlan's
  * C4.5 unknown-value distribution). The join fans each parent row out
  * to its children and the weight expression keeps exactly one branch
  * for a known value (full weight) or all branches for a null
  * (fractional weights). */
private[fit] case class RouteX(prid: Int, kind: String, aid: Int,
                               boundary: Double, side: String,
                               catval: String, crid: Int, frac: Double)

/** One routing edge for the wide-model fractional PREDICT level-walk
  * ([[C45Model.transformFractional]]): like [[RouteX]] but in node-id
  * space with leaf self-loops, `frac` = the child subtree's share of
  * its parent's training mass. (Top-level for the same encoder reason
  * as [[Route]].) */
private[fit] case class PredEdge(pnid: Int, kind: String, aid: Int,
                                 boundary: Double, side: String,
                                 catval: String, cnid: Int, frac: Double)

object C45 {

  private[fit] case class Cand(aid: Int, gainRatio: Double, gain: Double,
                               boundary: Option[Double], fracLeft: Double = 0.0)

  /** Driver-side statistics of one level, derived from one histogram
    * collect: the per-rule class marginals plus per-(rule, attr) split
    * candidates. Extracted from the fit loop so the fused k-fold fit
    * ([[fitFolds]]) replays the exact same math on its per-fold cell
    * slices — bit-identical decisions by construction. */
  private[fit] case class LevelStats(
      clsCounts: Map[Int, Map[String, Long]],
      cat: Map[(Int, Int), Cand],
      catValues: Map[(Int, Int), Seq[(String, Long)]],
      num: Map[(Int, Int), Cand])

  /** What one level's driver-side decision pass produced: rules closed
    * this level (with their exact-micros mass and class distribution),
    * the next frontier, the routing rows the next level's deep-frontier
    * join would need, gain-importance increments, and the (possibly
    * newly fixed) global majority. */
  private[fit] case class LevelDecision(
      closedAdd: Vector[(Rule, Long, Map[String, Long])],
      nextOpen: Vector[Rule],
      routes: Seq[Route], routesX: Seq[RouteX],
      importanceAdd: Seq[(Int, Double)],
      globalMajority: Option[String])

  /** The flat frontier-routing expression: first-match CASE WHEN over
    * the open rules' root-to-leaf conjunctions, -1 = no rule (row
    * leaves the fit). Shared by [[fit]]'s small-frontier path and the
    * fused fold fit so rid assignment is identical by construction. */
  private[fit] def flatRidColumn(open: Vector[Rule], names: Seq[String]): Column = {
    val first = when(open.head.toPredicate(names), 0)
    open.zipWithIndex.tail.foldLeft(first) { case (acc, (r, i)) =>
      acc.when(r.toPredicate(names), lit(i))
    }.otherwise(lit(-1))
  }

  /** The fractional route-weight expression over a RouteX join's
    * output columns (__w, __frac, __kind, __aid, __boundary, __side,
    * __catval, plus the row's live attribute values): full weight
    * where the value selects this child, frac-rounded micros on EVERY
    * child where the value is NULL, null (row leaves) otherwise. ONE
    * builder shared by [[fit]]'s sequential fan-out and [[fitFolds]]'
    * fused fold fan-out, so the rounding/branch semantics can never
    * diverge between the two paths whose bit-identity CrossValSpec
    * pins. Rounding to whole micros keeps downstream sums exact
    * integers; a weight rounding to 0 is dropped by the caller. */
  private[fit] def routeXWeight(routeNum: Seq[graft.meta.AttrMeta],
      routeCat: Seq[graft.meta.AttrMeta], schema: C45Schema): Column = {
    val fracW = floor(col("__w") * col("__frac") + lit(0.5)).cast("long")
    val numBranch =
      if (routeNum.isEmpty) None
      else {
        val numvCol = map(routeNum.flatMap(a =>
          Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("double"))): _*)
        val v = element_at(numvCol, col("__aid"))
        Some(when(col("__kind") === "num",
          when(col("__side") === "le" && v <= col("__boundary"), col("__w"))
            .when(col("__side") === "gt" && v > col("__boundary"), col("__w"))
            .when(v.isNull, fracW)))
      }
    val catBranchOf: Column => Column = prev => {
      val catvCol = map(routeCat.flatMap(a =>
        Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("string"))): _*)
      val cv = element_at(catvCol, col("__aid"))
      val hit = when(cv === col("__catval"), col("__w"))
        .when(cv.isNull, fracW)
      if (prev == null) when(col("__kind") === "cat", hit)
      else prev.when(col("__kind") === "cat", hit)
    }
    (numBranch, routeCat.isEmpty) match {
      case (Some(nb), true)  => nb
      case (Some(nb), false) => catBranchOf(nb)
      case (None, false)     => catBranchOf(null)
      case (None, true)      => lit(null)
    }
  }

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
          val labels = classLabels.sorted
          val byVal = cs.groupBy(_._3)
            .map { case (v, g) =>
              v.toDouble -> labels.map(c =>
                g.filter(_._4 == c).map(_._5).sum)
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
    routes.foreach { rt =>
      val slice = cells.filter(c => c._1 == rt.prid && c._2 == rt.aid)
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
      } else rt.children.foreach { case (v, crid) =>
        val m = slice.iterator.filter(_._3 == v).toSeq.groupBy(_._4)
          .map { case (c, g) => c -> g.map(_._5).sum }
        if (m.nonEmpty) out += crid -> m
      }
    }
    out.result()
  }

  /** Driver-side per-rule decision (O3/O4): tiny tables only. The
    * same pass records each split as a Route row so the next level
    * can broadcast-join its way to child rids if its frontier is
    * deep (child rid = position in nextOpen, by construction the
    * index the flat CASE WHEN would assign too). */
  private[fit] def decideLevel(open: Vector[Rule], level: Int, st: LevelStats,
      schema: C45Schema, params: C45Params, classLabels: Seq[String],
      fractional: Boolean, unit: Double,
      globalMajority0: Option[String]): LevelDecision = {
    val closedAdd = Vector.newBuilder[(Rule, Long, Map[String, Long])]
    val nextOpen = Vector.newBuilder[Rule]
    val routes = Seq.newBuilder[Route]
    val routesX = Seq.newBuilder[RouteX]
    val imp = Seq.newBuilder[(Int, Double)]
    var globalMajority = globalMajority0
    var nextIdx = 0
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
        val cands = (st.cat ++ st.num).collect {
          case ((r, aid), c)
            if r == rid && !rule.usedAttrs.contains(aid) &&
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
              routes += Route(rid, "num", best.aid, b, nextIdx, nextIdx + 1,
                Map.empty)
              if (fractional) {
                routesX += RouteX(rid, "num", best.aid, b, "le", "",
                  nextIdx, best.fracLeft)
                routesX += RouteX(rid, "num", best.aid, b, "gt", "",
                  nextIdx + 1, 1.0 - best.fracLeft)
              }
              nextIdx += 2
            case None =>
              // one child per value observed at this node (#4: children
              // for absent domain values would hold zero rows)
              val vals = st.catValues((rid, best.aid))
              routes += Route(rid, "cat", best.aid, 0.0, -1, -1,
                vals.zipWithIndex.map { case ((v, _), i) => v -> (nextIdx + i) }
                  .toMap)
              if (fractional) {
                val known = vals.map(_._2).sum.toDouble
                vals.zipWithIndex.foreach { case ((v, c), i) =>
                  routesX += RouteX(rid, "cat", best.aid, 0.0, "", v,
                    nextIdx + i, c / known)
                }
              }
              vals.foreach { case (v, _) =>
                nextOpen += rule.withCondition(best.aid, CatEq(v))
              }
              nextIdx += vals.size
          }
        }
      }
    }
    LevelDecision(closedAdd.result(), nextOpen.result(), routes.result(),
      routesX.result(), imp.result(), globalMajority)
  }

  /** Test hook: with -Dgraft.fit.capturePlans=1, every join-routed
    * level's physical plan is recorded here (pre-execution, so the
    * broadcast hint's join choice is visible) — lets specs pin the
    * "one broadcast hash join, no shuffle" routing claim without
    * exposing the loop's internals. */
  private[graft] val capturedRoutePlans =
    new scala.collection.mutable.ArrayBuffer[String]

  def fit(df: DataFrame, schema: C45Schema,
          params: C45Params = C45Params()): C45Model =
    fitWithImportance(df, schema, params)._1

  /** Persist WITHOUT columnar compression — for the level loop's
    * transient routed bases, which live for exactly one level and are
    * scanned exactly twice (this level's histogram, the next level's
    * route join). Dictionary/RLE encoding buys memory at CPU cost on
    * both the build and every scan; for a frame that short-lived it is
    * a net loss (~25% of a join-routed fit at 600k rows). Memory stays
    * bounded: at most one level's base is cached at a time, and
    * MEMORY_AND_DISK spills rather than evicts under pressure. The
    * conf is snapshotted by the InMemoryRelation at persist time, so
    * the temporary set/restore cannot leak to caller caches. */
  private[fit] def persistUncompressed(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val key = "spark.sql.inMemoryColumnarStorage.compressed"
    val old = s.conf.get(key)
    s.conf.set(key, "false")
    try df.persist(StorageLevel.MEMORY_AND_DISK)
    finally s.conf.set(key, old)
  }

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
                        params: C45Params = C45Params()): (C45Model, Map[Int, Double]) = {
    val spark = df.sparkSession
    val names = schema.attrNames
    val clsCol = schema.classCol
    val catAttrs = schema.categoricalAttrs
    val numAttrs = schema.numericAttrs
    // callers that already persisted the input (cross-validation fits
    // k models over one stamped cache; prune/simplify re-scan the
    // training frame after the fit) keep THEIR cache: re-persisting
    // the projection would materialize the ~same bytes again per fit.
    // The level loop then reads through the caller's cache — the
    // projection on top is free at scan time. Detection looks through
    // plan wrappers (a filter-of-cached reports storageLevel NONE, but
    // its resolved plan substitutes the InMemoryRelation).
    val prePersisted = df.storageLevel != StorageLevel.NONE ||
      inputCacheBacked(df)
    val data = {
      val proj = df.select((names :+ clsCol).map(col): _*)
      // widen a narrow-source projection to the session parallelism
      // before caching: the level loop re-scans this cache once per
      // level, and a 1-3-partition cache (one small parquet file)
      // would run every histogram on 1-3 cores (Widen scaladoc)
      if (prePersisted) proj
      else graft.operators.Widen.toParallelism(proj)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {

    // contract: class labels must be non-null (the reference NPEs on a
    // null label, Main.java routing; here a null would silently vanish
    // from the sentinel class-count slice while its row still feeds
    // per-attribute split stats — an inconsistent n). Fail loudly up
    // front instead — one limit-1 job against the just-persisted data.
    // ALL up-front probes in ONE agg job over the just-persisted
    // projection (the common null-free corpus previously paid two full
    // scans: a filter().isEmpty probe only short-circuits when nulls
    // EXIST): the class-label check, whether null attribute values
    // occur at all — the fractional-weight machinery engages only when
    // they do, so a null-free corpus takes the original count-based
    // path byte-for-byte (identical float arithmetic, identical
    // goldens) and pays nothing for the capability — and the binning
    // gate's per-numeric-attr approx-distinct sketches (previously a
    // second full scan; the same fusion fitFolds already does), so
    // the cache-building scan carries everything the level loop needs
    // short of the approxQuantile edges themselves.
    val dcAggs =
      if (params.maxBins <= 0) Seq.empty
      else numAttrs.map(a =>
        approx_count_distinct(col(a.name)).as(s"__dc_${a.name}"))
    val probeAggs = Seq(
      count(when(col(clsCol).isNull, 1)).as("cls"),
      count(when(names.map(col(_).isNull).reduceOption(_ || _)
        .getOrElse(lit(false)), 1)).as("attr")) ++ dcAggs
    val nullProbe = data.agg(probeAggs.head, probeAggs.tail: _*).head()
    require(nullProbe.getLong(0) == 0L,
      s"C45.fit requires non-null class labels: column '$clsCol' contains NULLs")
    val fractional = params.missingMode == "fractional" && names.nonEmpty &&
      nullProbe.getLong(1) > 0L
    // the level loop below is always UNWEIGHTED (fractional mode
    // delegates just past the label discovery): histogram cells are
    // plain row counts and c/unit == c.toDouble
    val unit = 1.0

    // closed class-label set: declared, else discovered once (the
    // reference requires the declared set, Main.java:154-158)
    val classLabels: Seq[String] =
      if (schema.classLabels.nonEmpty) schema.classLabels
      else data.select(col(clsCol).cast("string")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq

    // FRACTIONAL mode delegates to the fused fold machinery at k = 1
    // (fold stamp -1 → every row trains the single fit): decisions are
    // bit-identical by the shared-math construction CrossValSpec pins
    // (fitFolds ≡ sequential fractional fits), and the weighted RouteX
    // chain then carries ONLY null-bearing rows (fitFolds' CLEAN/DIRTY
    // split) — the sequential all-rows fan-out this replaces persisted
    // and re-joined rows×1 per join-routed level regardless of the
    // null rate, where the fused path persists dirty×1 and routes the
    // null-free majority through the flat rid CASE over this cache.
    // The probe's approx-distinct sketches ride along so the binning
    // gate never re-scans.
    if (fractional) {
      val imp = Array.fill(1)(
        scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0))
      val dc =
        if (params.maxBins <= 0 || numAttrs.isEmpty) None
        else Some(numAttrs.map(a =>
          (0, a.name) -> nullProbe.getAs[Long](s"__dc_${a.name}")).toMap)
      val models = fitFolds(data.withColumn("__fold", lit(-1)), "__fold", 1,
        schema.copy(classLabels = classLabels), params, dc,
        fractional = true, importanceOut = imp)
      return (models.head, imp(0).toMap)
    }

    // explode(map(aid -> value)) = the F2 candidate emission, one row
    // per (record, candidate attr), typed per attribute kind
    def attrPairs(attrs: Seq[graft.meta.AttrMeta], castTo: String): Seq[Column] =
      attrs.flatMap(a =>
        Seq(lit(schema.attrIndex(a.name)), col(a.name).cast(castTo)))

    // quantile-bin high-cardinality numeric attributes ONCE (maxBins):
    // the probe's approx-distinct sketches decide which attrs need it,
    // one approxQuantile job produces the edges; values then snap to
    // the smallest edge >= v via a codegen'd binary search, which
    // preserves split semantics exactly (snap(v) <= e ⟺ v <= e for
    // any edge e)
    val binEdges: Map[Int, Array[Double]] =
      if (params.maxBins <= 0 || numAttrs.isEmpty) Map.empty
      else {
        val need = numAttrs.filter(a =>
          nullProbe.getAs[Long](s"__dc_${a.name}") > params.maxBins)
        if (need.isEmpty) Map.empty
        else {
          val probs = (1 until params.maxBins).map(_.toDouble / params.maxBins).toArray
          val qs = data.stat.approxQuantile(need.map(_.name).toArray, probs, 1e-4)
          need.map(_.name).zip(qs).collect {
            case (nm, edges) if edges.nonEmpty =>
              schema.attrIndex(nm) -> edges.distinct.sorted
          }.toMap
        }
      }
    def numValCol(a: graft.meta.AttrMeta): Column = {
      val raw = col(a.name).cast("double")
      binEdges.get(schema.attrIndex(a.name))
        .map(e => graft.functions.SortedCeilSnap.snapTo(e, raw))
        .getOrElse(raw)
    }
    var open = Vector(Rule.root)
    var closed = Vector.empty[Rule]
    // per-leaf training mass in exact micros, aligned with `closed` —
    // the branch-share denominators transformFractional scores with
    var closedMass = Vector.empty[Long]
    // per-leaf class distribution in exact micros, aligned with
    // `closed` — transformProba's per-leaf probability numerators
    var closedDist = Vector.empty[Map[String, Long]]
    val attrImportance = scala.collection.mutable.Map.empty[Int, Double]
      .withDefaultValue(0.0)
    var globalMajority: Option[String] = None
    var level = 0
    // per-level wall-clock diagnostics: -Dgraft.fit.profile=1 (or env
    // GRAFT_FIT_PROFILE=1 through a forked runner, as fitFolds accepts)
    val profile = sys.props.get("graft.fit.profile").contains("1") ||
      sys.env.get("GRAFT_FIT_PROFILE").contains("1")
    // deep-frontier routing state: the previous level's routed base,
    // the routes its decisions produced, and the persisted handle to
    // free once the next level has materialized on top of it
    var prevBase: DataFrame = null
    var pendingRoutes: Seq[Route] = Nil
    // the previous level's collected cells: at level == maxDepth every
    // open rule closes on its class marginal alone, which these cells
    // derive exactly (deriveFinalCounts) — the final histogram job is
    // skipped outright
    var prevCells: Array[(Int, Int, String, String, Long)] = null
    var prevPersisted: Option[DataFrame] = None
    // every join-routed base ever persisted; unpersist is idempotent,
    // so the finally can sweep the whole list even though each level
    // already frees its predecessor eagerly — this covers the level
    // whose stat jobs threw before it became prevPersisted
    val routedPersists = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {

    while (open.nonEmpty && level <= params.maxDepth) {
      if (level == params.maxDepth && level > 0 && prevCells != null) {
        // final level: every open rule closes on its class marginal,
        // derived exactly from the parent's cells — no histogram job
        val st = LevelStats(deriveFinalCounts(prevCells, pendingRoutes),
          Map.empty, Map.empty, Map.empty)
        if (profile)
          println(f"[fit] level=$level rules=${open.size} derived (no job)")
        val d = decideLevel(open, level, st, schema, params, classLabels,
          fractional = false, unit, globalMajority)
        d.closedAdd.foreach { case (r, m, dd) =>
          closed :+= r; closedMass :+= m; closedDist :+= dd }
        globalMajority = d.globalMajority
        open = d.nextOpen
        level += 1
      } else {
      // Routing each row to its (disjoint) open rule. Two plans:
      //  - small frontier: one flat CASE WHEN over the full root-to-leaf
      //    conjunctions — no extra shuffle/persist, and the expression
      //    stays codegen-friendly while it is short;
      //  - deep frontier (open.size > routeJoinThreshold): the CASE
      //    WHEN grows linearly with open leaves (thousands-of-leaves
      //    trees blow past codegen limits and re-evaluate depth-long
      //    conjunctions per rule), so instead route INCREMENTALLY: join
      //    the previous level's routed base against a tiny broadcast
      //    table mapping (parent rid, one split condition) → child rid.
      //    Constant expression size per level, one broadcast hash join,
      //    no shuffle — the Spark analogue of the reference's
      //    distributed-cache rule queue (Main.java:189).
      // (fractional mode never reaches this loop — it delegated to the
      // fused fold machinery above, whose weighted RouteX chain is the
      // one-row-per-(row, child) fan-out a flat rid cannot express)
      val useJoin = level > 0 && open.size > params.routeJoinThreshold
      // attributes used on EVERY open path are dead: the once-per-path
      // rule bars them as candidates for every open rule and therefore
      // for every future route. Drop them from the routed base's cache
      // AND the histogram explode — the frontier's shared prefix grows
      // with depth, so deep trees shed columns (and explode volume) as
      // they grow. Monotone across levels: a child's usedAttrs is a
      // superset of its parent's, so a column absent from the previous
      // level's base is never referenced again.
      val deadAids: Set[Int] = open.map(_.usedAttrs).reduce(_ intersect _)
      val liveCatAttrs = catAttrs.filterNot(a => deadAids(schema.attrIndex(a.name)))
      val liveNumAttrs = numAttrs.filterNot(a => deadAids(schema.attrIndex(a.name)))
      val base =
        if (!useJoin) {
          val ridCol = flatRidColumn(open, names)
          data.withColumn("__rid", ridCol)
            .filter(col("__rid") >= 0)
            .withColumn("__cls", col(clsCol).cast("string"))
        } else {
          import spark.implicits._
          val routeDf = pendingRoutes.toDF(
            "__prid", "__kind", "__aid", "__boundary", "__lrid", "__rrid",
            "__children")
          // raw (un-snapped) values: child predicates compare the raw
          // column exactly as Rule.toPredicate does
          // null attribute values fall into neither branch (both
          // comparisons yield null) → routed rid null → filtered, the
          // same fate the flat CASE WHEN gives them via `-1`. Each
          // branch exists only when its attribute class does: a
          // categorical-only schema gets no num subtree at all (not a
          // dead element_at over a NullType map), and vice versa.
          // the route maps cover only the attrs the pending routes
          // actually split on — those were candidates at the previous
          // level, so they are guaranteed alive in prevBase even after
          // dead-column slimming (and the expression stays minimal)
          val routeAids = pendingRoutes.map(_.aid).toSet
          val routeNum = numAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
          val routeCat = catAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
          val numBranch =
            if (routeNum.isEmpty) None
            else {
              val numvCol = map(routeNum.flatMap(a =>
                Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("double"))): _*)
              Some(when(col("__kind") === "num",
                when(element_at(numvCol, col("__aid")) <= col("__boundary"), col("__lrid"))
                  .when(element_at(numvCol, col("__aid")) > col("__boundary"), col("__rrid"))))
            }
          val catBranchOf: Column => Column = prev => {
            val catvCol = map(attrPairs(routeCat, "string"): _*)
            val hit = element_at(col("__children"), element_at(catvCol, col("__aid")))
            if (prev == null) when(col("__kind") === "cat", hit)
            else prev.when(col("__kind") === "cat", hit)
          }
          val routedRid = (numBranch, routeCat.isEmpty) match {
            case (Some(nb), true)  => nb
            case (Some(nb), false) => catBranchOf(nb)
            case (None, false)     => catBranchOf(null)
            case (None, true)      => lit(null) // no routes: route nothing
          }
          val routed = prevBase
            .join(broadcast(routeDf), prevBase("__rid") === routeDf("__prid"))
            .withColumn("__ridNext", routedRid)
            .filter(col("__ridNext").isNotNull)
            .drop("__rid", "__prid", "__kind", "__aid", "__boundary",
              "__lrid", "__rrid", "__children")
            .withColumnRenamed("__ridNext", "__rid")
            // dead columns (shared path prefix) leave the cache here;
            // .drop is lenient about ones the previous level already shed
            .drop(names.filter(n => deadAids(schema.attrIndex(n))): _*)
          if (sys.props.get("graft.fit.capturePlans").contains("1"))
            capturedRoutePlans.synchronized {
              capturedRoutePlans += s"routes=${pendingRoutes.size}\n" +
                routed.queryExecution.executedPlan.toString
            }
          // the persist exists for the NEXT level's route join; at
          // level == maxDepth every open rule closes (depth == level),
          // so there is no next level and caching would be pure cost
          if (level < params.maxDepth) persistUncompressed(routed)
          else routed
        }
      if (useJoin && level < params.maxDepth) routedPersists += base

      // ONE scan of the routed base produces EVERY per-level statistic
      // (the histogram-aggregation shape — executors build bounded
      // contingency histograms, the driver picks the splits; the
      // reference instead streams every raw (rule,attr,val,cls) PAIR
      // through one reducer, MyReducer.java:36-206). A single explode
      // carries a class sentinel (aid = -1), the categorical values as
      // strings, and the (quantile-snapped) numeric values cast to
      // string — doubles round-trip exactly through Double.toString —
      // and ONE partially-aggregated groupBy collapses the data to
      // (rule, attr, value, class) cells. Cell cardinality is bounded
      // by #rules × #attrs × #values × #classes with #values ≤ maxBins
      // by the binning contract — O(model), never O(data) — so the
      // entropy / gain-ratio / boundary-scan math runs driver-side in
      // deterministic sorted order. This replaced three concurrent
      // Spark stat jobs (categorical stats, numeric window scan, class
      // counts) and their persisted intermediate: one job, one
      // collect, one scan of base per level (~2.5× faster per level at
      // 600k rows; identical decisions — golden-pinned).
      // The val-null filter drops null ATTRIBUTE values (unsupported
      // in fit, as in the reference which would NPE on them; such rows
      // still count for every other attribute); the class label is
      // never null (checked up front), so the aid = -1 slice is the
      // exact (rid, cls) marginal and majority/pure checks are unskewed.
      // at the final level only the class marginal (aid = -1) is ever
      // consumed — every open rule closes on it (decideLevel's depth
      // gate), so the attribute slices would be exploded, shuffled and
      // thrown away (reached only when the elision above could not
      // fire; kept exact either way)
      val allPairs: Seq[Column] =
        if (level == params.maxDepth) Seq(lit(-1), col("__cls"))
        else Seq(lit(-1), col("__cls")) ++ attrPairs(liveCatAttrs, "string") ++
          liveNumAttrs.flatMap(a => Seq(lit(schema.attrIndex(a.name)),
            numValCol(a).cast("string")))
      // cell counts are plain row counts — an order-independent
      // integer agg
      val tLevel0 = System.nanoTime()
      val cells: Array[(Int, Int, String, String, Long)] = {
        val b0 = base.select(col("__rid"), col("__cls").as("cls"),
          lit(1L).as("__w"),
          explode(map(allPairs: _*)).as(Seq("aid", "val")))
        b0.filter(col("val").isNotNull)
          .groupBy("__rid", "aid", "val", "cls")
          .agg(sum(col("__w")).as("cnt"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
            r.getLong(4)))
      }

      val st = levelStats(cells, schema, classLabels, fractional = false,
        unit, params)
      if (profile) {
        val t = (System.nanoTime() - tLevel0) / 1e9
        println(f"[fit] level=$level rules=${open.size} cells=${cells.length} stats=$t%.2fs")
      }
      val d = decideLevel(open, level, st, schema, params, classLabels,
        fractional = false, unit, globalMajority)
      d.closedAdd.foreach { case (r, m, dd) =>
        closed :+= r; closedMass :+= m; closedDist :+= dd }
      d.importanceAdd.foreach { case (a, v) => attrImportance(a) += v }
      globalMajority = d.globalMajority
      open = d.nextOpen
      pendingRoutes = d.routes
      prevCells = cells
      // the next level (if join-routed) chains off THIS level's base;
      // the previous persisted base is now safe to free — this level's
      // stat jobs have already materialized on top of it
      prevPersisted.foreach(_.unpersist())
      prevPersisted = if (useJoin) Some(base) else None
      prevBase = base
      level += 1
      }
    }
    // maxDepth exhaustion: close any survivors as majority leaves (#4)
    open.foreach { r =>
      closed :+= r.closed(globalMajority.getOrElse(classLabels.head))
      closedMass :+= 0L
      closedDist :+= Map.empty
    }
    (C45Model(schema.copy(classLabels = classLabels), closed,
      globalMajority.getOrElse(classLabels.head), closedMass, closedDist),
      attrImportance.toMap)
    // the fit is fully eager: failed level jobs must not strand cached
    // blocks — free the routed-base chain, then the training projection
    } finally routedPersists.foreach(_.unpersist())
    } finally { if (!prePersisted) data.unpersist() }
  }

  /** Fused k-fold fitting: train k C4.5 models — model f on the rows
    * whose `foldCol` != f — with ONE histogram job per tree level
    * shared by ALL k fits, instead of k independent fits each scanning
    * the base once per level (the round-11 flagged cost: cross-
    * validation was k × fit = 3k+ scans of base for a depth-d tree).
    *
    * Mechanics: every row fans out to the (k-1) fits it trains via an
    * `explode(map(fit → rid))` whose per-fit rid expression is exactly
    * [[flatRidColumn]] over that fit's frontier (held-out rows get -1
    * and drop). A second explode emits the per-fit (attr, value) pairs
    * — per-fit maps selected by a CASE on the fit tag, so each fit
    * sees its own live attributes and its own quantile-bin snapping —
    * and one partially-aggregated `groupBy(fit, rid, aid, val, cls)`
    * collapses everything to O(k × model) cells in a single job. The
    * driver then replays [[levelStats]] + [[decideLevel]] per fit on
    * its slice: bit-identical decisions to k independent fits, because
    * the cell counts and the driver math are identical by construction.
    * Shuffle volume is pre-aggregated counts (k× a single fit's, the
    * same total the k separate jobs shuffled); what's saved is (k-1)
    * scans of base per level plus per-fit job overhead — at 100 TB the
    * dominant cost. Total explode volume is unchanged vs sequential:
    * rows × (k-1) × attrs either way.
    *
    * Frontiers are routed FLAT at any width here (no join-routing) in
    * the unweighted path: rid assignment still matches the sequential
    * fit exactly (the join-routed rid is pinned to equal the flat rid
    * by construction — see the Route scaladoc), so results are
    * identical; only the expression size grows with very deep
    * frontiers.
    *
    * With `fractional = true` (null attribute values under
    * missing-mode "fractional"), a flat rid cannot express membership
    * — a null-valued row belongs to EVERY child of its rule's split
    * with fractional weight — so the fused fit instead maintains ONE
    * `__fit`-tagged weighted routed base across levels, exactly the
    * sequential fit's RouteX broadcast-join fan-out but with the fit
    * tag riding in the join key: level 0 fans `stamped` out to the
    * (k-1) fits each row trains (the same explode volume the flat
    * path pays), each later level joins the previous base against the
    * union of all fits' routing edges, and the per-level histogram is
    * one weighted `groupBy(fit, rid, aid, val, cls)` over that base.
    * Decisions stay bit-identical to k sequential fractional fits: the
    * weight expression ([[routeXWeight]], shared with [[fit]]), micro
    * rounding, and driver math are shared code, and integer weight
    * sums are order-independent under any partitioning. This replaces
    * the former fallback of k sequential fits (k scans of base per
    * level) for null-bearing corpora. Peak cache is capped by a
    * CLEAN/DIRTY split (round 17): only rows with a null attribute
    * value can fan out, so only they ride the weighted chain — each
    * join-routed level persists dirty×(k-1) rows, not rows×(k-1),
    * while the null-free majority re-routes per fit through the flat
    * rid CASE over the caller's rows×1 cache (one union, still ONE
    * aggregation job per level; a clean row's chain contribution was
    * exactly W1 at its pinned flat rid, so cells are bit-identical).
    * At a typical few-percent null rate the persisted state is ≈
    * rows×1; a fully-null corpus degrades to the old rows×(k-1)
    * shape, MEMORY_AND_DISK, one level at a time.
    *
    * Mass-scale caveat (round-16 advice): the fractional decision is
    * GLOBAL — if any fold carries null attribute values, all k fits
    * run micro-weighted. This does NOT change the recorded
    * `leafMass`/`leafDist` scale for a fit whose training complement
    * happens to be null-free: rows without nulls never fan out, so
    * every weight is exactly 10⁶ and the recorded micros equal a
    * direct `C45.fit` on that subset bit-for-bit (drop-mode fits
    * record counts × 10⁶ — same scale; MassScaleSpec pins all three
    * corners).
    *
    * Contract: `stamped` is persisted by the caller and contains
    * `foldCol` (int in [0, k)) + the schema's attributes + class
    * column; class labels are non-null (caller-probed).
    * `approxDistinct` optionally carries the per-(fit, numeric attr)
    * approx-distinct counts when the caller already aggregated them
    * (crossValidate folds them into its null-probe scan); absent, one
    * batched gating job runs here. */
  private[fit] def fitFolds(stamped: DataFrame, foldCol: String, k: Int,
      schema: C45Schema, params: C45Params,
      approxDistinct: Option[Map[(Int, String), Long]] = None,
      fractional: Boolean = false,
      importanceOut: Array[scala.collection.mutable.Map[Int, Double]] = null)
      : Seq[C45Model] = {
    val names = schema.attrNames
    val clsCol = schema.classCol
    val catAttrs = schema.categoricalAttrs
    val numAttrs = schema.numericAttrs
    val fits = 0 until k
    val profile = sys.props.get("graft.fit.profile").contains("1") ||
      sys.env.get("GRAFT_FIT_PROFILE").contains("1")

    // per-fit class-label sets: declared, else discovered in ONE job
    // (label → set of folds containing it; fit f trains on folds != f)
    val classLabelsByFit: Seq[Seq[String]] =
      if (schema.classLabels.nonEmpty) fits.map(_ => schema.classLabels)
      else {
        val rows = stamped.groupBy(col(clsCol).cast("string").as("c"))
          .agg(collect_set(col(foldCol)).as("fs")).collect()
        val pairs = rows.map(r => r.getString(0) -> r.getSeq[Int](1).toSet)
        fits.map(f => pairs.collect {
          case (c, fs) if fs.exists(_ != f) => c }.sorted.toSeq)
      }

    // per-fit quantile binning, mirroring fit's maxBins contract: ONE
    // batched approx-distinct job gates (HLL sketches are set-valued,
    // so the when()-filtered agg equals the sequential filtered scan),
    // then per-fit approxQuantile through the SAME API the sequential
    // fit uses — identical edges, identical snapping
    val tBins0 = System.nanoTime()
    val binEdgesByFit: Map[Int, Map[Int, Array[Double]]] =
      if (params.maxBins <= 0 || numAttrs.isEmpty)
        fits.map(_ -> Map.empty[Int, Array[Double]]).toMap
      else {
        val dc: Map[(Int, String), Long] = approxDistinct.getOrElse {
          val aggs = for { f <- fits; a <- numAttrs } yield
            approx_count_distinct(when(col(foldCol) =!= f, col(a.name)))
              .as(s"dc_${f}_${a.name}")
          val dcRow = stamped.agg(aggs.head, aggs.tail: _*).collect()(0)
          (for { f <- fits; a <- numAttrs } yield
            (f, a.name) -> dcRow.getAs[Long](s"dc_${f}_${a.name}")).toMap
        }
        fits.map { f =>
          val need = numAttrs.filter(a => dc((f, a.name)) > params.maxBins)
          val edges =
            if (need.isEmpty) Map.empty[Int, Array[Double]]
            else {
              val probs = (1 until params.maxBins)
                .map(_.toDouble / params.maxBins).toArray
              val qs = stamped.filter(col(foldCol) =!= f)
                .stat.approxQuantile(need.map(_.name).toArray, probs, 1e-4)
              need.map(_.name).zip(qs).collect {
                case (nm, es) if es.nonEmpty =>
                  schema.attrIndex(nm) -> es.distinct.sorted
              }.toMap
            }
          f -> edges
        }.toMap
      }
    if (profile && params.maxBins > 0 && numAttrs.nonEmpty)
      println(f"[fitFolds] binning (gate + per-fit approxQuantile): " +
        f"${(System.nanoTime() - tBins0) / 1e9}%.2fs")

    def numValColF(f: Int)(a: graft.meta.AttrMeta): Column = {
      val raw = col(a.name).cast("double")
      binEdgesByFit(f).get(schema.attrIndex(a.name))
        .map(e => graft.functions.SortedCeilSnap.snapTo(e, raw))
        .getOrElse(raw)
    }

    final class FState {
      var open: Vector[Rule] = Vector(Rule.root)
      var closed: Vector[Rule] = Vector.empty
      var closedMass: Vector[Long] = Vector.empty
      var closedDist: Vector[Map[String, Long]] = Vector.empty
      var globalMajority: Option[String] = None
      var routesX: Seq[RouteX] = Nil
      // previous level's routes + cells: lets the final level close on
      // derived class marginals with no histogram job (drop mode only
      // — see deriveFinalCounts)
      var routes: Seq[Route] = Nil
      var cells: Array[(Int, Int, String, String, Long)] = null
    }
    val state = Array.fill(k)(new FState)
    val W1 = 1000000L
    val unit = if (fractional) 1e6 else 1.0
    var level = 0
    // fractional routing state, mirroring fit's: the previous level's
    // fused routed base and the persisted handles to sweep on failure
    var prevBase: DataFrame = null
    var prevPersisted: Option[DataFrame] = None
    val routedPersists = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
    while (state.exists(_.open.nonEmpty) && level <= params.maxDepth) {
      val tLevel0 = System.nanoTime()
      val active = fits.filter(f => state(f).open.nonEmpty)
      if (!fractional && level == params.maxDepth && level > 0 &&
          active.forall(f => state(f).cells != null)) {
        // final level, drop mode: every open rule closes on its class
        // marginal, derived exactly from the parent's cells — the
        // widest histogram job of the fused fit is skipped outright
        active.foreach { f =>
          val s = state(f)
          val st = LevelStats(deriveFinalCounts(s.cells, s.routes),
            Map.empty, Map.empty, Map.empty)
          val d = decideLevel(s.open, level, st, schema, params,
            classLabelsByFit(f), fractional, unit, s.globalMajority)
          d.closedAdd.foreach { case (r, m, dd) =>
            s.closed :+= r; s.closedMass :+= m; s.closedDist :+= dd }
          s.globalMajority = d.globalMajority
          s.open = d.nextOpen
        }
        if (profile)
          println(f"[fitFolds] level=$level fits=${active.size} derived (no job)")
        level += 1
      } else {
      val attrMaps: Seq[(Int, Column)] = active.map { f =>
        val deadAids = state(f).open.map(_.usedAttrs).reduce(_ intersect _)
        val liveCat = catAttrs.filterNot(a => deadAids(schema.attrIndex(a.name)))
        val liveNum = numAttrs.filterNot(a => deadAids(schema.attrIndex(a.name)))
        // final level: only the class marginal is consumed (every open
        // rule closes on depth) — skip the attribute slices outright
        val pairs: Seq[Column] =
          if (level == params.maxDepth) Seq(lit(-1), col("__cls"))
          else Seq(lit(-1), col("__cls")) ++
            liveCat.flatMap(a =>
              Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("string"))) ++
            liveNum.flatMap(a => Seq(lit(schema.attrIndex(a.name)),
              numValColF(f)(a).cast("string")))
        (f, map(pairs: _*))
      }
      val mapByFit: Column =
        if (attrMaps.size == 1) attrMaps.head._2
        else attrMaps.tail.foldLeft(
          when(col("__fit") === attrMaps.head._1, attrMaps.head._2)) {
          case (acc, (f, m)) => acc.when(col("__fit") === f, m)
        }
      def groupRows(rows: Array[org.apache.spark.sql.Row]):
          Map[Int, Array[(Int, Int, String, String, Long)]] =
        rows.groupBy(_.getInt(0)).view.mapValues(_.map(r =>
          (r.getInt(1), r.getInt(2), r.getString(3), r.getString(4),
            r.getLong(5)))).toMap
      // only rows carrying a null attribute value can ever FAN OUT —
      // a null-free row holds its full weight down exactly one path of
      // every fit (each per-condition factor is 0 or 1). So the
      // weighted RouteX chain carries ONLY the null-bearing ("dirty")
      // rows; the null-free majority routes per fit with the same flat
      // rid CASE the unweighted path uses, at constant weight W1, read
      // straight through the caller's rows×1 cache each level. This
      // caps the chain's persisted state at dirty×(k-1) instead of
      // rows×(k-1) per join-routed level (the round-16 peak-cache
      // flag) while keeping cells bit-identical: in the full fan-out a
      // clean row contributed exactly W1 at its flat rid (the routed
      // crid is pinned equal to the flat rid by construction).
      lazy val dirtyCol: Column = names.map(col(_).isNull)
        .reduceOption(_ || _).getOrElse(lit(false))
      // the level-0 fan-out base of the DIRTY rows, shared below: one
      // row per (dirty row, fit) edge for the (k-1) fits each row
      // trains, at full weight and root rid. Lazy — only the paths
      // that scan or chain off it pay.
      def rootFanout: DataFrame = stamped
        .filter(dirtyCol)
        .withColumn("__cls", col(clsCol).cast("string"))
        .withColumn("__fit",
          explode(array(fits.map(f => lit(f)): _*)))
        .filter(col(foldCol) =!= col("__fit"))
        .withColumn("__rid", flatRidColumn(Vector(Rule.root), names))
        .filter(col("__rid") >= 0)
        .withColumn("__w", lit(W1))
        .select(col("__fit") +: col("__rid") +: col("__w") +:
          col("__cls") +: names.map(col): _*)
      // level-0 shortcut shared by both paths: at the root every fit
      // holds rid 0 at full weight, and with no per-fit quantile
      // binning every fit's attr map is identical — so each fit's
      // cells are a driver-side composition of ONE per-fold marginal
      // (cells(f) = Σ over folds ≠ f of byFold(fold, ·)) and the
      // (k-1)-way row fan-out never runs for the histogram: the
      // corpus-sized level aggregates k× less exploded volume. Exact
      // long sums — bit-identical cells to the fan-out aggregation.
      val marginal0 = level == 0 && binEdgesByFit.values.forall(_.isEmpty)
      // one description per LEVEL, set for every job the level's
      // histogram launches (the collect plus any broadcast builds it
      // triggers): makes the Spark UI read "which level is running",
      // and gives CrossValSpec a stable one-query-per-level witness
      // (distinct descriptions == levels) instead of stage-name
      // matching
      val sc = stamped.sparkSession.sparkContext
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"graft.fitFolds level=$level k=$k histogram")
      val cellsByFit: Map[Int, Array[(Int, Int, String, String, Long)]] =
        try {
        if (marginal0) {
          // level 1's route join (fractional) chains off the DIRTY
          // fan-out — expose it lazily; nothing materializes it this
          // level (clean rows re-enter per level via the flat rid side)
          if (fractional) prevBase = rootFanout
          val pairs: Seq[Column] = Seq(lit(-1), col("__cls")) ++
            catAttrs.flatMap(a =>
              Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("string"))) ++
            numAttrs.flatMap(a => Seq(lit(schema.attrIndex(a.name)),
              col(a.name).cast("double").cast("string")))
          val byFold = stamped
            .withColumn("__cls", col(clsCol).cast("string"))
            .select(col(foldCol).as("__fold"), col("__cls").as("cls"),
              explode(map(pairs: _*)).as(Seq("aid", "val")))
            .filter(col("val").isNotNull)
            .groupBy("__fold", "aid", "val", "cls")
            .agg(sum(lit(1L)).as("cnt"))
            .collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
              r.getString(3), r.getLong(4)))
          val w0 = if (fractional) W1 else 1L
          active.map { f =>
            f -> byFold.iterator.filter(_._1 != f).toSeq
              .groupBy(t => (t._2, t._3, t._4))
              .map { case ((aid, v, c), g) =>
                (0, aid, v, c, g.map(_._5).sum * w0) }
              .toArray
          }.toMap
        } else if (!fractional) {
          val ridPairs: Seq[Column] = active.flatMap { f =>
            Seq(lit(f), when(col(foldCol) === f, lit(-1))
              .otherwise(flatRidColumn(state(f).open, names)))
          }
          groupRows(stamped
            .withColumn("__cls", col(clsCol).cast("string"))
            .select(col("__cls") +: names.map(col) :+
              explode(map(ridPairs: _*)).as(Seq("__fit", "__rid")): _*)
            .filter(col("__rid") >= 0)
            .select(col("__fit"), col("__rid"), col("__cls").as("cls"),
              explode(mapByFit).as(Seq("aid", "val")))
            .filter(col("val").isNotNull)
            .groupBy("__fit", "__rid", "aid", "val", "cls")
            .agg(sum(lit(1L)).as("cnt"))
            .collect())
        } else {
          val spark = stamped.sparkSession
          import spark.implicits._
          val base =
            if (level == 0) rootFanout
            else {
              // one broadcast join against the union of every active
              // fit's routing edges — the sequential fit's fractional
              // fan-out with the fit tag riding in the join key. A fit
              // that finished contributes no edges, so its rows drop
              // out of the base here.
              val xr = active.flatMap(f => state(f).routesX.map(x =>
                (f, x.prid, x.kind, x.aid, x.boundary, x.side, x.catval,
                  x.crid, x.frac)))
              val routeDf = xr.toDF("__pfit", "__prid", "__kind", "__aid",
                "__boundary", "__side", "__catval", "__crid", "__frac")
              val routeAids = xr.map(_._4).toSet
              val routeNum = numAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
              val routeCat = catAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
              // attrs used on every open path of EVERY active fit leave
              // the fused cache (each fit's histogram map already skips
              // its own dead attrs)
              val deadAll = active.map(f =>
                state(f).open.map(_.usedAttrs).reduce(_ intersect _))
                .reduce(_ intersect _)
              prevBase
                .join(broadcast(routeDf),
                  prevBase("__fit") === routeDf("__pfit") &&
                    prevBase("__rid") === routeDf("__prid"))
                .withColumn("__wN", routeXWeight(routeNum, routeCat, schema))
                .filter(col("__wN").isNotNull && col("__wN") > 0)
                .drop("__rid", "__w", "__pfit", "__prid", "__kind", "__aid",
                  "__boundary", "__side", "__catval", "__frac")
                .withColumnRenamed("__crid", "__rid")
                .withColumnRenamed("__wN", "__w")
                .drop(names.filter(n => deadAll(schema.attrIndex(n))): _*)
            }
          // level 0 reads through the caller's stamped cache (the fan-
          // out recompute is one explode over that cache — same policy
          // as fit's unpersisted flat level); join-routed levels persist
          // for the NEXT level's route join, freed once it materializes
          val based =
            if (level >= 1 && level < params.maxDepth) {
              val p = persistUncompressed(base); routedPersists += p; p
            } else base
          // dirty side: the weighted chain's exploded histogram rows;
          // clean side: flat per-fit rids over the null-free slice of
          // the caller's cache at weight W1. One union, ONE
          // aggregation job per level — exact long sums, so the merge
          // is order-independent and bit-identical to the all-rows
          // fan-out this replaces.
          val dirtySide = based
            .select(col("__fit"), col("__rid"), col("__cls").as("cls"),
              col("__w"), explode(mapByFit).as(Seq("aid", "val")))
          val ridPairs: Seq[Column] = active.flatMap { f =>
            Seq(lit(f), when(col(foldCol) === f, lit(-1))
              .otherwise(flatRidColumn(state(f).open, names)))
          }
          val cleanSide = stamped
            .filter(!dirtyCol)
            .withColumn("__cls", col(clsCol).cast("string"))
            .select(col("__cls") +: names.map(col) :+
              explode(map(ridPairs: _*)).as(Seq("__fit", "__rid")): _*)
            .filter(col("__rid") >= 0)
            .select(col("__fit"), col("__rid"), col("__cls").as("cls"),
              lit(W1).as("__w"), explode(mapByFit).as(Seq("aid", "val")))
          val rows = dirtySide.unionByName(cleanSide)
            .filter(col("val").isNotNull)
            .groupBy("__fit", "__rid", "aid", "val", "cls")
            .agg(sum(col("__w")).as("cnt"))
            .collect()
          prevPersisted.foreach(_.unpersist())
          prevPersisted =
            if (level >= 1 && level < params.maxDepth) Some(based) else None
          prevBase = based
          groupRows(rows)
        }
        } finally sc.setJobDescription(prevDesc)
      if (profile) {
        val t = (System.nanoTime() - tLevel0) / 1e9
        println(f"[fitFolds] level=$level fits=${active.size} " +
          f"cells=${cellsByFit.values.map(_.length).sum} hist=$t%.2fs")
      }
      active.foreach { f =>
        val cells: Array[(Int, Int, String, String, Long)] =
          cellsByFit.getOrElse(f, Array.empty)
        val s = state(f)
        val st = levelStats(cells, schema, classLabelsByFit(f),
          fractional, unit, params)
        val d = decideLevel(s.open, level, st, schema, params,
          classLabelsByFit(f), fractional, unit, s.globalMajority)
        d.closedAdd.foreach { case (r, m, dd) =>
          s.closed :+= r; s.closedMass :+= m; s.closedDist :+= dd }
        if (importanceOut != null)
          d.importanceAdd.foreach { case (a, v) => importanceOut(f)(a) += v }
        s.globalMajority = d.globalMajority
        s.open = d.nextOpen
        s.routesX = d.routesX
        s.routes = d.routes
        s.cells = cells
      }
      level += 1
      }
    }
    } finally routedPersists.foreach(_.unpersist())
    fits.map { f =>
      val s = state(f)
      val labels = classLabelsByFit(f)
      // maxDepth exhaustion: close survivors as majority leaves (#4)
      s.open.foreach { r =>
        s.closed :+= r.closed(s.globalMajority.getOrElse(labels.head))
        s.closedMass :+= 0L
        s.closedDist :+= Map.empty
      }
      C45Model(schema.copy(classLabels = labels), s.closed,
        s.globalMajority.getOrElse(labels.head), s.closedMass, s.closedDist)
    }
  }
}
