package graft.fit

import graft.functions.{SortedCeilSnap, TreeLeaf}
import graft.meta.C45Schema
import graft.model.{Rule, Split}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The level loop every C4.5 fitter grows through: the plain fit, the
  * cross-validation folds, the forest and every boost round are K
  * models grown side by side over one training frame — the reference's
  * one-job-per-tree-level driver loop (Main.java:59-123), with the
  * rule queue replaced by a tree walk and the raw-pair shuffle by a
  * partially aggregated histogram.
  *
  * Per level, ONE histogram: every row is routed to the open rule it
  * reaches in each model it trains (the tree grown so far walked as
  * one `graft_tree_leaf`, or `graft_tree_fan` when null rows fan out),
  * exploded to its live (attribute, value) pairs plus a class sentinel
  * (aid −1), and summed per (model, rid, aid, value, class). The
  * histogram has two homes, picked once per grow by the local gate
  * ([[LocalCells]]: rows × models × (attributes + 1), the most pairs
  * one level explodes, with the row count from the probe's one scan):
  *  - below it, [[LocalHistogram]] collects the training frame ONCE, in
  *    one job, and computes every level's cells in the driver, so a
  *    small fit runs the probe and that collect whatever its depth;
  *  - above it, each level is one Spark job ([[sparkCells]]): a single
  *    model plans `withColumn("__rid", walk)`, K models compute their
  *    multiplicities once per row and explode one (model, rid,
  *    multiplicity) triple per model, walking only where the row
  *    trains the model, and the pairs are summed by
  *    `groupBy(model, rid, aid, val, cls)`.
  * Both give the same cells, so the models do not depend on the home.
  * The cells are O(K × model) (numeric values are quantile-snapped to
  * at most `maxBins` edges), so the split math runs driver-side in a
  * fixed order: [[C45.levelStats]] and [[C45.decideLevel]] per model.
  * Attributes used on every open path of a model leave its explode;
  * at `maxDepth` only the class marginal is exploded, and when no row
  * fans out that level needs no histogram at all — its marginals
  * derive from the parent's cells ([[C45.deriveFinalCounts]]).
  *
  * The weight model. A cell sums, over the rows routed to it,
  * multiplicity × per-copy mass:
  *  - the multiplicity is a per-(row, model) Long: 1 for a plain fit
  *    or a boost round, the fold mask `fold ≠ m` for cross-validation,
  *    the Poisson(1) bootstrap draw for a forest tree (0 = the row does
  *    not train that model);
  *  - the per-copy mass starts at 1 (whole rows), at 10⁶ (micros, when
  *    null rows fan out) or at the boost weight;
  *  - cells are micros (`micros`) for a fractional fit and always for
  *    boost; the driver math then runs weighted and records masses as
  *    they are, else it scales row counts by 10⁶;
  *  - under missing mode "fractional", when some attribute value is
  *    null (`fanOut`), a null-valued row descends EVERY child of its
  *    rule's split with its per-copy mass scaled by the child's share
  *    of known mass, rounded half-up to whole units once per level,
  *    parent first (Quinlan's unknown-value distribution). Such a
  *    level walks each row through the tree grown so far in one
  *    `graft_tree_fan` expression ([[fanned]]) that emits the row's
  *    (model, rid, mass, multiplicity) copies, exploded in place of
  *    the single rid: the same projection, generator and partial
  *    aggregation over the training frame as any other level. The
  *    copies carry mass and multiplicity separately and the histogram
  *    weighs by their product, so a bootstrap copy rounds exactly like
  *    an explicitly replicated row.
  * Integer sums commute, so every model is bit-identical to fitting
  * it alone on its (replicated, reweighted) rows under any
  * partitioning (CrossValSpec, C45ForestSpec and C45BoostSpec pin it).
  */
private[graft] object LevelLoop {

  type Cell = (Int, Int, String, String, Long)

  /** One row at full weight, in micros. */
  val W1 = 1000000L

  /** The local gate: a grow computes its histograms in the driver when
    * rows × models × (attributes + 1), the most (attribute, value)
    * pairs one level explodes, is below this; the magnitude of
    * `Dedup.BucketEdges`. */
  val LocalCells: Long = 1L << 20

  /** Per-level wall-clock lines on stdout: `-Dgraft.fit.profile=1`, or
    * the upper-cased environment variable through a forked runner. */
  def profile: Boolean = sys.props.get("graft.fit.profile").contains("1") ||
    sys.env.get("GRAFT_FIT_PROFILE").contains("1")

  /** The projection `cols` of `df` as a fit's training frame, handed to
    * `body`. A cache-backed `df` is read through (re-persisting would
    * store the same bytes again); otherwise the projection is widened
    * to the session parallelism and persisted for the fit's duration,
    * since every level re-scans it (Widen scaladoc). */
  def withTrainingFrame[T](df: DataFrame, cols: Seq[Column])(body: DataFrame => T): T = {
    val proj = df.select(cols: _*)
    if (df.storageLevel != StorageLevel.NONE || C45.inputCacheBacked(df)) body(proj)
    else {
      val data = graft.operators.Widen.toParallelism(proj).persist(StorageLevel.MEMORY_AND_DISK)
      try body(data) finally data.unpersist()
    }
  }

  /** What a fitter learns before its first level: whether null rows
    * fan out, each model's class labels and numeric bin edges, and the
    * training frame's row count (the local gate's input). */
  final case class Probe(fractional: Boolean, labels: IndexedSeq[Seq[String]],
                         edges: IndexedSeq[Map[Int, Array[Double]]], rows: Long) {
    /** The per-copy starting mass of a row: micros when it can fan out. */
    def mass: Column = lit(if (fractional) W1 else 1L)
  }

  /** ONE aggregation job over `data`: fails on a null class label,
    * counts the rows, says whether any attribute value is null, and
    * counts each numeric attribute's approximate distinct values per
    * model (the binning gate; none when `maxBins` is off). With
    * `folds` = (column, k), model f trains on the rows whose fold is
    * not f, and its sketches see only those values. Returns (rows, any
    * null, (model, attr) → count). */
  private def scan(data: DataFrame, schema: C45Schema, params: C45Params, who: String,
           folds: Option[(String, Int)] = None): (Long, Boolean, Map[(Int, String), Long]) = {
    val models = folds.fold(1)(_._2)
    def trains(m: Int)(c: Column): Column = folds.fold(c) { case (foldCol, _) => when(col(foldCol) =!= m, c) }
    val keys = if (params.maxBins <= 0) Nil
      else for (m <- 0 until models; a <- schema.numericAttrs) yield (m, a.name)
    val dc = keys.map { case (m, n) => approx_count_distinct(trains(m)(col(n))) }
    val anyNull = schema.attrNames.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))
    val aggs = Seq(count(when(col(schema.classCol).isNull, 1)), count(when(anyNull, 1)),
      count(lit(1))) ++ dc
    val row = data.agg(aggs.head, aggs.tail: _*).head()
    require(row.getLong(0) == 0L,
      s"$who requires non-null class labels: column '${schema.classCol}' contains NULLs")
    (row.getLong(2), row.getLong(1) > 0L,
      keys.zipWithIndex.map { case (key, i) => key -> row.getLong(i + 3) }.toMap)
  }

  /** [[scan]], then each model's class labels (declared, else discovered
    * in one job: sorted, and per fold only those its training rows
    * carry) and its quantile bin edges: one quantile job per
    * model that has attributes with more than `maxBins` distinct
    * values, over the rows the model trains on. */
  def probe(data: DataFrame, schema: C45Schema, params: C45Params, who: String,
            folds: Option[(String, Int)] = None): Probe = {
    val (rows, anyNulls, distinct) = scan(data, schema, params, who, folds)
    val cls = col(schema.classCol).cast("string")
    val frames: IndexedSeq[DataFrame] = folds match {
      case None => Vector(data)
      case Some((foldCol, k)) => (0 until k).map(f => data.filter(col(foldCol) =!= f))
    }
    val labels: IndexedSeq[Seq[String]] =
      if (schema.classLabels.nonEmpty) frames.map(_ => schema.classLabels)
      else folds match {
        case None => Vector(data.select(cls).distinct().collect().map(_.getString(0)).sorted.toSeq)
        case Some((foldCol, _)) =>
          val seen = data.groupBy(cls).agg(collect_set(col(foldCol))).collect()
            .map(r => r.getString(0) -> r.getSeq[Int](1).toSet)
          frames.indices.map(f => seen.collect { case (c, fs) if fs.exists(_ != f) => c }.sorted.toSeq)
      }
    val probs = (1 until params.maxBins).map(_.toDouble / params.maxBins).toArray
    val edges = frames.zipWithIndex.map { case (frame, m) =>
      val need = schema.numericAttrs.map(_.name)
        .filter(n => params.maxBins > 0 && distinct((m, n)) > params.maxBins)
      if (need.isEmpty) Map.empty[Int, Array[Double]]
      else need.zip(frame.stat.approxQuantile(need.toArray, probs, 1e-4)).collect {
        case (n, es) if es.nonEmpty => schema.attrIndex(n) -> es.distinct.sorted
      }.toMap
    }
    Probe(params.missingMode == "fractional" && schema.attrs.nonEmpty && anyNulls, labels, edges,
      rows)
  }

  /** The K models one fitter grows. `multiplicity(m)` is a Long over
    * the training frame's columns (0: the row does not train model m);
    * `mass` is the per-copy starting mass. `subspace(m)` bounds the
    * attributes model m may split on, and `sample`, when set, draws
    * each open node's candidates from its live attributes:
    * (model, level, rid, live aids) → sampled aids. */
  final case class Models(caller: String, probe: Probe, multiplicity: Int => Column,
                          mass: Column, micros: Boolean,
                          subspace: Int => Int => Boolean = _ => _ => true,
                          sample: Option[(Int, Int, Int, Seq[Int]) => Set[Int]] = None) {
    def k: Int = probe.labels.size
  }

  private final class State {
    var open: Vector[Rule] = Vector(Rule.root)
    var share = Map.empty[Vector[(Int, Split)], Double]
    var closed = Vector.empty[(Rule, Long, Map[String, Long])]
    var majority: Option[String] = None
    var routes: Seq[Route] = Nil
    var cells: Array[Cell] = Array.empty
    val imp = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
  }

  /** What a level routes by: its active models and, per model, its
    * open rules and the share of known mass of every path prefix grown
    * so far (the multiplier a null value passes down the edge ending
    * there, read when rows fan out). */
  final case class Frontier(level: Int, active: Seq[Int], open: IndexedSeq[Vector[Rule]],
                            share: IndexedSeq[Map[Vector[(Int, Split)], Double]])

  /** A fan-out level's rows: `data` with every copy of every row that
    * reaches an open rule of an active model it trains, tagged
    * (__model, __rid, __mass, __m) by one `graft_tree_fan` walk per
    * row ([[graft.functions.TreeWalk]]). */
  def fanned(data: DataFrame, schema: C45Schema, ms: Models, f: Frontier): DataFrame =
    data.select(col("*"), inline(TreeLeaf.walkColumn(ms.mass +: f.active.map(ms.multiplicity),
      C45.frontierInputs(schema), new TreeLeaf.Fans(f.active.toArray,
        f.active.map(m => C45.treeNodes(f.open(m).map(_.conditions), (aid, _) => aid, f.share(m)))
          .toArray))))

  /** The attributes whose values a level explodes besides the class
    * sentinel, per open rule of model `m` (index into `open`): none at
    * `maxDepth`; else the model's subspace minus the attributes used
    * on every open path, or with `sample`, the rule's draw from its
    * subspace minus its own path's attributes. Ascending aids. */
  def liveAttrs(ms: Models, attrs: Int, params: C45Params, m: Int, level: Int,
                open: Vector[Rule]): Int => Seq[Int] =
    if (level == params.maxDepth) _ => Nil
    else ms.sample match {
      case None =>
        val dead = open.map(_.usedAttrs).reduce(_ intersect _)
        val live = (0 until attrs).filter(aid => ms.subspace(m)(aid) && !dead(aid))
        _ => live
      case Some(draw) => rid =>
        val drawn = draw(m, level, rid,
          (0 until attrs).filter(aid => ms.subspace(m)(aid) && !open(rid).usedAttrs(aid)))
        (0 until attrs).filter(drawn)
    }

  /** One level's histogram as a Spark job over `data`: every row is
    * tagged with the open rule it reaches in each active model it
    * trains (`router`, or `fan` when null rows fan out), exploded to
    * its live (attribute, value) pairs plus the class sentinel, and
    * summed per (model, rid, aid, value, class). */
  def sparkCells(data: DataFrame, schema: C45Schema, params: C45Params, ms: Models,
                 router: (Vector[Rule], C45Schema) => Column,
                 fan: (DataFrame, C45Schema, Models, Frontier) => DataFrame)
                (f: Frontier): Map[Int, Array[Cell]] = {
    val sc = data.sparkSession.sparkContext

    // `rows` tagged with each active model's (__model, __rid, __m),
    // keeping only the copies that reach an open rule and train it; K
    // models compute each multiplicity once per row and walk a model's
    // tree only where the row trains it
    def routed(rows: DataFrame): DataFrame = {
      val tagged =
        if (ms.k == 1) rows.withColumn("__model", lit(0))
          .withColumn("__rid", router(f.open(0), schema))
          .withColumn("__m", ms.multiplicity(0))
        else {
          val mult = f.active.map(m => s"__m$m")
          rows.withColumns(mult.zip(f.active.map(ms.multiplicity)).toMap)
            .select(col("*"), inline(array(f.active.zip(mult).map { case (m, c) =>
              struct(lit(m).as("__model"),
                when(col(c) > 0, router(f.open(m), schema)).otherwise(lit(-1)).as("__rid"),
                col(c).as("__m"))
            }: _*)))
            .drop(mult: _*)
        }
      tagged.filter(col("__rid") >= 0 && col("__m") > 0)
    }

    // the (model, rid) → (attribute, value) map a level explodes
    def attrPairs: Column = {
      def pairs(m: Int, aids: Seq[Int]): Column = map(Seq(lit(-1), col("__cls")) ++
        aids.flatMap { aid =>
          val a = schema.attrs(aid)
          val raw = col(a.name).cast("double")
          Seq(lit(aid), if (!a.isNumeric) col(a.name).cast("string")
            else ms.probe.edges(m).get(aid).fold(raw)(SortedCeilSnap.snapTo(_, raw)).cast("string"))
        }: _*)
      def byKey(key: String, cases: Seq[(Int, Column)]): Column =
        if (cases.size == 1) cases.head._2
        else cases.tail.foldLeft(when(col(key) === cases.head._1, cases.head._2)) {
          case (acc, (v, c)) => acc.when(col(key) === v, c) }
      byKey("__model", f.active.map { m =>
        val live = liveAttrs(ms, schema.attrs.size, params, m, f.level, f.open(m))
        // per-node sampling: one map per open rule, keyed on __rid
        m -> (if (ms.sample.isEmpty) pairs(m, live(0))
          else byKey("__rid", f.open(m).indices.map(rid => rid -> pairs(m, live(rid)))))
      })
    }

    val (rows, mass) =
      if (ms.probe.fractional) (fan(data, schema, ms, f), col("__mass"))
      else (routed(data), ms.mass)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.${ms.caller} level=${f.level} models=${f.active.size} histogram")
    val collected =
      try rows.withColumn("__cls", col(schema.classCol).cast("string"))
        .select(col("__model"), col("__rid"), col("__cls").as("cls"),
          (mass * col("__m")).as("__w"), explode(attrPairs).as(Seq("aid", "val")))
        .filter(col("val").isNotNull)
        .groupBy("__model", "__rid", "aid", "val", "cls")
        .agg(sum(col("__w")).as("cnt"))
        .collect()
      finally sc.setJobDescription(prevDesc)
    collected.groupBy(_.getInt(0)).view.mapValues(_.map(r =>
      (r.getInt(1), r.getInt(2), r.getString(3), r.getString(4), r.getLong(5)))).toMap
  }

  /** Grow `ms` over `data` (attributes, class column and whatever
    * `multiplicity`/`mass` read): each model with its gain importance.
    * Below the local gate (`capacity`, rows × models × (attributes +
    * 1)) every level's histogram comes from one collect of `data`
    * ([[LocalHistogram]]); otherwise each level is a Spark job
    * ([[sparkCells]]), where `router` assigns a row its open-rule index
    * (−1: none) and `fan` tags a fan-out level's rows ([[fanned]]).
    * Only specs swap in other hooks, at capacity 0. */
  def grow(data: DataFrame, schema: C45Schema, params: C45Params, ms: Models,
           router: (Vector[Rule], C45Schema) => Column = C45.frontierRidColumn,
           fan: (DataFrame, C45Schema, Models, Frontier) => DataFrame = fanned,
           capacity: Long = LocalCells)
      : IndexedSeq[(C45Model, Map[Int, Double])] = {
    val fanOut = ms.probe.fractional
    val unit = if (ms.micros) 1e6 else 1.0
    val st = Vector.fill(ms.k)(new State)
    val local = BigInt(ms.probe.rows) * ms.k * (schema.attrs.size + 1) < capacity
    val histogram: Frontier => Map[Int, Array[Cell]] =
      if (!local) sparkCells(data, schema, params, ms, router, fan)
      else {
        val t0 = System.nanoTime()
        val rows = new LocalHistogram(data, schema, params, ms)
        if (profile) println(f"[${ms.caller}] local rows=${rows.n} models=${ms.k} " +
          f"collect ${(System.nanoTime() - t0) / 1e9}%.2fs")
        rows.cells
      }

    var level = 0
    while (st.exists(_.open.nonEmpty) && level <= params.maxDepth) {
      val t0 = System.nanoTime()
      val active = st.indices.filter(st(_).open.nonEmpty)
      // at maxDepth every open rule closes on its class marginal,
      // which the parent's cells give exactly unless rows fan out
      val derive = !fanOut && level == params.maxDepth && level > 0
      val cells = if (derive) Map.empty[Int, Array[Cell]]
        else histogram(Frontier(level, active, st.map(_.open), st.map(_.share)))
      val t1 = System.nanoTime()
      active.foreach { m =>
        val s = st(m)
        val labels = ms.probe.labels(m)
        val stats =
          if (derive) C45.LevelStats(C45.deriveFinalCounts(s.cells, s.routes),
            Map.empty, Map.empty, Map.empty)
          else C45.levelStats(cells.getOrElse(m, Array.empty), schema, labels,
            ms.micros, unit, params)
        val d = C45.decideLevel(s.open, level, stats, schema, params, labels,
          ms.micros, unit, s.majority)
        s.closed ++= d.closedAdd
        d.importanceAdd.foreach { case (a, v) => s.imp(a) += v }
        s.majority = d.globalMajority
        s.open = d.nextOpen
        s.share ++= d.nextOpen.map(_.conditions).zip(d.shares)
        s.routes = d.routes
        s.cells = cells.getOrElse(m, Array.empty)
      }
      if (profile)
        println(f"[${ms.caller}] level=$level models=${active.size} " +
          (if (derive) f"derived (no job) ${(System.nanoTime() - t0) / 1e9}%.2fs"
          else f"${if (local) "local " else ""}cells=${cells.values.map(_.length).sum} " +
            f"${(System.nanoTime() - t0) / 1e9}%.2fs (decide ${(System.nanoTime() - t1) / 1e9}%.2fs)"))
      level += 1
    }
    st.indices.map { m =>
      val s = st(m)
      val labels = ms.probe.labels(m)
      val majority = s.majority.getOrElse(labels.head)
      // maxDepth exhaustion: survivors close as majority leaves (#4)
      val (leaves, mass, dist) = (s.closed ++
        s.open.map(r => (r.closed(majority), 0L, Map.empty[String, Long]))).unzip3
      (C45Model(schema.copy(classLabels = labels), leaves, majority, mass, dist), s.imp.toMap)
    }
  }
}
