package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.JobCount
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The fit's frontier router — one tree walk of the tree grown so far
  * ([[C45.frontierRidColumn]]) — on frontiers wider than the model's
  * serve-time walk threshold (64 leaves). Oracles that do not depend
  * on how the fit routes: every recorded leaf distribution equals a
  * recount of the training rows under serve routing (the model's own
  * tree walk), a hand-derived 160-leaf tree comes out rule for rule,
  * and every histogram level plans the walk over the training cache
  * with no join.
  *
  * The tests named `join-routed fit …` date from when wide frontiers
  * routed through a broadcast rule-table join; they now pin the walk
  * that replaced it against the flat first-match CASE WHEN routing
  * ([[DeepFrontierSpec.flatFit]]). A fractional fit's levels fan
  * null-bearing rows out inside the same kind of walk, and their plans
  * are pinned to one exchange, no join, no union and no cache but the
  * training frame's. */
class DeepFrontierSpec extends AnyFunSuite {
  import DeepFrontierSpec.{flatFit, sparkFit}
  lazy val spark = SparkTestSession.spark

  /** Walk-routed [[C45.fit]] and the flat-routed fit agree exactly:
    * rules, majority, and the recorded masses and distributions. */
  private def assertSameAsFlat(df: DataFrame, schema: C45Schema,
                               params: C45Params = C45Params()): C45Model = {
    val walked = C45.fit(df, schema, params)
    val flat = flatFit(df, schema, params)
    assert(walked.leaves == flat.leaves)
    assert(walked.majority == flat.majority)
    assert(walked.leafMass == flat.leafMass)
    assert(walked.leafDist == flat.leafDist)
    walked
  }

  /** Synthetic wide corpus: root splits on the 8-value categorical
    * `a`, every child then splits numeric `x` (class flips at a
    * per-a-value boundary), so the frontier is 1 → 8 → 16. Several
    * copies per cell keep every branch above the minDataRatio guard. */
  private def wideData: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = for {
      av <- 0 until 8
      x <- 0 until 10
      _ <- 0 until 3
    } yield (s"v$av", x.toDouble, if (x <= (2 + av % 4)) "p" else "n")
    rows.toDF("a", "x", "cls")
  }

  /** `m.leafDist` as a recount: each training row goes to the leaf
    * `leafOf` sends it to (−1: none), counted per class in micros. */
  private def recount(m: C45Model, df: DataFrame, leafOf: Column): Vector[Map[String, Long]] = {
    val got = df
      .select(leafOf.as("leaf"), col(m.schema.classCol).cast("string"))
      .filter(col("leaf") >= 0)
      .groupBy("leaf", m.schema.classCol).count().collect()
      .groupBy(_.getInt(0))
      .map { case (leaf, rs) => leaf -> rs.map(r => r.getString(1) -> r.getLong(2) * 1000000L).toMap }
    m.leaves.indices.toVector.map(i => got.getOrElse(i, Map.empty[String, Long]))
  }

  /** Serve routing is the model's tree walk; the first-match CASE WHEN
    * over the leaves is a second witness that shares no code with it. */
  private def assertLeafDistIsServeRecount(m: C45Model, df: DataFrame): Unit = {
    val expected = recount(m, df, m.treeLeafColumn.get)
    assert(recount(m, df, C45.flatRidColumn(m.leaves, m.schema.attrNames)) == expected)
    m.leaves.indices.foreach { i =>
      assert(m.leafDist(i) == expected(i),
        s"leaf ${m.leaves(i).encode}: recorded ${m.leafDist(i)}, serve recount ${expected(i)}")
    }
  }

  /** `fit`'s result and the executed plans of the queries it ran,
    * captured as each query finishes. */
  private def fitPlans(fit: => C45Model): (C45Model, List[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val m =
      try {
        val fitted = fit
        JobCount.drain(spark.sparkContext)
        fitted
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (m, plans.asScala.toList)
  }

  /** How many rules the fit's level `level` routed: the distinct
    * depth-`level` prefixes of the leaves at least that deep. */
  private def frontier(m: C45Model, level: Int): Int =
    m.leaves.filter(_.depth >= level).map(_.conditions.take(level)).distinct.size

  private val edgeX = Seq[java.lang.Double](Double.NegativeInfinity, -1.0, -0.0, 0.0,
    1.0, 2.5, Double.PositiveInfinity, Double.NaN, null)

  /** A 16-way categorical `a` at the root. Under a0–a7 the label
    * carries the band of numeric `x` (≤ 0 or not; x takes NaN, ±Inf,
    * −0.0, 0.0 and null), and under every `a` it carries `b / 2` of
    * the 8-way categorical `b`. So a0–a7 split on x, a8–a15 on b, and
    * the x children then split on b: frontier 1 → 16 → 80 → 128.
    * Rows with a null `a` or `x` leave the tree where their path
    * splits on it. */
  private def edgeCorpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = for {
      a <- 0 until 16
      b <- 0 until 8
      x <- edgeX
      copy <- 0 until 2
    } yield {
      val band = if (x == null || x <= 0.0) 0 else 1 // NaN > 0 in Spark's order
      val cls = if (a < 8) s"c$a:$band:${b / 2}" else s"c$a:${b / 2}"
      (if (copy == 1 && b == 7 && x == null) null else s"a$a", s"b$b", x, cls)
    }
    rows.toDF("a", "b", "x", "cls")
  }

  private val edgeSchema = C45Schema(Seq(
    AttrMeta("a", isNumeric = false), AttrMeta("b", isNumeric = false),
    AttrMeta("x", isNumeric = true)), "cls", Nil)

  test("wide drop fits over NaN, ±Inf, null and -0.0 record the leaf " +
      "distributions serve routing recounts") {
    val df = edgeCorpus
    for (maxBins <- Seq(0, 4); maxDepth <- Seq(3, 4)) {
      val m = C45.fit(df, edgeSchema,
        C45Params(maxDepth = maxDepth, maxBins = maxBins, missingMode = "drop"))
      withClue(s"maxBins=$maxBins maxDepth=$maxDepth: ") {
        assert(frontier(m, 2) > 64, "a histogram level must route more than 64 open rules")
        assert(frontier(m, 3) > 64)
        assertLeafDistIsServeRecount(m, df)
      }
    }
  }

  test("join-routed fit produces exactly the CASE WHEN fit's rule set") {
    val df = wideData
    val m = assertSameAsFlat(df, C45Schema.fromDataFrame(df, "cls"))
    assert(m.leaves.size >= 16, "the tree must actually grow wide")
    // and past the serve-time walk threshold, with NaN, ±Inf and -0.0
    for (maxBins <- Seq(0, 4)) withClue(s"maxBins=$maxBins: ") {
      val wide = assertSameAsFlat(edgeCorpus, edgeSchema,
        C45Params(maxDepth = 4, maxBins = maxBins, missingMode = "drop"))
      assert(frontier(wide, 3) > 64)
    }
  }

  test("join-routed fit handles null attribute values like the flat path") {
    val s = spark
    import s.implicits._
    val withNulls = wideData.union(
      Seq[(String, java.lang.Double, String)]((null, 3.0, "p"), ("v0", 3.0, "p"),
        ("v1", null, "n")).toDF("a", "x", "cls"))
    val schema = C45Schema(Seq(AttrMeta("a", isNumeric = false),
      AttrMeta("x", isNumeric = true)), "cls", Nil)
    assertSameAsFlat(withNulls, schema, C45Params(missingMode = "drop"))
  }

  test("join-routed fit works on a categorical-only schema") {
    val s = spark
    import s.implicits._
    // hierarchical labels: each attribute is informative on its own
    // (XOR-style labels would have zero marginal gain and no tree)
    val df = (for (av <- 0 until 8; bv <- 0 until 4; _ <- 0 until 3)
      yield (s"a$av", s"b$bv", (if (bv < 2) "p" else "x") + (if (av < 4) "0" else "1")))
      .toDF("a", "b", "cls")
    val m = assertSameAsFlat(df, C45Schema.fromDataFrame(df, "cls"))
    assert(m.leaves.size >= 8, "the tree must actually grow wide")
    assertLeafDistIsServeRecount(m, df)
  }

  test("join-routed fit works on a numeric-only schema") {
    val s = spark
    import s.implicits._
    val df = (for (x <- 0 until 8; y <- 0 until 8; _ <- 0 until 3)
      yield (x.toDouble, y.toDouble, (if (x <= 3) "l" else "r") + (if (y <= 3) "d" else "u")))
      .toDF("x", "y", "cls")
    val m = assertSameAsFlat(df, C45Schema.fromDataFrame(df, "cls"))
    assert(m.leaves.size >= 4, "the tree must actually grow")
    assertLeafDistIsServeRecount(m, df)
  }

  test("the walk-routed fit reproduces a PREDICTED 160-leaf tree exactly") {
    // A several-hundred-leaf stress with an absolute pin: the label is
    // engineered so the whole tree is derivable by hand, and the spec
    // constructs the EXPECTED rule set from first principles instead
    // of a committed golden. Design (margins are exact rationals at
    // perfectly balanced counts, never float-noise ties):
    //  - cls embeds `a` verbatim -> a's 16-way split scores gain ratio
    //    exactly 1.0 at the root;
    //  - cls embeds only floor(b/2) -> b scores exactly 2/3 (gain 2
    //    bits / splitInfo 3 bits) — a REAL root margin, and b wins
    //    level 1 inside each a-child;
    //  - the x band exists only under b in {0,1} -> x scores 1.0 there
    //    and ~0.25 above.
    // Frontier 1 -> 16 -> 128 -> 64: 16- and 8-entry categorical child
    // maps and a numeric boundary in one walk, at widths the lineitem
    // fits never reach.
    val s = spark
    import s.implicits._
    val rows = for {
      a <- 0 until 16
      b <- 0 until 8
      x <- 0 until 4
      copy <- 0 until 3
    } yield {
      val cls =
        if (b >= 2) s"c$a:${b / 2}"
        else s"c$a:0:${if (x <= 1) "x0" else "x1"}"
      (s"a$a", s"b$b", x.toDouble, cls, copy)
    }
    val df = rows.toDF("a", "b", "x", "cls", "copy").drop("copy")
    val schema = C45Schema.fromDataFrame(df, "cls")
    val m = C45.fit(df, schema)
    val expected = (for {
      a <- 0 until 16
      b <- 0 until 8
    } yield {
      if (b >= 2) Seq(s"0,a$a&1,b$b:c$a:${b / 2}")
      else Seq(s"0,a$a&1,b$b&2,<=1.0:c$a:0:x0",
        s"0,a$a&1,b$b&2,>1.0:c$a:0:x1")
    }).flatten.toSet
    assert(m.leaves.size == 160)
    assert(m.leaves.map(_.encode).toSet == expected)
  }

  test("every histogram level plans one tree walk over the training " +
      "cache, with no join") {
    // The fit's routing claim at the plan level: each level's
    // histogram reads the training cache through a graft_tree_leaf
    // projection — no join against a route table, no per-level
    // persisted base.
    val (m, plans) = fitPlans(
      sparkFit(edgeCorpus, edgeSchema, C45Params(maxDepth = 4, missingMode = "drop")))
    assert(frontier(m, 3) > 64)
    val histograms = plans.map(_.toString).filter(_.contains("__rid"))
    // levels 0-3 each run one histogram; every level-3 rule is pure
    assert(histograms.size == 4, histograms.mkString("\n\n"))
    val widest = histograms.map { p =>
      assert(p.contains("graft_tree_leaf") && p.contains("InMemoryTableScan"),
        s"a level must walk the tree over the training cache:\n$p")
      assert(!p.contains("Join"), s"a level must not join:\n$p")
      "tree\\((\\d+) nodes\\)".r.findFirstMatchIn(p).get.group(1).toInt
    }.max
    assert(widest > 128, s"the widest level walked only $widest nodes")
  }

  test("every fractional level plans one fan-out walk: no join, union or chain") {
    // Under missingMode "fractional" each level walks every row of the
    // training cache through one graft_tree_fan expression, null-valued
    // rows fanning out along the tree, and explodes the copies: no
    // join against a route table, no union with a second scan of the
    // cache, no persisted per-level chain. The histogram aggregate's
    // exchange is the level's only one. Adaptive execution is off so
    // each plan prints once.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (m, plans) =
      try fitPlans(sparkFit(edgeCorpus, edgeSchema,
        C45Params(maxDepth = 4, missingMode = "fractional")))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(frontier(m, 2) > 1, "the fit must grow past its first split")
    val levels = plans.filter(_.toString.contains("__rid"))
    assert(levels.size >= 3, s"expected >=3 histogram levels, got ${levels.size}")
    levels.foreach { p =>
      val text = p.toString
      assert(text.contains("graft_tree_fan"), s"a level must fan out in the walk:\n$text")
      assert(p.collect { case j: BaseJoinExec => j }.isEmpty && !text.contains("Join"),
        s"a level must not join:\n$text")
      assert(p.collect { case u: UnionExec => u }.isEmpty, s"a level must not union:\n$text")
      assert(p.collect { case c: InMemoryTableScanExec => c }.size == 1 &&
        "InMemoryRelation".r.findAllMatchIn(text).size == 1,
        s"a level must read the training cache and no other:\n$text")
      assert(p.collect { case e: Exchange => e }.size == 1,
        s"only the histogram aggregate may shuffle:\n$text")
    }
  }

  test("each level of a drop fit costs exactly one job") {
    // one histogram job per level and nothing else: no route-table
    // broadcast, no persisted routed base. Adaptive execution is off
    // so an aggregate's shuffle map stage does not count as a job of
    // its own.
    val df = edgeCorpus
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs =
      try (1 to 4).map { d =>
        JobCount.of(sc)(sparkFit(df, edgeSchema,
          C45Params(maxDepth = d, maxBins = 0, missingMode = "drop")))._2
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // probe + class-label discovery + levels 0..d-1; level d derives
    assert(jobs.head == 3, s"jobs at maxDepth 1..4: $jobs")
    assert(jobs.sliding(2).forall { case Seq(d, d1) => d1 == d + 1 },
      s"jobs at maxDepth 1..4: $jobs")
  }

  test("a local drop fit runs a fixed job count whatever its depth") {
    // below the local gate the training frame is collected once and
    // every level's histogram is computed in the driver: the probe,
    // class-label discovery and the collect, at any depth. Adaptive
    // execution is off, as above.
    val df = edgeCorpus
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val runs =
      try (1 to 4).map { d =>
        JobCount.described(sc)(C45.fit(df, edgeSchema,
          C45Params(maxDepth = d, maxBins = 0, missingMode = "drop")))
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val jobs = runs.map(_._2.size)
    assert(jobs == Seq(3, 3, 3, 3), s"jobs at maxDepth 1..4: $jobs")
    assert(runs.forall(_._2.count(_.startsWith("graft.fit local rows=")) == 1),
      runs.map(_._2))
    assert(runs.map(_._1.leaves.size).distinct.size >= 3, "the depths must grow different trees")
  }

  test("a wide fit leaves no cached blocks behind") {
    val df = edgeCorpus
    val before = spark.sparkContext.getPersistentRDDs.size
    C45.fit(df, edgeSchema, C45Params(maxDepth = 4, missingMode = "drop"))
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before, s"persisted RDDs leaked: $before -> $after")
  }
}

object DeepFrontierSpec {

  /** [[C45.fit]] with every level a Spark job (capacity 0), as on a
    * frame above the local gate. */
  def sparkFit(df: DataFrame, schema: C45Schema, params: C45Params): C45Model =
    C45.fitRouted(df, schema, params, C45.frontierRidColumn, capacity = 0)._1

  /** The same fit routed by the flat first-match CASE WHEN
    * ([[C45.flatRidColumn]]) instead of the tree walk, every level a
    * Spark job (capacity 0), so the router is the one that runs. */
  def flatFit(df: DataFrame, schema: C45Schema, params: C45Params): C45Model =
    C45.fitRouted(df, schema, params, (open, s) => C45.flatRidColumn(open, s.attrNames),
      capacity = 0)._1
}
