package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The level histogram computed in the driver ([[LocalHistogram]])
  * against the Spark job ([[LevelLoop.sparkCells]]): every level's
  * cells must be equal, and every fitter must grow the same models
  * through both. Tables are generated at fixed seeds and carry NaN,
  * ±Inf, −0.0, nulls in numeric and categorical attributes, ties,
  * skewed classes, Poisson multiplicities up to 3, fold masks and boost
  * masses that are not multiples of 10⁶. */
class LocalHistogramSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(Seq(
    AttrMeta("x", isNumeric = true), AttrMeta("c", isNumeric = false),
    AttrMeta("y", isNumeric = true)), "cls", Seq("a", "b", "c"))

  private val xs: Gen[java.lang.Double] = Gen.frequency(
    1 -> Gen.oneOf[java.lang.Double](Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, null),
    4 -> Gen.oneOf[java.lang.Double](0.0, -1.5, 3.0, 1.0, -2.0, 0.25))
  private val cs: Gen[String] = Gen.frequency(1 -> Gen.const(null), 6 -> Gen.oneOf("u", "v", "w", "ü"))
  private val ys: Gen[java.lang.Double] = Gen.frequency(
    1 -> Gen.oneOf[java.lang.Double](Double.NaN, null, -0.0),
    6 -> Gen.choose(-30, 30).map(i => java.lang.Double.valueOf(i / 10.0)))

  /** `n` generated rows: (x, c, y, cls, mass, p0, p1, fold, k). The
    * class mostly follows x's side of 0.0, flipped by c = v above
    * y = 0.5, with noise and a rare third class. */
  private def table(seed: Long, n: Int = 300): DataFrame = {
    val row = for {
      x <- xs; c <- cs; y <- ys
      noise <- Gen.choose(0, 19)
      mass <- Gen.oneOf(1L, 5L, 999999L, 1000000L, 1234567L, 3L)
      p0 <- Gen.chooseNum(0, 3); p1 <- Gen.chooseNum(0, 3); fold <- Gen.chooseNum(0, 2)
    } yield {
      val left = x != null && !x.isNaN && x <= 0.0
      val flip = c == "v" && y != null && y > 0.5
      val cls = if (noise == 0) "c" else if ((left != flip) != (noise == 1)) "a" else "b"
      (x, c, y, cls, mass, p0, p1, fold)
    }
    val rows = Gen.listOfN(n, row).pureApply(Gen.Parameters.default, Seed(seed))
    val s = spark
    import s.implicits._
    rows.zipWithIndex.map { case ((x, c, y, cls, mass, p0, p1, fold), i) =>
      (x, c, y, cls, mass, p0, p1, fold, s"k$i")
    }.toDF("x", "c", "y", "cls", "mass", "p0", "p1", "fold", "k")
  }

  private final class Case(val name: String, val k: Int, val multiplicity: Int => Column,
                           val mass: Column, val folds: Option[(String, Int)] = None,
                           val sample: Option[(Int, Int, Int, Seq[Int]) => Set[Int]] = None)

  private val cases = Seq(
    new Case("one model", 1, _ => lit(1L), lit(1L)),
    new Case("forest with mtry", 2, t => col(s"p$t"), lit(1L),
      sample = Some((t, level, rid, live) => C45Forest.mtrySample(live, 1, 5, t, level, rid))),
    new Case("crossval folds", 3, f => (col("fold") =!= f).cast("long"), lit(1L),
      folds = Some(("fold", 3))),
    new Case("boost", 1, _ => lit(1L), col("mass")))

  /** `c`'s models over `df`'s probe; micros when rows fan out, as the
    * fitters set them. */
  private def models(df: DataFrame, c: Case, params: C45Params): LevelLoop.Models = {
    val shared = LevelLoop.probe(df, schema, params, "LocalHistogramSpec", c.folds)
    val probe = if (shared.labels.size == c.k) shared
      else shared.copy(labels = Vector.fill(c.k)(shared.labels.head),
        edges = Vector.fill(c.k)(shared.edges.head))
    val mass = if (probe.fractional && c.name != "boost") lit(LevelLoop.W1) else c.mass
    LevelLoop.Models(c.name, probe, c.multiplicity, mass,
      micros = probe.fractional || c.name == "boost", sample = c.sample)
  }

  // a frontier, level by level: x at 0.0; c ∈ {u, v} under x <= 0 and
  // y at 0.5 above; y at -1.0 under c = u, c = v closed, c ∈ {u, ü}
  // under y <= 0.5 and c = w alone above
  private val tree: Seq[Vector[Vector[(Int, Split)]]] = {
    val l1 = Vector(Vector(0 -> NumLE(0.0)), Vector(0 -> NumGT(0.0)))
    val l2 = Vector(l1(0) :+ (1 -> CatEq("u")), l1(0) :+ (1 -> CatEq("v")),
      l1(1) :+ (2 -> NumLE(0.5)), l1(1) :+ (2 -> NumGT(0.5)))
    val l3 = Vector(l2(0) :+ (2 -> NumLE(-1.0)), l2(0) :+ (2 -> NumGT(-1.0)),
      l2(2) :+ (1 -> CatEq("u")), l2(2) :+ (1 -> CatEq("ü")), l2(3) :+ (1 -> CatEq("w")))
    Seq(Vector(Vector.empty), l1, l2, l3).map(_.map(p => p: Vector[(Int, Split)]))
  }

  private def sorted(cells: Map[Int, Array[LevelLoop.Cell]]): Seq[String] =
    cells.toSeq.flatMap { case (m, cs) => cs.map(c => s"$m $c") }.sorted

  test("every level's local cells equal the Spark job's") {
    var compared = 0
    for (fractional <- Seq(false, true); maxBins <- Seq(0, 3); c <- cases)
      withClue(s"${c.name}, fractional $fractional, maxBins $maxBins: ") {
        val df = table(seed = compared + 1).cache()
        try {
          // maxDepth 3: the deepest level explodes the class sentinel only
          val params = C45Params(maxDepth = 3, maxBins = maxBins,
            missingMode = if (fractional) "fractional" else "drop")
          val ms = models(df, c, params)
          assert(ms.probe.fractional == fractional)
          assert(maxBins == 0 || ms.probe.edges.exists(_.nonEmpty))
          val local = new LocalHistogram(df, schema, params, ms)
          val shares = (0 until c.k).map(m => tree.flatten.filter(_.nonEmpty).zipWithIndex
            .map { case (p, i) => p -> Seq(0.5, 1.0 / 3, 0.999, 0.0, 1e-7)((i + m) % 5) }.toMap)
          tree.zipWithIndex.foreach { case (paths, level) =>
            val active = (0 until c.k).filter(m => level < 3 || m < c.k - 1 || c.k == 1)
            val open = (0 until c.k).map(m =>
              if (active.contains(m)) paths.map(Rule(_)) else Vector.empty[Rule])
            val f = LevelLoop.Frontier(level, active, open, shares)
            val viaSpark = sorted(LevelLoop.sparkCells(df, schema, params, ms,
              C45.frontierRidColumn, LevelLoop.fanned)(f))
            assert(sorted(local.cells(f)) == viaSpark, s"level $level")
            assert(viaSpark.nonEmpty)
          }
          compared += 1
        } finally df.unpersist()
      }
    assert(compared == 16)
  }

  /** Everything a fitted model records. */
  private def fields(m: C45Model) = (m.ruleStrings, m.majority, m.leafMass, m.leafDist)

  test("every fitter grows the same models locally and through Spark jobs") {
    var seed = 100L
    for (mode <- Seq("drop", "fractional"); maxBins <- Seq(0, 3)) {
      seed += 1
      val df = table(seed, n = 240).cache()
      val params = C45Params(maxDepth = 4, maxBins = maxBins, missingMode = mode)
      try withClue(s"$mode, maxBins $maxBins: ") {
        def single(capacity: Long) = {
          val (m, imp) = C45.fitRouted(df, schema, params, C45.frontierRidColumn, capacity)
          (fields(m), imp)
        }
        assert(single(LevelLoop.LocalCells) == single(0), "C45.fit")
        assert(single(0)._1._1.size > 2, "the tree must split")

        val stamped = df.select(("fold" +: schema.attrNames :+ "cls").map(col): _*)
        def folds(capacity: Long) = C45.fitFolds(stamped, "fold", 3, schema, params,
          fractional = mode == "fractional", capacity).map(fields)
        assert(folds(LevelLoop.LocalCells) == folds(0), "fitFolds")

        val fp = C45ForestParams(nTrees = 3, attrsPerTree = 2, seed = 9, mtry = 1, base = params)
        def forest(capacity: Long) = {
          val (f, imps) = C45Forest.fitWithImportance(df, schema, col("k"), fp, capacity)
          (f.trees.map(fields), imps)
        }
        assert(forest(LevelLoop.LocalCells) == forest(0), "forest")

        val bp = C45BoostParams(rounds = 3, base = params.copy(maxDepth = 2))
        def boost(capacity: Long) = {
          val b = C45Boost.fit(df, schema, bp, capacity)
          (b.trees.map(fields), b.alphaMicros, b.errorMicros)
        }
        assert(boost(LevelLoop.LocalCells) == boost(0), "boost")
      } finally df.unpersist()
    }
  }

  test("a cell sum or weight that overflows fails locally as in Spark") {
    val s = spark
    import s.implicits._
    val big = Long.MaxValue / 2 + 1
    val df = Seq[(java.lang.Double, String, java.lang.Double, String, Long)](
      (1.0, "u", 1.0, "a", big), (1.0, "u", 1.0, "a", big), (2.0, "v", 2.0, "b", 1L))
      .toDF("x", "c", "y", "cls", "mass").cache()
    try {
      val params = C45Params(maxDepth = 2, maxBins = 0, missingMode = "drop")
      def grow(mult: Column, capacity: Long) = LevelLoop.grow(df, schema, params,
        LevelLoop.Models("overflow", LevelLoop.probe(df, schema, params, "overflow"),
          _ => mult, col("mass"), micros = true), capacity = capacity)
      for (capacity <- Seq(LevelLoop.LocalCells, 0L)) {
        // the two big rows share every cell: their sum overflows
        val sum = intercept[Exception](grow(lit(1L), capacity))
        assert(String.valueOf(sum.getMessage).contains("overflow"), s"capacity $capacity: $sum")
        // a multiplicity of 2 overflows every big row's weight
        val product = intercept[Exception](grow(lit(2L), capacity))
        assert(String.valueOf(product.getMessage).contains("overflow"), s"capacity $capacity: $product")
      }
    } finally df.unpersist()
  }
}
