package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The fractional fit's fan-out walk ([[LevelLoop.fanned]], one
  * `graft_tree_fan` expression per row) against the join chain it
  * replaced ([[FanOutChain]]): every level's histogram cells and every
  * fitted model must be equal. Rows carry NaN, ±Inf, null and −0.0
  * (against a 0.0 boundary), categories the frontier has not seen,
  * nulls on two successive splits, Poisson multiplicities up to 3 and
  * boost masses that are not multiples of 10⁶. Each case runs as one
  * plain model, a 2-tree forest, 3 cross-validation folds and a boost
  * round, the four weight models the fitters hand the level loop. */
class FanOutWalkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(Seq(
    AttrMeta("x", isNumeric = true), AttrMeta("c", isNumeric = false),
    AttrMeta("y", isNumeric = true)), "cls", Seq("a", "b"))

  private val xs = Seq[java.lang.Double](Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0, -1.5, 3.0, null)
  private val cs = Seq("u", "v", "w", null)
  private val ys = Seq[java.lang.Double](0.5, 1.0, 2.0, 3.0, Double.NaN, null)
  private val masses = Seq(1L, 5L, 7L, 999999L, 1000000L, 1234567L, 3L)

  /** Every (x, c, y) combination twice, with a label that follows x's
    * side of 0.0 and flips on c = v above y = 2, a starting `mass`,
    * Poisson-like multiplicities `p0`, `p1` in 0..3 and a `fold`. */
  private def rows: DataFrame = {
    val s = spark
    import s.implicits._
    (for {
      (x, i) <- xs.zipWithIndex
      (c, j) <- cs.zipWithIndex
      (y, k) <- ys.zipWithIndex
      copy <- 0 until 2
    } yield {
      val id = ((i * cs.size + j) * ys.size + k) * 2 + copy
      val left = x == null && id % 3 == 0 || x != null && !x.isNaN && x <= 0.0
      val flip = c == "v" && y != null && y > 2.0
      (x, c, y, if (left != flip) "a" else "b", masses(id % masses.size),
        id % 4, (id * 7 + 1) % 4, id % 3)
    }).toDF("x", "c", "y", "cls", "mass", "p0", "p1", "fold")
  }

  private final class Case(val name: String, val k: Int, val multiplicity: Int => Column,
                           val mass: Column)

  private val cases = Seq(
    new Case("one model", 1, _ => lit(1L), lit(LevelLoop.W1)),
    new Case("forest", 2, t => col(s"p$t"), lit(LevelLoop.W1)),
    new Case("crossval folds", 3, f => (col("fold") =!= f).cast("long"), lit(LevelLoop.W1)),
    new Case("boost", 1, _ => lit(1L), col("mass")))

  /** A level's cells over every attribute, unsnapped: (model, rid,
    * aid, value, class) → Σ mass × multiplicity, sorted. */
  private def cells(rows: DataFrame): Seq[String] =
    rows.select(col("__model"), col("__rid"), col("cls"), (col("__mass") * col("__m")).as("w"),
        explode(map(lit(-1), lit(""), lit(0), col("x").cast("string"), lit(1), col("c"),
          lit(2), col("y").cast("string"))).as(Seq("aid", "val")))
      .groupBy("__model", "__rid", "aid", "val", "cls").agg(sum("w"))
      .collect().map(_.toString).sorted.toSeq

  private def models(c: Case, probe: LevelLoop.Probe): LevelLoop.Models =
    LevelLoop.Models(c.name, probe, c.multiplicity, c.mass, micros = true)

  // the frontier paths a generated tree opens level by level: x at
  // 0.0; then c ∈ {u, v} under x <= 0 and y at 2.5 above; then y at 1.0
  // under c = u, c = v closed, c ∈ {u, v} under y <= 2.5 and c = u alone
  // above (so c = w is unseen everywhere)
  private val tree: Seq[Vector[Vector[(Int, Split)]]] = {
    val l1 = Vector(Vector(0 -> NumLE(0.0)), Vector(0 -> NumGT(0.0)))
    val l2 = Vector(l1(0) :+ (1 -> CatEq("u")), l1(0) :+ (1 -> CatEq("v")),
      l1(1) :+ (2 -> NumLE(2.5)), l1(1) :+ (2 -> NumGT(2.5)))
    val l3 = Vector(l2(0) :+ (2 -> NumLE(1.0)), l2(0) :+ (2 -> NumGT(1.0)),
      l2(2) :+ (1 -> CatEq("u")), l2(2) :+ (1 -> CatEq("v")), l2(3) :+ (1 -> CatEq("u")))
    Seq(Vector(Vector.empty), l1, l2, l3).map(_.map(p => p: Vector[(Int, Split)]))
  }

  // shares that round differently per level than once at the leaf, a
  // zero and one that kills small masses
  private val share: Gen[Double] =
    Gen.oneOf(0.5, 1.0 / 3, 2.0 / 3, 0.25, 0.1, 0.999, 1e-7, 0.0, 0.37)

  test("every level's cells of a generated frontier equal the chain's") {
    val df = rows.cache()
    try for (c <- cases; seed <- 1L to 3L) withClue(s"${c.name}, seed $seed: ") {
      val shares = (0 until c.k).map { m =>
        val paths = tree.flatten.filter(_.nonEmpty)
        paths.zip(Gen.listOfN(paths.size, share)
          .pureApply(Gen.Parameters.default, Seed(seed * 31 + m)).toVector).toMap
      }
      val ms = models(c, LevelLoop.Probe(fractional = true,
        Vector.fill(c.k)(schema.classLabels), Vector.fill(c.k)(Map.empty), rows = 384))
      val chain = new FanOutChain
      tree.zipWithIndex.foreach { case (paths, level) =>
        // the last model runs out of open rules at the deepest level
        val active = (0 until c.k).filter(m => level < 3 || m < c.k - 1 || c.k == 1)
        val open = (0 until c.k).map(m =>
          if (active.contains(m)) paths.map(Rule(_)) else Vector.empty[Rule])
        val f = LevelLoop.Frontier(level, active, open, shares)
        val walked = cells(LevelLoop.fanned(df, schema, ms, f))
        assert(walked == cells(chain(df, schema, ms, f)), s"level $level")
        assert(walked.nonEmpty)
      }
    } finally df.unpersist()
  }

  test("fits through the walk and through the chain grow the same models, " +
      "level for level") {
    val df = rows.cache()
    val params = C45Params(maxDepth = 4, maxBins = 0, missingMode = "fractional")
    try for (c <- cases) withClue(s"${c.name}: ") {
      val folds = if (c.name == "crossval folds") Some(("fold", c.k)) else None
      val shared = LevelLoop.probe(df, schema, params, "FanOutWalkSpec", folds)
      assert(shared.fractional)
      val probe = if (shared.labels.size == c.k) shared
        else shared.copy(labels = Vector.fill(c.k)(shared.labels.head),
          edges = Vector.fill(c.k)(shared.edges.head))
      var levels = 0
      val reference = new FanOutChain
      val walked = LevelLoop.grow(df, schema, params, models(c, probe),
        fan = (d, s, ms, f) => {
          val w = LevelLoop.fanned(d, s, ms, f)
          assert(cells(w) == cells(reference(d, s, ms, f)), s"level ${f.level}")
          levels += 1
          w
        }, capacity = 0)
      val chained = LevelLoop.grow(df, schema, params, models(c, probe), fan = new FanOutChain,
        capacity = 0)
      assert(levels >= 3, "the fit must grow past its second level")
      assert(walked == chained)
      assert(walked.exists(_._1.leaves.size > 2))
    } finally df.unpersist()
  }
}
