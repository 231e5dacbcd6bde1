package graft.operators

import graft.SparkTestSession
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.IntegerType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("label propagation finds exact components (chain, triangle, isolated pair)") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("i", "j")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("iteration does not leak cached tables (only the returned labels stay)") {
    val s = spark
    import s.implicits._
    // the edge table is checkpointed too and must be RELEASED once the
    // labels exist, or a long-lived driver accumulates one dead block
    // set per invocation (multi-round runs are checked further down)
    val pairs = (50L until 70L).map(i => (i, i + 1)).toDF("i", "j")
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = Dedup.connectedComponents(pairs)
    assert(labels.count() == 21)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"CC left ${after - before} persistent RDDs behind (want <= 1: the result)")
  }

  test("pointer-jumping converges a diameter-80 path inside maxIter") {
    val s = spark
    import s.implicits._
    // an 81-node path would need 80 rounds of one-hop min-label
    // propagation; its 80 edges are one union-find bucket at the
    // default capacity, so it is labelled in a single round whatever
    // its diameter
    val pairs = (200L until 280L).map(i => (i, i + 1)).toDF("i", "j")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(200L))
    assert(got.keySet == (200L to 280L).toSet)
  }

  test("long path converges to the true minimum (diameter > 1 iteration)") {
    val s = spark
    import s.implicits._
    // path 100-99-98-...-90: min label must propagate the full length
    val pairs = (90L until 100L).map(i => (i, i + 1)).toDF("i", "j")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(90L))
    assert(got.keySet == (90L to 100L).toSet)
  }

  // ---- bucketed union-find: exactness at forced bucket capacities ----

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find: every endpoint → its component's minimum. */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  // distinct ids from everywhere in the long range: small, negative,
  // and hard against Long.MinValue / Long.MaxValue
  private val idPool: Gen[Vector[Long]] = Gen.listOfN(400, Gen.oneOf(
    Gen.chooseNum(-300L, 300L),
    Gen.chooseNum(0L, 40L).map(Long.MinValue + _),
    Gen.chooseNum(0L, 40L).map(Long.MaxValue - _),
    Gen.chooseNum(Long.MinValue, Long.MaxValue))).map(_.distinct.toVector)

  /** One component family over local nodes 0 until k, as local edges. */
  private val family: Gen[(Int, Seq[(Int, Int)])] = Gen.oneOf(
    Gen.chooseNum(2, 40).map(k => k -> (0 until k - 1).map(i => (i, i + 1))),   // path
    Gen.chooseNum(3, 20).map(k => k -> (0 until k).map(i => (i, (i + 1) % k))), // cycle
    Gen.chooseNum(2, 15).map(k => k -> (1 until k).map(i => (0, i))),           // star
    Gen.chooseNum(2, 7).map(k => k -> (for (i <- 0 until k; j <- i + 1 until k) yield (i, j))),
    Gen.chooseNum(2, 30).flatMap(k =>                                            // random tree
      Gen.sequence[Vector[Int], Int]((1 until k).map(i => Gen.chooseNum(0, i - 1)))
        .map(ps => k -> ps.zipWithIndex.map { case (p, i) => (p, i + 1) })),
    Gen.const(1 -> Seq((0, 0))))                                                 // lone self pair

  /** A graph of several families on disjoint, shuffled ids, with its
    * pairs duplicated, reversed and self-paired at random. */
  private val graph: Gen[Seq[(Long, Long)]] = for {
    pool <- idPool
    fams <- Gen.listOfN(6, family)
    ids <- Gen.pick(fams.map(_._1).sum, pool)
    order <- Gen.listOfN(fams.map(_._2.size).sum, Gen.chooseNum(0, 9))
  } yield {
    val shuffled = new scala.util.Random(ids.sum).shuffle(ids.toVector)
    val offsets = fams.map(_._1).scanLeft(0)(_ + _)
    val edges = fams.zip(offsets).flatMap { case ((_, es), off) =>
      es.map { case (a, b) => (shuffled(off + a), shuffled(off + b)) } }
    edges.zip(order).flatMap {
      case ((a, b), 0) => Seq((a, b), (a, b))       // duplicate
      case ((a, b), 1) => Seq((b, a))               // reversed
      case ((a, b), 2) => Seq((a, b), (a, a))       // plus a self pair
      case (e, _) => Seq(e)
    }
  }

  test("bucketed union-find is exact at bucket capacities 1, 3 and the default") {
    val s = spark
    import s.implicits._
    val graphs = (1 to 3).map(k => graph.pureApply(Gen.Parameters.default, Seed(k.toLong)))
    assert(graphs.forall(g => reference(g).size > 50 && reference(g).values.exists(_ < 0)))
    val extremes = Seq((Long.MaxValue, Long.MinValue), (Long.MinValue, Long.MinValue + 1),
      (Long.MaxValue - 1, Long.MaxValue), (-1L, 0L), (0L, 1L), (Long.MaxValue - 2, Long.MaxValue - 2))
    (graphs :+ extremes).foreach { pairs =>
      val want = reference(pairs)
      val df = pairs.toDF("i", "j")
      assert(labels(Dedup.connectedComponents(df)) == want, "default capacity")
      Seq(1L, 3L).foreach { cap =>
        assert(labels(Dedup.connectedComponents(df, "i", "j", cap, 40)) == want,
          s"bucket capacity $cap")
      }
    }
  }

  test("running out of rounds throws, naming the rounds and the edge count") {
    val s = spark
    import s.implicits._
    val pairs = (200L until 280L).map(i => (i, i + 1)).toDF("i", "j")
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, "i", "j", 1L, 1))
    assert(e.getMessage.contains("1 rounds") && e.getMessage.contains("80 edges"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "a failed run must release every checkpoint it made")
  }

  test("forced multi-round runs leave at most the returned table persisted") {
    val s = spark
    import s.implicits._
    val pairs = (300L until 340L).map(i => (i, i + 1)).toDF("i", "j")
    val before = spark.sparkContext.getPersistentRDDs.size
    val (labelled, jobs) = JobCount.of(spark.sparkContext)(
      Dedup.connectedComponents(pairs, "i", "j", 1L, 40))
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"CC left ${after - before} persistent RDDs behind (want <= 1: the result)")
    assert(labels(labelled).values.toSet == Set(300L))
    val (_, oneRound) = JobCount.of(spark.sparkContext)(Dedup.connectedComponents(pairs))
    assert(jobs > oneRound, s"capacity 1 ran $jobs jobs, one round runs $oneRound")
  }

  test("a one-round graph runs exactly two jobs: the edge table and the labels") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("i", "j")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (out, jobs) = JobCount.of(spark.sparkContext)(Dedup.connectedComponents(pairs))
      assert(jobs == 2)
      assert(labels(out) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("releasing its checkpoints logs no unpersist warning") {
    val s = spark
    import s.implicits._
    // a released local checkpoint cannot be recomputed by design, so
    // Spark's "cannot be recomputed after unpersisting" warning is noise
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("i", "j")
    val (n, warned) = graft.LogCapture.warnings(Dedup.connectedComponents(pairs).count())
    assert(n == 5)
    assert(!warned.exists(_.contains("was locally checkpointed")), warned.mkString("\n"))
  }

  test("int ids come back as int; non-integral ids are rejected") {
    val s = spark
    import s.implicits._
    val out = Dedup.connectedComponents(Seq((5, 6), (6, 9), (-3, -3)).toDF("i", "j"))
    assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(5 -> 5, 6 -> 5, 9 -> 5, -3 -> -3))
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(Seq(("a", "b")).toDF("i", "j")))
    assert(e.getMessage.contains("string"), e.getMessage)
  }
}
