package graft.operators

import graft.SparkTestSession
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import MessyGraphs.{Pair, longIds, messy, scoped, typedRows}

/** [[GraphRank.pagerank]] — deterministic integer PageRank: exact
  * agreement with a driver-side replay of the integer semantics,
  * isolated-node decay, and ranking sanity on a hub topology. */
class GraphRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Driver-side replay of the documented integer semantics. */
  private def replay(pairs: Seq[(Long, Long)], nodes: Seq[Long],
                     iters: Int, damp: Long): Map[Long, Long] = {
    val U = GraphRank.U
    val edges = pairs.flatMap { case (i, j) => Seq((i, j), (j, i)) }
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val n = nodes.size.toLong
    val base = (1000L - damp) * U / 1000L / n
    var pr = nodes.map(_ -> U / n).toMap
    for (_ <- 1 to iters) {
      val contribs = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => ((pr(u) * damp) / 1000L) / deg(u) }.sum
      }
      pr = nodes.map(v => v -> (base + contribs.getOrElse(v, 0L))).toMap
    }
    pr
  }

  test("exact agreement with the driver-side integer replay (hub + chain + isolate)") {
    // hub 1 touches 2,3,4; chain 4-5; node 9 isolated
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L)
    val got = scoped(s => GraphRank.pagerank(
        pairs.toDF("i", "j"), nodes.toDF("id"), "id", iters = 5, scope = s))
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("pr_picos"))).toMap
    val exp = replay(pairs, nodes, iters = 5, damp = 850L)
    assert(got.view.mapValues(_._2).toMap == exp)
    assert(got(1L)._1 == 3L && got(9L)._1 == 0L)
    // the hub outranks every leaf; the isolate decays to the base
    assert(exp(1L) > exp(2L) && exp(1L) > exp(5L))
    assert(got(9L)._2 == (1000L - 850L) * GraphRank.U / 1000L / nodes.size)
  }

  test("total rank mass is conserved up to integer-division loss") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L)) // 3-cycle: symmetric
    val nodes = Seq(1L, 2L, 3L)
    val got = scoped(s => GraphRank.pagerank(pairs.toDF("i", "j"), nodes.toDF("id"),
        "id", iters = 5, scope = s))
      .map(_.getAs[Long]("pr_picos"))
    // symmetric graph: all ranks equal, and each stays near U/3
    assert(got.distinct.length == 1)
    assert(math.abs(got.head - GraphRank.U / 3) < 1000,
      s"cycle rank ${got.head} should stay ~U/3")
  }

  test("deterministic under repartitioning") {
    val pairs = (1L to 60L).map(i => (i, (i % 30) + 100L))
    val nodes = ((1L to 60L) ++ (100L to 130L)).distinct
    def run(parts: Int) = scoped(s => GraphRank.pagerank(
        pairs.toDF("i", "j").repartition(parts), nodes.toDF("id"), "id", scope = s))
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("pr_picos")))
      .sortBy(_._1).toSeq
    assert(run(2) == run(9))
  }

  // ------------------------- labelPropagation -------------------------

  /** Driver-side replay of the documented LPA semantics: synchronous
    * rounds, mode of neighbor labels, ties to the smallest label,
    * isolated nodes keep their own. */
  private def replayLpa(pairs: Seq[(Long, Long)], nodes: Seq[Long],
                        iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (i, j) => Seq((i, j), (j, i)) }
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      val votes = edges.groupBy(_._2).map { case (v, es) =>
        val counts = es.groupBy { case (u, _) => lbl(u) }
          .view.mapValues(_.size).toMap
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      lbl = nodes.map(v => v -> votes.getOrElse(v, lbl(v))).toMap
    }
    lbl
  }

  private def runLpa(pairs: Seq[(Long, Long)], nodes: Seq[Long],
                     iters: Int = 5): Map[Long, Long] =
    scoped(s => GraphRank.labelPropagation(
        pairs.toDF("i", "j"), nodes.toDF("id"), "id", iters = iters, scope = s))
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("community")).toMap

  test("lpa: exact agreement with the driver-side replay") {
    // two triangles joined by ONE bridge edge + an isolate
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L)
    assert(runLpa(pairs, nodes) == replayLpa(pairs, nodes, 5))
  }

  test("lpa: a weak bridge does NOT merge two dense communities") {
    // two 4-cliques with a single bridge edge: CC would report one
    // component; LPA keeps two (the bridge node is out-voted 3:1)
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val pairs = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(20L, 21L, 22L, 23L)) ++ Seq((4L, 20L))
    val nodes = (1L to 4L) ++ (20L to 23L)
    val got = runLpa(pairs, nodes)
    assert(Set(1L, 2L, 3L, 4L).map(got) == Set(1L))
    assert(Set(20L, 21L, 22L, 23L).map(got) == Set(20L))
  }

  test("lpa: isolated nodes stay singleton communities; triangle converges") {
    // (a lone EDGE would oscillate under synchronous updates — the
    // documented caveat — so the connected part here is a triangle,
    // which settles on its min label)
    val got = runLpa(Seq((1L, 2L), (2L, 3L), (1L, 3L)), Seq(1L, 2L, 3L, 7L, 8L))
    assert(got(7L) == 7L && got(8L) == 8L)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
  }

  test("lpa: round 5 has converged on the gate-tier dup graph (round 6 identical)") {
    // hardens q_label_prop's fixed round count: on the ACTUAL LSH
    // near-dup graph the query runs over at the correctness gate tier
    // (sf0.01, doc_id < 1000, the exact miner parameters the query
    // uses), the synchronous labels are already stable at round 5 —
    // the contracted cap sits past convergence, not mid-oscillation.
    // Rounds 5 and 6 replay driver-side (the replay ≡ engine by the
    // agreement test above).
    val d = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.01", "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 1000)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        k = 16, rowsPerBand = 2, threshold = 0.5, maxShingleDf = 400L)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = d.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(pairs.nonEmpty && nodes.nonEmpty)
    assert(replayLpa(pairs, nodes, 5) == replayLpa(pairs, nodes, 6),
      "labels changed between rounds 5 and 6 — the contract cap is " +
        "mid-oscillation; document it or raise LpaIters")
  }

  test("lpa: deterministic under repartitioning") {
    val pairs = (1L to 60L).map(i => (i, (i % 20) + 100L))
    val nodes = ((1L to 60L) ++ (100L to 120L)).distinct
    def run(parts: Int) = scoped(s => GraphRank.labelPropagation(
        pairs.toDF("i", "j").repartition(parts), nodes.toDF("id"), "id", scope = s))
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("community")))
      .sortBy(_._1).toSeq
    assert(run(2) == run(9))
  }

  // ------------- one task ≡ per-round loop (both operators) -------------

  /** Both operators' rows, sorted, at one-task capacity `cap`. */
  private def outputs(pairs: DataFrame, nodes: DataFrame, iters: Int, cap: Long) =
    (typedRows(GraphRank.pagerank(pairs, nodes, "id", iters, 850L, _, cap)),
      typedRows(GraphRank.labelPropagation(pairs, nodes, "id", iters, _, cap)))

  test("one task equals the per-round loop on messy long and int graphs, iters 1 and 5") {
    val longs = (1 to 4).map { k =>
      val (p, n) = messy(longIds).pureApply(Gen.Parameters.default, Seed(k.toLong))
      // Long.MinValue votes: the loop's label order must not negate it
      val extremes = Seq(Long.MinValue -> Long.MaxValue, Long.MinValue -> (Long.MinValue + 1),
        (Long.MinValue + 1) -> Long.MaxValue).map { case (a, b) => (Some(a), Some(b)): Pair }
      ((p ++ extremes).toDF("i", "j"), (n ++ Seq(Some(Long.MinValue), Some(Long.MaxValue))).toDF("id"))
    }
    val ints = (5 to 6).map { k =>
      val (p, n) = messy(Gen.chooseNum(-12L, 12L)).pureApply(Gen.Parameters.default, Seed(k.toLong))
      (p.map { case (a, b) => (a.map(_.toInt), b.map(_.toInt)) }.toDF("i", "j"),
        n.map(_.map(_.toInt)).toDF("id"))
    }
    val noPairs = (Seq.empty[Pair].toDF("i", "j"), Seq(Some(3L), Some(3L), None).toDF("id"))
    for ((pairs, nodes) <- longs ++ ints :+ noPairs; iters <- Seq(1, 5)) {
      val (pr, lp) = outputs(pairs, nodes, iters, Dedup.BucketEdges)
      assert(pr._2.size == nodes.count() && lp._2.size == nodes.count())
      assert((pr, lp) == outputs(pairs, nodes, iters, 0L), s"iters $iters")
    }
  }

  test("one task runs a fixed job count (adaptive execution off)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("i", "j")
    val nodes = (1L to 9L).toDF("id")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val scope = new CacheScope
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (pr, prJobs) = JobCount.of(spark.sparkContext)(
        GraphRank.pagerank(pairs, nodes, "id", scope = scope))
      val (lp, lpJobs) = JobCount.of(spark.sparkContext)(
        GraphRank.labelPropagation(pairs, nodes, "id", scope = scope))
      // pagerank: the pair count, the node count, the endpoint
      // broadcast, the one-task broadcast, the result checkpoint; label
      // propagation needs no node count
      assert((prJobs, lpJobs) == ((5, 4)))
      assert(pr.count() == 9 && lp.count() == 9)
    } finally {
      scope.release()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("one task keeps only the returned table and the scope's pair table") {
    val pairs = (1L to 30L).map(i => (i, i % 7 + 100L)).toDF("i", "j")
    val nodes = ((1L to 40L) ++ (100L to 106L)).toDF("id")
    val sc = spark.sparkContext
    Seq[CacheScope => DataFrame](
      s => GraphRank.pagerank(pairs, nodes, "id", scope = s),
      s => GraphRank.labelPropagation(pairs, nodes, "id", scope = s)).foreach { run =>
      val scope = new CacheScope
      val before = sc.getPersistentRDDs.keySet
      val out = run(scope)
      assert(scope.trackedCount == 1, "only the pair table is cached")
      assert((sc.getPersistentRDDs.keySet -- before).size == 2,
        "the pair table's cache and the returned checkpoint")
      assert(out.count() == 47)
      scope.release()
      assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    }
  }

  test("pagerank then labelPropagation in one scope cache the pair table once") {
    val pairs = (1L to 30L).map(i => (i, i % 7 + 100L)).toDF("i", "j")
    val nodes = ((1L to 40L) ++ (100L to 106L)).toDF("id")
    val scope = new CacheScope
    val (_, warnings) = graft.LogCapture.warnings {
      GraphRank.pagerank(pairs, nodes, "id", scope = scope).count()
      GraphRank.labelPropagation(pairs, nodes, "id", scope = scope).count()
    }
    try {
      assert(scope.trackedCount == 1, "the pair table, tracked once")
      assert(!warnings.exists(_.contains("Asked to cache already cached data")),
        warnings.mkString("\n"))
    } finally scope.release()
    assert(pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a scope leaves a table the caller persisted cached after release") {
    val pairs = (1L to 30L).map(i => (i, i % 7 + 100L)).toDF("i", "j").persist()
    val nodes = ((1L to 40L) ++ (100L to 106L)).toDF("id")
    try {
      val scope = new CacheScope
      GraphRank.labelPropagation(pairs, nodes, "id", scope = scope).count()
      assert(scope.trackedCount == 0, "the caller owns the pair table")
      scope.release()
      assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally pairs.unpersist()
  }

  // ------------------------- triangleCounts -------------------------

  private def runTri(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    GraphRank.triangleCounts(pairs.toDF("i", "j"))
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
          r.getAs[Long]("cc_micros")))).toMap

  test("triangles: K4 gives every node 3 triangles at cc = 1") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val got = runTri(k4)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    got.values.foreach { case (deg, t, cc) =>
      assert(deg == 3L && t == 3L && cc == 1000000L)
    }
  }

  test("triangles: open structures count zero (absent from output)") {
    // a 4-cycle (no chord) + a star have wedges but no closures
    val got = runTri(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (10L, 11L), (10L, 12L), (10L, 13L)))
    assert(got.isEmpty)
  }

  test("triangles: bowtie attributes each triangle to its 3 nodes") {
    // two triangles sharing node 5: 5 has 2 triangles, deg 4, cc 2/6
    val got = runTri(Seq((1L, 2L), (1L, 5L), (2L, 5L),
      (8L, 9L), (8L, 5L), (9L, 5L)))
    assert(got(5L) == ((4L, 2L, 333333L))) // floor(2*2e6/12 + .5)
    assert(got(1L) == ((2L, 1L, 1000000L)))
    assert(got(9L) == ((2L, 1L, 1000000L)))
  }

  test("triangles: duplicate / reversed / self pairs do not inflate counts") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 3L))
    val got = runTri(messy)
    assert(got(1L) == ((2L, 1L, 1000000L)))
    assert(got(2L) == ((2L, 1L, 1000000L)))
    assert(got(3L) == ((2L, 1L, 1000000L)))
  }

  test("triangles: deterministic under repartitioning") {
    val pairs = (for (a <- 1L to 25L; b <- 1L to 25L
                      if a < b && (a + b) % 3 != 0) yield (a, b)).toSeq
    def run(parts: Int) = GraphRank.triangleCounts(
        pairs.toDF("i", "j").repartition(parts))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_tri")))
      .sortBy(_._1).toSeq
    assert(run(2) == run(9))
  }

  // --------------------- commonNeighborScores ---------------------

  private def runCn(pairs: Seq[(Long, Long)], maxDeg: Long = 50L,
                    minCommon: Long = 2L): Map[(Long, Long), (Long, Long, Long, Long)] =
    GraphRank.commonNeighborScores(pairs.toDF("i", "j"), maxDeg, minCommon)
      .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) ->
        ((r.getAs[Long]("cn"), r.getAs[Long]("deg_i"),
          r.getAs[Long]("deg_j"), r.getAs[Long]("jaccard_micros")))).toMap

  test("linkpred: 4-cycle predicts both diagonals at jaccard 1") {
    // 1-2-3-4-1: non-edges (1,3) and (2,4) each share BOTH neighbors
    val got = runCn(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(got.keySet == Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L)) == ((2L, 2L, 2L, 1000000L)))
    assert(got((2L, 4L)) == ((2L, 2L, 2L, 1000000L)))
  }

  test("linkpred: existing edges are excluded (K4 predicts nothing)") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    assert(runCn(k4).isEmpty)
  }

  test("linkpred: hand-math jaccard with asymmetric degrees") {
    // 2 and 4 both flank the 1..3 paths; extra edge (1,5) lifts deg(1)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L), (1L, 5L))
    val got = runCn(pairs)
    // (1,3): common {2,4}, deg 3 and 2 -> 2e6 div 3
    assert(got((1L, 3L)) == ((2L, 3L, 2L, 666666L)))
    // (2,4): common {1,3}, deg 2 and 2 -> exactly 1
    assert(got((2L, 4L)) == ((2L, 2L, 2L, 1000000L)))
  }

  test("linkpred: hub cap drops wedge centers above maxCenterDegree") {
    // star center 10 over 5 leaves: every leaf pair shares center 10
    val star = (1L to 5L).map(l => (10L, l))
    assert(runCn(star, maxDeg = 50L, minCommon = 1L).size == 10)
    // capping at 4 < 5 removes the only wedge center -> nothing
    assert(runCn(star, maxDeg = 4L, minCommon = 1L).isEmpty)
  }

  test("linkpred: degrees report the FULL graph even when centers are capped") {
    // center 10 capped out, but center 20 (deg 2) still yields (1,2);
    // deg_i/deg_j must count the capped star edges too
    val pairs = (1L to 5L).map(l => (10L, l)) ++ Seq((20L, 1L), (20L, 2L))
    val got = runCn(pairs, maxDeg = 2L, minCommon = 1L)
    // leaves 1 and 2 (centers themselves) also see (10, 20) as a
    // candidate — the capped hub still APPEARS as an endpoint, it
    // just can't act as a wedge center
    assert(got.keySet == Set((1L, 2L), (10L, 20L)))
    assert(got((1L, 2L)) == ((1L, 2L, 2L, 333333L))) // 1e6 div 3
    assert(got((10L, 20L)) == ((2L, 5L, 2L, 400000L))) // 2e6 div 5
  }

  test("linkpred: messy pairs (dupes, reversed, self) normalize first") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L),
      (2L, 2L))
    val got = runCn(messy, minCommon = 1L)
    assert(got.keySet == Set((1L, 3L)))
    assert(got((1L, 3L)) == ((1L, 1L, 1L, 1000000L)))
  }

  test("linkpred: deterministic under repartitioning") {
    val pairs = (for (a <- 1L to 30L; b <- 1L to 30L
                      if a < b && (a * b) % 4 == 0) yield (a, b)).toSeq
    def run(parts: Int) = GraphRank.commonNeighborScores(
        pairs.toDF("i", "j").repartition(parts), 50L, 2L)
      .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
        r.getAs[Long]("cn"), r.getAs[Long]("jaccard_micros")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(run(2) == run(9))
  }

  private def kcoreMap(pairs: Seq[(Long, Long)], k: Long, rounds: Int) =
    GraphRank.kcore(pairs.toDF("i", "j"), k, rounds)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("deg")).toMap

  test("kcore: pendant peels, triangle survives as the 2-core") {
    // triangle 1-2-3 plus pendant 3-4
    val pairs = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    val got = kcoreMap(pairs, k = 2L, rounds = 3)
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kcore: a chain has no 2-core (cascading peel to empty)") {
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(kcoreMap(pairs, k = 2L, rounds = 4).isEmpty)
  }

  test("kcore: K4 is its own 3-core with full degrees") {
    val pairs = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    assert(kcoreMap(pairs.toSeq, k = 3L, rounds = 2) ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcore: messy pairs (dupes, reversed, self-loops) normalize") {
    val pairs = Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 3L, 1L -> 3L,
      3L -> 3L)
    assert(kcoreMap(pairs, k = 2L, rounds = 2) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kcore: gate contract rounds reach the fixpoint (R == R+1)") {
    // cascade-prone topology: a clique with a long tail
    val clique = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val tail = Seq(5L -> 10L, 10L -> 11L, 11L -> 12L, 12L -> 13L)
    val pairs = clique.toSeq ++ tail
    assert(kcoreMap(pairs, 2L, 5) === kcoreMap(pairs, 2L, 6))
  }

  test("kcore: round 5 is the fixpoint on the gate-tier dup graph") {
    // hardens q_kcore's contracted round count the same way the LPA
    // convergence test does: on the ACTUAL gate-tier LSH graph (same
    // miner parameters as the query), peeling at k=3 is stable by
    // round 5 — the cap sits past the fixpoint, not mid-cascade.
    val d = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.01", "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 1000)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        k = 16, rowsPerBand = 2, threshold = 0.5, maxShingleDf = 400L)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    assert(kcoreMap(pairs, 3L, 5) === kcoreMap(pairs, 3L, 6),
      "core changed between rounds 5 and 6 — the contract cap is " +
        "mid-cascade; raise KcoreRounds")
  }

  // ------------------------------ bfsHops ------------------------------

  private def bfsMap(pairs: Seq[(Long, Long)], sources: Seq[Long],
                     maxHops: Int): Map[Long, Long] =
    GraphRank.bfsHops(pairs.toDF("i", "j"), sources.toDF("id"), "id",
        maxHops)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("hops"))
      .toMap

  test("bfsHops: chain distances from a single source, capped") {
    // 1-2-3-4-5-6 chain; source 1; cap 3 → 4,5,6 cut at/beyond the cap
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    assert(bfsMap(pairs, Seq(1L), maxHops = 3) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfsHops: multi-source takes the NEAREST seed; unreached absent") {
    // two seeds at both ends of a chain + an untouched component
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
      10L -> 11L)
    assert(bfsMap(pairs, Seq(1L, 5L), maxHops = 4) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("bfsHops: cycle — first arrival wins, no re-visit") {
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    assert(bfsMap(pairs, Seq(1L), maxHops = 5) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("bfsHops: isolated seed reports hop 0; self-loops ignored") {
    val pairs = Seq(1L -> 1L, 2L -> 3L)
    assert(bfsMap(pairs, Seq(1L, 2L), maxHops = 2) ===
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("bfsHops: deterministic under repartitioning") {
    val pairs = (1L to 80L).map(i => (i, (i % 20) + 200L))
    def run(parts: Int) = GraphRank.bfsHops(
        pairs.toDF("i", "j").repartition(parts),
        Seq(1L, 2L, 3L).toDF("id"), "id", maxHops = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("hops")))
      .sortBy(_._1).toSeq
    assert(run(2) == run(9))
  }

  // -------------------------------- hits --------------------------------

  /** Driver-side replay of the documented integer HITS semantics:
    * max-rescaled micros, auth half-round from hubs then hub
    * half-round from the fresh auths, synchronous per round. */
  private def replayHits(edges: Seq[(Long, Long)],
                         iters: Int): Map[Long, (Long, Long)] = {
    val M = 1000000L
    val e = edges.filter { case (u, v) => u != v }.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var hub = nodes.map(_ -> M).toMap
    var auth = nodes.map(_ -> M).toMap
    for (_ <- 1 to iters) {
      val ar = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => hub(u) }.sum }
      val am = ar.values.max
      auth = nodes.map(n => n -> ar.get(n).map(_ * M / am).getOrElse(0L)).toMap
      val hr = e.groupBy(_._1).map { case (u, es) =>
        u -> es.map { case (_, v) => auth(v) }.sum }
      val hm = hr.values.max
      hub = nodes.map(n => n -> hr.get(n).map(_ * M / hm).getOrElse(0L)).toMap
    }
    nodes.map(n => n -> (hub(n), auth(n))).toMap
  }

  private def hitsMap(edges: Seq[(Long, Long)],
                      iters: Int): Map[Long, (Long, Long)] =
    GraphRank.hits(edges.toDF("u", "v"), iters)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("hub_micros"), r.getAs[Long]("auth_micros")))
      .toMap

  test("hits: exact agreement with the driver-side integer replay") {
    // bipartite-ish: 1,2,3 buy from 10,11; 3 also from 12; plus a
    // directed chain 20→21→22 to exercise mixed roles
    val edges = Seq(1L -> 10L, 1L -> 11L, 2L -> 10L, 3L -> 10L,
      3L -> 12L, 20L -> 21L, 21L -> 22L)
    assert(hitsMap(edges, iters = 5) === replayHits(edges, iters = 5))
  }

  test("hits: the consensus authority maxes out; pure sources have auth 0") {
    val edges = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 3L -> 11L)
    val got = hitsMap(edges, iters = 3)
    assert(got(10L)._2 == 1000000L) // everyone points at 10
    assert(got(1L)._2 == 0L && got(2L)._2 == 0L && got(3L)._2 == 0L)
    assert(got(10L)._1 == 0L) // 10 points at nothing
    // 3 endorses both authorities → the best hub
    assert(got(3L)._1 == 1000000L && got(3L)._1 > got(1L)._1)
  }

  test("hits: self-loops and duplicate edges normalize away") {
    val edges = Seq(1L -> 10L, 1L -> 10L, 5L -> 5L, 2L -> 10L)
    assert(hitsMap(edges, iters = 2) ===
      replayHits(Seq(1L -> 10L, 2L -> 10L), iters = 2))
  }

  test("hits: empty / self-loop-only graphs return empty, not NPE") {
    val empty = GraphRank.hits(Seq.empty[(Long, Long)].toDF("u", "v"), 3)
    assert(empty.columns.toSeq == Seq("id", "hub_micros", "auth_micros"))
    assert(empty.count() == 0L)
    assert(GraphRank.hits(Seq(7L -> 7L).toDF("u", "v"), 3).count() == 0L)
  }

  test("hits: leaves the session's shuffle width untouched") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    GraphRank.hits(Seq(1L -> 10L, 2L -> 10L).toDF("u", "v"), 3).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("hits: deterministic under repartitioning") {
    val edges = (1L to 60L).map(i => (i, (i % 15) + 100L))
    def run(parts: Int) = GraphRank.hits(
        edges.toDF("u", "v").repartition(parts), iters = 4)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("hub_micros"),
        r.getAs[Long]("auth_micros")))
      .sortBy(_._1).toSeq
    assert(run(2) == run(9))
  }
}
