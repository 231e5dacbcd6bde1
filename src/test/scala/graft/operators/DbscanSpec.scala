package graft.operators

import graft.SparkTestSession
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import MessyGraphs.{Pair, longIds, messy, scoped, typedRows}

/** [[Similarity.dbscan]] — density clustering with explicit noise:
  * hand geometry (dense blob + sparse outliers), border attachment
  * determinism, role/cluster sanity on the real corpus, and the
  * one-task labelling against the relational one. Every pipeline runs
  * under its own scope, released after its rows are collected. */
class DbscanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def ray(deg: Double) = {
    val r = math.toRadians(deg)
    Seq(math.cos(r).toFloat, math.sin(r).toFloat)
  }

  test("hand geometry: dense blob = core cluster, fringe = border, far point = noise") {
    // eps 0.95 ⟺ neighbor iff angle ≤ ~18.19°. Blob 0/2/4/6°: every
    // member has ≥3 neighbors → core at minPts=4. id 20 at 22°
    // neighbors ids 4 (16°) and 3 (18°, cos .9511) only → nc 2 →
    // border. id 30 at 90° → noise.
    val d = (Seq((1L, ray(0)), (2L, ray(2)), (3L, ray(4)), (4L, ray(6)),
      (20L, ray(22)), (30L, ray(90))))
      .toDF("vec_id", "embedding")
    val got = scoped(s => Similarity.dbscan(d, "vec_id", "embedding",
        epsCos = 0.95, minPts = 4, s))
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("role"),
        if (r.isNullAt(r.fieldIndex("cluster"))) -1L
        else r.getAs[Long]("cluster"))).toMap
    (1L to 4L).foreach(i => assert(got(i) == (("core", 1L)), s"id $i: ${got(i)}"))
    assert(got(20L) == (("border", 1L)))
    assert(got(30L) == (("noise", -1L)))
  }

  test("border points attach to the MINIMUM core-neighbor cluster") {
    // eps 0.946 ⟺ neighbor iff angle ≤ ~18.9°. Two 4-blobs (members
    // have nc 3 → core at minPts=4); id 5 at 21.5° neighbors exactly
    // id 4 (18.5°) and id 10 (18.5°) → nc 2 → border of BOTH
    // clusters — must take the smaller label (cluster 1)
    val d = Seq(
      (1L, ray(0)), (2L, ray(1)), (3L, ray(2)), (4L, ray(3)),
      (10L, ray(40)), (11L, ray(41)), (12L, ray(42)), (13L, ray(43)),
      (5L, ray(21.5)))
      .toDF("vec_id", "embedding")
    val got = scoped(s => Similarity.dbscan(d, "vec_id", "embedding",
        epsCos = 0.946, minPts = 4, s))
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("role"),
        if (r.isNullAt(r.fieldIndex("cluster"))) -1L
        else r.getAs[Long]("cluster"))).toMap
    assert(got(1L)._1 == "core" && got(10L)._1 == "core")
    assert(got(10L)._2 == 10L, "second blob keeps its own min-id label")
    assert(got(5L) == (("border", 1L)), s"got ${got(5L)}")
  }

  test("real corpus: partition of roles, clusters only from cores, deterministic") {
    def run() = scoped(s => Similarity.dbscan(emb, "vec_id", "embedding",
        epsCos = 0.3, minPts = 5, s))
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("role"),
        if (r.isNullAt(r.fieldIndex("cluster"))) -1L
        else r.getAs[Long]("cluster"))).sortBy(_._1).toSeq
    val a = run()
    assert(a == run(), "deterministic")
    assert(a.map(_._1).distinct.length == emb.count())
    assert(a.forall { case (_, role, cl) =>
      (role == "noise") == (cl == -1L) })
    val roles = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(roles.keySet.subsetOf(Set("core", "border", "noise")))
    // cluster labels are core ids
    val coreIds = a.filter(_._2 == "core").map(_._1).toSet
    assert(a.filter(_._3 != -1L).forall(t => coreIds.contains(t._3)))
  }

  private def labeled(run: CacheScope => DataFrame) = scoped(run)
    .map(r => r.getAs[Long]("id") -> (r.getAs[String]("role"),
      if (r.isNullAt(r.fieldIndex("cluster"))) -1L
      else r.getAs[Long]("cluster"))).toMap

  test("dbscanFromPairs normalizes unordered / duplicated / self pairs") {
    val s = spark
    import s.implicits._
    // hand neighbor graph: 1-2-3-4 clique-ish chain where every node
    // has >= 3 neighbors -> all core at minPts=4; 5 touches 4 only
    // -> border; 6 is isolated (appears in nodes, never in pairs)
    // -> noise. The pair table deliberately arrives messy — both
    // orientations, duplicate witnesses (an LSH band emitting the
    // same pair twice), and a self-pair — and must behave exactly
    // like the clean i<j distinct edge set (duplicates MUST NOT
    // inflate density: 4's count stays 4, not 5+).
    val nodes = (1L to 6L).toDF("id")
    val clean = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val messy = clean.map { case (i, j) => (j, i) } ++
      clean ++ Seq((2L, 1L), (4L, 5L), (3L, 3L))
    val got = labeled(s => Similarity.dbscanFromPairs(
      nodes, messy.toDF("i", "j"), minPts = 4, s))
    val want = labeled(s => Similarity.dbscanFromPairs(
      nodes, clean.toDF("i", "j"), minPts = 4, s))
    assert(got == want, s"messy $got vs clean $want")
    (1L to 4L).foreach(i => assert(got(i) == (("core", 1L)), s"id $i"))
    assert(got(5L) == (("border", 1L)))
    assert(got(6L) == (("noise", -1L)))
  }

  test("dbscan == dbscanFromPairs fed the exact pair table (real corpus)") {
    val v = emb.select(col("vec_id").as("id"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val pairs = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= 0.3).select("i", "j")
    val viaPairs = labeled(
      s => Similarity.dbscanFromPairs(v.select("id"), pairs, minPts = 5, s))
    val direct = labeled(
      s => Similarity.dbscan(emb, "vec_id", "embedding", epsCos = 0.3, minPts = 5, s))
    assert(viaPairs == direct)
  }

  test("dbscanBucketed agrees with exact dbscan on well-separated planted geometry") {
    val s = spark
    import s.implicits._
    // two tight antipodal blobs (the regime the k-means candidate
    // generator is built for: cluster diameter << centroid
    // separation) + two lone off-axis noise points. eps 0.95 keeps
    // neighbors within ~18°, so each 5-blob is a core cluster and
    // the 45°/135° singletons have no neighbor at all.
    val d = ((1L to 5L).map(i => (i, ray(i.toDouble))) ++
      (11L to 15L).map(i => (i, ray(180.0 + i))) ++
      Seq((30L, ray(90)), (31L, ray(270))))
      .toDF("vec_id", "embedding")
    val exact = labeled(
      s => Similarity.dbscan(d, "vec_id", "embedding", epsCos = 0.95, minPts = 4, s))
    val bucketed = labeled(s => Similarity.dbscanBucketed(
      d, "vec_id", "embedding", epsCos = 0.95, minPts = 4,
      nCentroids = 2, nIter = 10, s))
    assert(bucketed == exact, s"bucketed $bucketed vs exact $exact")
    assert(exact(1L)._1 == "core" && exact(11L)._1 == "core")
    assert(exact(1L)._2 != exact(11L)._2, "the blobs are distinct clusters")
    assert(exact(30L) == (("noise", -1L)) && exact(31L) == (("noise", -1L)))
  }

  // ------------------ one task ≡ relational labelling ------------------

  /** Column types and sorted rows of [[Similarity.dbscanFromPairs]] at
    * one-task capacity `cap`. */
  private def outputs(pairs: DataFrame, nodes: DataFrame, minPts: Int, cap: Long) =
    typedRows(Similarity.dbscanFromPairs(nodes, pairs, minPts, _, cap))

  test("a repeated node id yields one row per node-table row on both paths") {
    // triangle 1-2-3 is core at minPts 3 (3 also neighbors 4); 4 is a
    // border of cluster 1, 5 is isolated noise. Core 1 is listed three
    // times, border 4 and noise 5 twice each.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("i", "j")
    val nodes = Seq(1L, 1L, 1L, 2L, 3L, 4L, 4L, 5L, 5L).toDF("id")
    val want = Seq.fill(3)((1L, "core", Some(1L))) ++ Seq((2L, "core", Some(1L)),
      (3L, "core", Some(1L))) ++ Seq.fill(2)((4L, "border", Some(1L))) ++
      Seq.fill(2)((5L, "noise", None))
    for (cap <- Seq(Dedup.BucketEdges, 0L)) {
      val got = scoped(s => Similarity.dbscanFromPairs(nodes, pairs, 3, s, cap))
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == want, s"capacity $cap")
    }
  }

  test("one task equals the relational path on messy long and int graphs, minPts 1, 2 and 4") {
    val longs = (1 to 4).map { k =>
      val (p, n) = messy(longIds).pureApply(Gen.Parameters.default, Seed(k.toLong))
      val extremes = Seq(Long.MinValue -> Long.MaxValue, Long.MinValue -> (Long.MinValue + 1),
        (Long.MinValue + 1) -> Long.MaxValue).map { case (a, b) => (Some(a), Some(b)): Pair }
      ((p ++ extremes).toDF("i", "j"), (n ++ Seq(Some(Long.MinValue), Some(Long.MaxValue))).toDF("id"))
    }
    val ints = (5 to 6).map { k =>
      val (p, n) = messy(Gen.chooseNum(-12L, 12L)).pureApply(Gen.Parameters.default, Seed(k.toLong))
      (p.map { case (a, b) => (a.map(_.toInt), b.map(_.toInt)) }.toDF("i", "j"),
        n.map(_.map(_.toInt)).toDF("id"))
    }
    // int pairs over long node ids: the cluster column coalesces to long
    val mixed = {
      val (p, n) = messy(Gen.chooseNum(-12L, 12L)).pureApply(Gen.Parameters.default, Seed(7L))
      (p.map { case (a, b) => (a.map(_.toInt), b.map(_.toInt)) }.toDF("i", "j"), n.toDF("id"))
    }
    // two 4-cliques and id 5 next to one member of each: a border of
    // both clusters at minPts 4
    val bridged = {
      def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
      ((clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((4L, 5L), (5L, 10L)))
        .toDF("i", "j"), (Seq(1L, 2L, 3L, 4L, 5L) ++ (10L to 13L)).toDF("id"))
    }
    val noPairs = (Seq.empty[Pair].toDF("i", "j"), Seq(Some(3L), Some(3L), None).toDF("id"))
    for ((pairs, nodes) <- longs ++ ints :+ mixed :+ bridged :+ noPairs; minPts <- Seq(1, 2, 4)) {
      val one = outputs(pairs, nodes, minPts, Dedup.BucketEdges)
      assert(one._2.size == nodes.count())
      assert(one == outputs(pairs, nodes, minPts, 0L), s"minPts $minPts")
    }
  }

  test("one task runs a fixed job count (adaptive execution off)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L)).toDF("i", "j")
    val nodes = (1L to 9L).toDF("id")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val scope = new CacheScope
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (db, jobs) = JobCount.of(spark.sparkContext)(
        Similarity.dbscanFromPairs(nodes, pairs, 3, scope))
      // the pair count, the endpoint broadcast, the one-task broadcast,
      // the result checkpoint
      assert(jobs == 4)
      assert(db.count() == 9)
    } finally {
      scope.release()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("one task keeps only the returned table after the scope's release") {
    val d = ((1L to 5L).map(i => (i, ray(i.toDouble))) ++
      Seq((40L, ray(60)), (41L, ray(200))))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    val scope = new CacheScope
    val before = sc.getPersistentRDDs.keySet
    val out = Similarity.dbscan(d, "vec_id", "embedding", epsCos = 0.95, minPts = 4, scope)
    assert(scope.trackedCount == 2, "the vectors and the pair table are cached")
    assert((sc.getPersistentRDDs.keySet -- before).size == 3,
      "the two caches and the returned checkpoint")
    assert(out.count() == 7)
    scope.release()
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
  }
}
