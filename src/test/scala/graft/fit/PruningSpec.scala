package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.{CatEq, NumLE, NumGT, Rule}
import org.apache.spark.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PruningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("upperErrorRate: exact-zero-error leaves still pay a size penalty") {
    val small = C45Pruning.upperErrorRate(0, 5)
    val big = C45Pruning.upperErrorRate(0, 500)
    assert(small > big, "the bound shrinks as n grows")
    assert(small > 0 && small < 0.2)
    assert(C45Pruning.upperErrorRate(0, 0) == 0.0, "empty leaf costs nothing")
    // worst case: all wrong -> bound near (but below) 1
    assert(C45Pruning.upperErrorRate(10, 10) <= 1.0)
  }

  test("upperErrorRate grows with the observed error") {
    val e0 = C45Pruning.upperErrorRate(0, 100)
    val e5 = C45Pruning.upperErrorRate(5, 100)
    val e20 = C45Pruning.upperErrorRate(20, 100)
    assert(e0 < e5 && e5 < e20)
  }

  test("prune collapses a noise split but keeps a real one") {
    val s = spark
    import s.implicits._
    val schema = C45Schema(Seq(
      AttrMeta("a", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Seq("n", "p"))
    // real structure: a decides the class. The x<=5 split below a=u is
    // noise: both sides stay ~50/50 p/n.
    val leaves = Vector(
      Rule(Vector(0 -> CatEq("t")), Some("p")),
      Rule(Vector(0 -> CatEq("u"), 1 -> NumLE(5.0)), Some("p")),
      Rule(Vector(0 -> CatEq("u"), 1 -> NumGT(5.0)), Some("n")))
    val model = C45Model(schema, leaves, "p")
    // a=t: 80 pure p. a=u: both x-sides mirror the parent's ~50/50 mix
    // (10p/10n and 12p/11n) — the split reveals nothing, so the
    // small-n penalty on two leaves exceeds one leaf's and it collapses
    val rows =
      (1 to 80).map(i => ("t", i % 10 + 0.0, "p")) ++
        (1 to 10).map(_ => ("u", 3.0, "p")) ++ (1 to 10).map(_ => ("u", 4.0, "n")) ++
        (1 to 12).map(_ => ("u", 7.0, "p")) ++ (1 to 11).map(_ => ("u", 8.0, "n"))
    val df = rows.toDF("a", "x", "cls")
    val pruned = C45Pruning.prune(model, df)
    val got = pruned.leaves.map(_.encode).toSet
    assert(got == Set("0,t:p", "0,u:p"),
      s"noise subtree collapses to its majority, real split survives: $got")
  }

  test("prune keeps a genuinely informative subtree") {
    val s = spark
    import s.implicits._
    val schema = C45Schema(Seq(
      AttrMeta("a", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Seq("n", "p"))
    val leaves = Vector(
      Rule(Vector(0 -> CatEq("t")), Some("p")),
      Rule(Vector(0 -> CatEq("u"), 1 -> NumLE(5.0)), Some("p")),
      Rule(Vector(0 -> CatEq("u"), 1 -> NumGT(5.0)), Some("n")))
    val model = C45Model(schema, leaves, "p")
    // under a=u the x split is PERFECT on 60+60 rows: keeping it beats
    // any single-leaf collapse
    val rows =
      (1 to 40).map(i => ("t", i % 10 + 0.0, "p")) ++
        (1 to 60).map(_ => ("u", 3.0, "p")) ++ (1 to 60).map(_ => ("u", 8.0, "n"))
    val pruned = C45Pruning.prune(model, rows.toDF("a", "x", "cls"))
    assert(pruned.leaves.map(_.encode).toSet == leaves.map(_.encode).toSet)
  }

  test("planted-noise fit: pruning strictly shrinks the tree to the true structure") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", Seq("N", "P"))
    val noisy = graft.functions.Hashing.hash60(
      concat_ws("|", col("l_orderkey"), col("l_linenumber"))) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    val df = spark.read.parquet(s"$sf/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
    val unpruned = C45.fit(df, schema, C45Params(maxDepth = 5))
    val pruned = C45Pruning.prune(unpruned, df)
    assert(unpruned.leaves.length > pruned.leaves.length,
      s"noise must overfit (${unpruned.leaves.length}) and prune away " +
        s"(${pruned.leaves.length})")
    // every pruned leaf is a prefix of some unpruned leaf (subtree
    // replacement only ever collapses, never invents conditions)
    val orig = unpruned.leaves.map(_.conditions)
    assert(pruned.leaves.forall(p =>
      orig.exists(_.startsWith(p.conditions))))
    // the true planted structure: quantity then returnflag, XOR labels
    assert(pruned.leaves.forall(_.depth <= 2))
  }

  test("pruneTraining ≡ prune(model, trainingDf) on a null-free corpus, zero jobs") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", Seq("N", "P"))
    val noisy = graft.functions.Hashing.hash60(
      concat_ws("|", col("l_orderkey"), col("l_linenumber"))) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    val df = spark.read.parquet(s"$sf/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
    val model = C45.fit(df, schema, C45Params(maxDepth = 5))
    val viaScan = C45Pruning.prune(model, df)
    val viaDist = C45Pruning.pruneTraining(model)
    assert(viaDist.leaves.map(_.encode) == viaScan.leaves.map(_.encode))
    assert(viaDist.majority == viaScan.majority)
  }

  test("pruned models keep the merged leaf distributions: fractional " +
      "predict and re-pruning compose") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", Seq("N", "P"))
    val noisy = graft.functions.Hashing.hash60(
      concat_ws("|", col("l_orderkey"), col("l_linenumber"))) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    val df = spark.read.parquet(s"$sf/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
    val pruned = C45Pruning.pruneTraining(C45.fit(df, schema, C45Params(maxDepth = 5)))
    // the walk's merged distributions align with the pruned leaves and
    // keep the fit's invariants (micros; mass = distribution sum)
    assert(pruned.leafDist.size == pruned.leaves.size)
    assert(pruned.leafMass == pruned.leafDist.map(_.values.sum))
    // ... and they equal a fresh per-leaf recount of the training data
    // (each pruned leaf's predicate, counted independently, × 1e6)
    val names = schema.attrNames
    pruned.leaves.zip(pruned.leafDist).foreach { case (r, d) =>
      val want = df.filter(r.toPredicate(names)).groupBy("cls").count()
        .collect().map(x => x.getString(0) -> x.getLong(1) * 1000000L).toMap
      assert(d == want, s"leaf ${r.encode}")
    }
    // fractional predict on the PRUNED model (the prune → serve
    // pipeline that used to throw) matches the same model armed with
    // the recomputed distributions — i.e. the carried masses are the
    // ones fractional scoring needs
    val nulled = df.withColumn("l_quantity",
      when(col("l_orderkey") % 3 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity")))
    val recomputed = pruned.copy(
      leafMass = pruned.leaves.map(r =>
        df.filter(r.toPredicate(names)).count() * 1000000L))
    val a = pruned.transformFractional(nulled, "pred")
      .groupBy("pred").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = recomputed.transformFractional(nulled, "pred")
      .groupBy("pred").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // re-pruning a pruned model works and is a fixpoint at the same z
    val again = C45Pruning.pruneTraining(pruned)
    assert(again.leaves.map(_.encode) == pruned.leaves.map(_.encode))
    assert(again.leafDist == pruned.leafDist)
  }

  test("pruneTraining rejects models without recorded distributions") {
    val schema = C45Schema(Seq(AttrMeta("a", isNumeric = false)),
      "cls", Seq("n", "p"))
    val m = C45Model(schema,
      Vector(Rule(Vector(0 -> CatEq("t")), Some("p"))), "p")
    assertThrows[IllegalArgumentException](C45Pruning.pruneTraining(m))
  }

  test("wide models prune through the routed level-walk, same result as flat") {
    val s = spark
    import s.implicits._
    // a two-level fan-out: 6 × 4 = up to 24 leaves, its counts scan
    // forced through each plan; labels planted so several subtrees are pure
    // noise and collapse identically on both routing paths
    val rows = for {
      i <- 1 to 800
      a = s"g${i % 6}"
      x = (i % 8).toDouble
    } yield (a, x, if ((i % 6) < 3 == (x <= 3.0)) "p" else if (i % 13 == 0) "p" else "n")
    val df = rows.toDF("a", "x", "cls")
    val schema = C45Schema(Seq(
      AttrMeta("a", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Seq("n", "p"))
    val model = C45.fit(df, schema, C45Params(maxDepth = 4))
    assume(model.leaves.size > 4, s"need a wide model, got ${model.leaves.size}")
    val flat = C45Pruning.pruneVia(model, df, C45Pruning.DefaultZ, raising = false, walk = false)
    val routed = C45Pruning.pruneVia(model, df, C45Pruning.DefaultZ, raising = false, walk = true)
    assert(routed.leaves.map(_.encode) == flat.leaves.map(_.encode))
  }

  test("subtree raising: a useless root split is replaced by its " +
    "largest child's subtree, re-routed rows re-label the raised leaves") {
    val s = spark
    import s.implicits._
    val schema = C45Schema(Seq(
      AttrMeta("c", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Seq("A", "B"))
    // planted raise-beats-replace geometry: the root split on c is
    // USELESS (the class depends only on x, identically for c=u and
    // c=v), but the fitted tree split on c first and only grew the
    // x-split under the heavy c=u branch — the light c=v branch is a
    // majority leaf mislabeling all its x>5 rows.
    val leaves = Vector(
      Rule(Vector(0 -> CatEq("u"), 1 -> NumLE(5.0)), Some("A")),
      Rule(Vector(0 -> CatEq("u"), 1 -> NumGT(5.0)), Some("B")),
      Rule(Vector(0 -> CatEq("v")), Some("A")))
    val model = C45Model(schema, leaves, "A")
    val rows =
      (1 to 40).map(_ => ("u", 3.0, "A")) ++ (1 to 40).map(_ => ("u", 8.0, "B")) ++
        (1 to 10).map(_ => ("v", 3.0, "A")) ++ (1 to 10).map(_ => ("v", 8.0, "B"))
    val df = rows.toDF("c", "x", "cls")
    // KEEP pays the v-leaf's 10/20 errors; REPLACE (one root leaf)
    // pays 50/100; RAISING the u-subtree re-routes the v rows through
    // the x split and classifies everything — raise must win.
    val raised = C45Pruning.prune(model, df, raising = true)
    assert(raised.leaves.map(_.encode).toSet == Set("1,<=5.0:A", "1,>5.0:B"),
      s"raise lifts the x-subtree over the useless c split: " +
        s"${raised.leaves.map(_.encode)}")
    // the raised leaves carry the MERGED (own + re-routed) counts
    val dist = raised.leaves.map(_.encode).zip(raised.leafDist).toMap
    assert(dist("1,<=5.0:A") == Map("A" -> 50000000L))
    assert(dist("1,>5.0:B") == Map("B" -> 50000000L))
    // replacement-only pruning cannot fix this tree: it keeps all 3
    val kept = C45Pruning.prune(model, df)
    assert(kept.leaves.map(_.encode).toSet ==
      Set("0,u&1,<=5.0:A", "0,u&1,>5.0:B", "0,v:A"))
  }

  test("subtree raising does not fire when the kept tree is exact " +
    "(raise ties lose to keep only when strictly worse; a perfect " +
    "informative root survives)") {
    val s = spark
    import s.implicits._
    val schema = C45Schema(Seq(
      AttrMeta("c", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Seq("A", "B"))
    // c genuinely matters: c=v rows are ALL class A regardless of x,
    // and under c=u the x split is perfect. Raising the u-subtree
    // would misclassify the v,x>5 rows as B — strictly worse.
    val leaves = Vector(
      Rule(Vector(0 -> CatEq("u"), 1 -> NumLE(5.0)), Some("A")),
      Rule(Vector(0 -> CatEq("u"), 1 -> NumGT(5.0)), Some("B")),
      Rule(Vector(0 -> CatEq("v")), Some("A")))
    val model = C45Model(schema, leaves, "A")
    val rows =
      (1 to 40).map(_ => ("u", 3.0, "A")) ++ (1 to 40).map(_ => ("u", 8.0, "B")) ++
        (1 to 15).map(_ => ("v", 3.0, "A")) ++ (1 to 15).map(_ => ("v", 8.0, "A"))
    val df = rows.toDF("c", "x", "cls")
    val pruned = C45Pruning.prune(model, df, raising = true)
    assert(pruned.leaves.map(_.encode).toSet ==
      Set("0,u&1,<=5.0:A", "0,u&1,>5.0:B", "0,v:A"),
      s"informative root must survive raising: ${pruned.leaves.map(_.encode)}")
  }

  test("raising selects the LARGEST branch by mass, not the first in " +
    "sort order (fused all-branch enumeration + driver-side pick)") {
    val s = spark
    import s.implicits._
    val schema = C45Schema(Seq(
      AttrMeta("c", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Seq("A", "B"))
    // same raise-beats-replace geometry as above, but the subtree-
    // bearing branch is c=v (lexicographically SECOND): selection must
    // follow mass, so v's x-subtree is what gets raised
    val leaves = Vector(
      Rule(Vector(0 -> CatEq("v"), 1 -> NumLE(5.0)), Some("A")),
      Rule(Vector(0 -> CatEq("v"), 1 -> NumGT(5.0)), Some("B")),
      Rule(Vector(0 -> CatEq("u")), Some("A")))
    val model = C45Model(schema, leaves, "A")
    val rows =
      (1 to 40).map(_ => ("v", 3.0, "A")) ++ (1 to 40).map(_ => ("v", 8.0, "B")) ++
        (1 to 10).map(_ => ("u", 3.0, "A")) ++ (1 to 10).map(_ => ("u", 8.0, "B"))
    val raised = C45Pruning.prune(model, rows.toDF("c", "x", "cls"),
      raising = true)
    assert(raised.leaves.map(_.encode).toSet == Set("1,<=5.0:A", "1,>5.0:B"),
      s"the heavy v-subtree must be the one raised: " +
        s"${raised.leaves.map(_.encode)}")
  }

  test("pruneTrainingRaising ≡ prune(raising = true) on the training " +
    "frame, in ONE corpus job (the raise scan; no counts scan runs)") {
    val s = spark
    import s.implicits._
    val schema = C45Schema(Seq(
      AttrMeta("c", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Seq("A", "B"))
    val leaves = Vector(
      Rule(Vector(0 -> CatEq("u"), 1 -> NumLE(5.0)), Some("A")),
      Rule(Vector(0 -> CatEq("u"), 1 -> NumGT(5.0)), Some("B")),
      Rule(Vector(0 -> CatEq("v")), Some("A")))
    val rows =
      (1 to 40).map(_ => ("u", 3.0, "A")) ++ (1 to 40).map(_ => ("u", 8.0, "B")) ++
        (1 to 10).map(_ => ("v", 3.0, "A")) ++ (1 to 10).map(_ => ("v", 8.0, "B"))
    val df = rows.toDF("c", "x", "cls")
    // the model as a FIT would have recorded it: exact per-leaf
    // training distributions in micros
    val dists = Vector(
      Map("A" -> 40000000L), Map("B" -> 40000000L),
      Map("A" -> 10000000L, "B" -> 10000000L))
    val model = C45Model(schema, leaves, "A",
      dists.map(_.values.sum), dists)
    val viaScan = C45Pruning.prune(model, df, raising = true)
    // job descriptions stamp the two scan kinds; inside a job group,
    // the training path must show ONLY the raise scan (the general
    // path additionally runs "graft.prune scan counts")
    val (viaDist, jobs) = JobCount.described(spark.sparkContext)(
      C45Pruning.pruneTrainingRaising(model, df))
    assert(viaDist.leaves.map(_.encode) == viaScan.leaves.map(_.encode))
    assert(viaDist.leafDist == viaScan.leafDist)
    assert(viaDist.majority == viaScan.majority)
    val descs = jobs.filter(_.startsWith("graft.prune")).toSet
    assert(descs.size == 1 && descs.head.startsWith("graft.prune raise scan"),
      s"training raising must run exactly the raise scan, saw $descs")
  }

  test("pruned golden: sf0.01 committed rule set reproduces") {
    val got = graft.queries.C45Queries.qFitPruned(spark, "/root/testdata/sf0.01")
      .collect().map(_.getString(0)).toVector
    val src = scala.io.Source.fromResource("golden/fit_pruned_sf001_rules.txt")
    val want = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    assert(got.sorted == want.sorted)
  }
}
