package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.Rule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bagged C4.5 ([[C45Forest]]): the fused one-histogram-per-level fit
  * must be BIT-IDENTICAL to sequential single-tree fits on explicitly
  * replicated bootstrap samples; the deterministic Poisson(1) draws
  * must have the right marginals; vote/OOB semantics are pinned on
  * hand-built ensembles; and the committed per-tier goldens pin the
  * production query end to end (the same resources qForestSql and
  * scripts/sweep.py compare against). */
class C45ForestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(
    Seq(AttrMeta("c1", isNumeric = false),
      AttrMeta("x1", isNumeric = true),
      AttrMeta("x2", isNumeric = true)),
    "cls", Seq("N", "P"))

  /** 600 rows, a planted (c1, x1) interaction class, stable string key. */
  private def fixture = {
    spark.range(600).select(
      (col("id") % 3).cast("string").as("c1"),
      (col("id") % 7).cast("double").as("x1"),
      ((col("id") * 13) % 10).cast("double").as("x2"),
      when((col("id") % 3 === 0) === (col("id") % 7 <= 3), "P")
        .otherwise("N").as("cls"),
      col("id").cast("string").as("k"))
  }

  private val params = C45ForestParams(nTrees = 3, attrsPerTree = 2,
    seed = 7, base = C45Params(maxDepth = 3, missingMode = "drop"))

  test("fused forest trees are bit-identical to sequential fits on " +
    "explicitly replicated bootstrap samples") {
    val df = fixture
    val (forest, imps) = C45Forest.fitWithImportance(df, schema, col("k"), params)
    assert(forest.trees.size == 3)
    (0 until 3).foreach { t =>
      // replicate each row to its Poisson multiplicity, then null out
      // the attrs outside tree t's subspace: drop-mode C4.5 never sees
      // a null attr as a candidate, so this IS the subspace restriction
      // with unchanged global attr indices
      val subset = C45Forest.attrSubset(t, 3, params.attrsPerTree)
      val rep = df
        .withColumn("__w", C45Forest.bootstrapWeight(col("k"), lit(t), 7))
        .filter(col("__w") > 0)
        .withColumn("__dup",
          explode(array_repeat(lit(1), col("__w").cast("int"))))
        .drop("__w", "__dup")
      val masked = schema.attrNames.zipWithIndex.foldLeft(rep) {
        case (d, (n, i)) =>
          if (subset(i)) d
          else d.withColumn(n,
            lit(null).cast(if (schema.isNumericAttr(i)) "double" else "string"))
      }
      val (seq, seqImp) = C45.fitWithImportance(masked, schema,
        C45Params(maxDepth = 3, missingMode = "drop"))
      assert(seq.ruleStrings == forest.trees(t).ruleStrings,
        s"tree $t diverged from its sequential replay")
      assert(seq.majority == forest.trees(t).majority)
      assert(seq.leafMass == forest.trees(t).leafMass)
      assert(seq.leafDist == forest.trees(t).leafDist)
      // the per-tree gain importance falls out of the same decision
      // pass — identical math on identical cells, so exactly equal
      assert(seqImp == imps(t), s"tree $t importance diverged")
    }
  }

  test("fractional missing-mode forest trees are bit-identical to " +
    "sequential fractional fits on replicated bootstrap samples " +
    "(null-bearing corpus)") {
    // ~20% nulls on x1, keyed deterministically — the fractional
    // machinery must engage (dirty rows fan out along each walk) and
    // every tree must equal C45.fit(missingMode=fractional) on its
    // explicitly replicated bootstrap sample, masses in exact micros
    val df = fixture.withColumn("x1",
      when(pmod(col("k").cast("long"), lit(5L)) === 0, lit(null).cast("double"))
        .otherwise(col("x1")))
    val fp = params.copy(
      base = C45Params(maxDepth = 3, missingMode = "fractional"))
    val forest = C45Forest.fit(df, schema, col("k"), fp)
    assert(forest.trees.size == 3)
    (0 until 3).foreach { t =>
      val subset = C45Forest.attrSubset(t, 3, fp.attrsPerTree)
      val rep = df
        .withColumn("__w", C45Forest.bootstrapWeight(col("k"), lit(t), 7))
        .filter(col("__w") > 0)
        .withColumn("__dup",
          explode(array_repeat(lit(1), col("__w").cast("int"))))
        .drop("__w", "__dup")
      val masked = schema.attrNames.zipWithIndex.foldLeft(rep) {
        case (d, (n, i)) =>
          if (subset(i)) d
          else d.withColumn(n,
            lit(null).cast(if (schema.isNumericAttr(i)) "double" else "string"))
      }
      val seq = C45.fit(masked, schema,
        C45Params(maxDepth = 3, missingMode = "fractional"))
      assert(seq.ruleStrings == forest.trees(t).ruleStrings,
        s"tree $t diverged from its sequential fractional replay")
      assert(seq.majority == forest.trees(t).majority)
      assert(seq.leafMass == forest.trees(t).leafMass, s"tree $t mass")
      assert(seq.leafDist == forest.trees(t).leafDist, s"tree $t dist")
    }
    // the planted null actually splits fractionally somewhere: at least
    // one leaf's mass is not a whole multiple of 10⁶
    assert(forest.trees.exists(_.leafMass.exists(m => m > 0 && m % 1000000L != 0)),
      "fixture never exercised a fractional fan-out")
  }

  test("fractional mode on a NULL-FREE corpus takes the drop path " +
    "bit-for-bit (mass scale included)") {
    val df = fixture
    val drop = C45Forest.fit(df, schema, col("k"), params)
    val frac = C45Forest.fit(df, schema, col("k"), params.copy(
      base = C45Params(maxDepth = 3, missingMode = "fractional")))
    assert(frac.trees.map(_.ruleStrings) == drop.trees.map(_.ruleStrings))
    assert(frac.trees.map(_.leafMass) == drop.trees.map(_.leafMass))
    assert(frac.trees.map(_.leafDist) == drop.trees.map(_.leafDist))
  }

  test("mtry per-node feature sampling: full width ≡ off bit-for-bit, " +
    "mtry=1 is deterministic, subspace-respecting, and decorrelating") {
    val df = fixture
    val off = C45Forest.fit(df, schema, col("k"), params)
    // every tree's live set is <= attrsPerTree = 2, so mtry = 3 must
    // keep every candidate — bit-identical to mtry off
    val full = C45Forest.fit(df, schema, col("k"), params.copy(mtry = 3))
    assert(full.trees.map(_.ruleStrings) == off.trees.map(_.ruleStrings))
    assert(full.trees.map(_.leafDist) == off.trees.map(_.leafDist))
    // mtry = 1: refits are bit-identical (pure md5 sampling, no RNG
    // state) and split attrs stay inside each tree's subspace
    val p1 = params.copy(mtry = 1)
    val a = C45Forest.fit(df, schema, col("k"), p1)
    val b = C45Forest.fit(df, schema, col("k"), p1)
    assert(a.trees.map(_.ruleStrings) == b.trees.map(_.ruleStrings))
    assert(a.trees.map(_.leafDist) == b.trees.map(_.leafDist))
    a.trees.zipWithIndex.foreach { case (m, t) =>
      val sub = C45Forest.attrSubset(t, 3, p1.attrsPerTree)
      m.leaves.foreach(r =>
        r.conditions.foreach { case (aid, _) => assert(sub(aid)) })
    }
    // restricting candidates per node changes at least one tree — the
    // decorrelation the sampling exists for (deterministic fixture)
    assert(a.trees.map(_.ruleStrings) != off.trees.map(_.ruleStrings))
    // the sampler itself: deterministic, exact size, live-only
    val s1 = C45Forest.mtrySample(Seq(0, 1, 2), 2, 7, 1, 0, 0)
    assert(s1 == C45Forest.mtrySample(Seq(0, 1, 2), 2, 7, 1, 0, 0))
    assert(s1.size == 2 && s1.subsetOf(Set(0, 1, 2)))
    assert(C45Forest.mtrySample(Seq(0, 1, 2), 5, 7, 1, 0, 0) == Set(0, 1, 2))
  }

  test("mtry composes with fractional missing mode: deterministic " +
    "refits, subspace-respecting splits, fractional masses engaged") {
    val df = fixture.withColumn("x1",
      when(pmod(col("k").cast("long"), lit(5L)) === 0, lit(null).cast("double"))
        .otherwise(col("x1")))
    val p = params.copy(mtry = 1,
      base = C45Params(maxDepth = 3, missingMode = "fractional"))
    val a = C45Forest.fit(df, schema, col("k"), p)
    val b = C45Forest.fit(df, schema, col("k"), p)
    assert(a.trees.map(_.ruleStrings) == b.trees.map(_.ruleStrings))
    assert(a.trees.map(_.leafDist) == b.trees.map(_.leafDist))
    a.trees.zipWithIndex.foreach { case (m, t) =>
      val sub = C45Forest.attrSubset(t, 3, p.attrsPerTree)
      m.leaves.foreach(r =>
        r.conditions.foreach { case (aid, _) => assert(sub(aid)) })
    }
    assert(a.trees.exists(_.leafMass.exists(x => x > 0 && x % 1000000L != 0)),
      "fractional fan-out never engaged under mtry")
  }

  test("bootstrap draws have Poisson(1) marginals and are key-deterministic") {
    val n = 20000
    val w = spark.range(n).select(
      C45Forest.bootstrapWeight(col("id").cast("string"), lit(0), 42)
        .as("w")).collect().map(_.getInt(0))
    val mean = w.map(_.toLong).sum.toDouble / n
    val p0 = w.count(_ == 0).toDouble / n
    assert(math.abs(mean - 1.0) < 0.05, s"mean=$mean")
    assert(math.abs(p0 - math.exp(-1)) < 0.02, s"p0=$p0")
    assert(w.max <= 7)
    // same key, same tree, same seed -> same draw; different tree differs
    val again = spark.range(n).select(
      C45Forest.bootstrapWeight(col("id").cast("string"), lit(0), 42)
        .as("w")).collect().map(_.getInt(0))
    assert(w.sameElements(again))
  }

  test("attrSubset rotates: exact size, full coverage, d-periodic") {
    val subsets = (0 until 5).map(t => C45Forest.attrSubset(t, 5, 3))
    assert(subsets.forall(_.size == 3))
    assert(subsets.reduce(_ union _) == (0 until 5).toSet)
    assert(C45Forest.attrSubset(7, 5, 3) == C45Forest.attrSubset(2, 5, 3))
    // degenerate settings fall back to the full attribute set
    assert(C45Forest.attrSubset(1, 4, 0) == (0 until 4).toSet)
    assert(C45Forest.attrSubset(1, 4, 4) == (0 until 4).toSet)
  }

  test("majority vote breaks ties toward the smallest label") {
    def leafModel(label: String) = C45Model(schema,
      Vector(Rule(Vector.empty, Some(label))), label)
    val df = fixture
    val tie = C45Forest(Vector(leafModel("P"), leafModel("N")), seed = 0)
    assert(tie.transform(df).select("prediction").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("N"))
    val maj = C45Forest(
      Vector(leafModel("P"), leafModel("P"), leafModel("N")), seed = 0)
    assert(maj.transform(df).select("prediction").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("P"))
  }

  test("transformProba averages the member trees' micros exactly " +
    "(floorDiv(sum + T/2, T)) and votes hard") {
    val df = fixture
    val forest = C45Forest.fit(df, schema, col("k"), params)
    val T = forest.trees.size
    // per-tree micros via each member's own transformProba, averaged
    // driver-side with BigInt floorDiv — the spec's independent replay
    val scored = forest.trees.indices.foldLeft(df)((d, t) =>
      forest.trees(t).transformProba(d, s"e$t", probPrefix = s"ep${t}_"))
    val expected = scored.select(col("k") +:
      forest.labels.map(c =>
        forest.trees.indices.map(t => col(s"ep${t}_$c")).reduce(_ + _)
          .as(s"sum_$c")): _*)
      .collect().map(r => r.getString(0) ->
        forest.labels.indices.map(i =>
          Math.floorDiv(r.getLong(i + 1) + T / 2, T))).toMap
    val got = forest.transformProba(df)
      .select(Seq(col("k"), col("prediction")) ++
        forest.labels.map(c => col(s"p_$c")): _*)
      .collect()
    got.foreach { r =>
      val exp = expected(r.getString(0))
      forest.labels.indices.foreach { i =>
        assert(r.getLong(2 + i) == exp(i),
          s"row ${r.getString(0)} class ${forest.labels(i)}")
      }
    }
    // prediction column equals the hard-vote transform's
    val hard = forest.transform(df).select("k", "prediction")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    got.foreach(r => assert(r.getString(1) == hard(r.getString(0))))
  }

  test("transformProba tolerates a member tree that never observed a " +
    "class (missing per-tree column reads as zero mass)") {
    // tree 0 saw both classes; tree 1's bag had only P rows, so its
    // probaClasses = {P} and it emits no p_N column — the r18-advised
    // imbalanced-bag shape. The ensemble average must read 0 for it.
    val full = C45Model(schema,
      Vector(Rule(Vector.empty, Some("P"))), "P",
      leafMass = Vector(1000000L),
      leafDist = Vector(Map("N" -> 250000L, "P" -> 750000L)))
    val pOnly = C45Model(schema,
      Vector(Rule(Vector.empty, Some("P"))), "P",
      leafMass = Vector(1000000L),
      leafDist = Vector(Map("P" -> 1000000L)))
    assert(pOnly.probaClasses == Seq("P"))
    val f = C45Forest(Vector(full, pOnly), seed = 0)
    val got = f.transformProba(fixture.limit(1))
      .select("p_N", "p_P").head()
    // p_N = floorDiv(250000 + 0 + 1, 2) = 125000; p_P = (750000 + 1000000 + 1) / 2
    assert(got.getLong(0) == 125000L)
    assert(got.getLong(1) == 875000L)
  }

  test("transformFractional: null-free rows ≡ transform; a null split " +
    "value votes fractionally per member instead of falling to majority") {
    // hand-built member (labels from the schema's class set): x1 <= 1
    // -> P (mass 3M micros), x1 > 1 -> N (mass 1M), majority N. A null
    // x1 weighs P at 0.75 vs N at 0.25 — the fractional vote says P
    // where transform's null-path fallback says N.
    val m = C45Model(schema,
      Vector(
        Rule(Vector(1 -> graft.model.NumLE(1.0)), Some("P")),
        Rule(Vector(1 -> graft.model.NumGT(1.0)), Some("N"))),
      majority = "N",
      leafMass = Vector(3000000L, 1000000L),
      leafDist = Vector(Map("P" -> 3000000L), Map("N" -> 1000000L)))
    val f = C45Forest(Vector(m, m), seed = 0)
    val rows = spark.sql(
      "SELECT * FROM VALUES ('c', CAST(NULL AS DOUBLE), 0.0, 'P', 'k1'), " +
        "('c', 0.5, 0.0, 'P', 'k2'), ('c', 2.0, 0.0, 'N', 'k3') " +
        "AS t(c1, x1, x2, cls, k)")
    val got = f.transformFractional(rows).select("k", "prediction")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "P", "k2" -> "P", "k3" -> "N"))
    val hard = f.transform(rows).select("k", "prediction")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hard("k1") == "N") // the null-path fallback this API replaces
    // on a fitted, null-free corpus the two serving paths agree exactly
    val df = fixture
    val fit = C45Forest.fit(df, schema, col("k"), params)
    val both = fit.transformFractional(fit.transform(df, "h"), "fr")
    assert(both.filter(col("h") =!= col("fr")).count() == 0)
  }

  test("oobEval scores exactly the zero-weight rows with the tree's own " +
    "prediction (single-tree forest)") {
    val df = fixture
    val p1 = params.copy(nTrees = 1, attrsPerTree = 0)
    val f1 = C45Forest.fit(df, schema, col("k"), p1)
    val expected = df
      .withColumn("__w",
        C45Forest.bootstrapWeight(col("k"), lit(0), p1.seed))
      .filter(col("__w") === 0)
      .transform(d => f1.trees(0).transform(d, "p"))
      .groupBy(col("cls").as("actual"), col("p").as("oob_prediction"))
      .agg(count(lit(1L)).as("n"))
      .orderBy("actual", "oob_prediction")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got = f1.oobEval(df, col("k"), "cls")
      .orderBy("actual", "oob_prediction")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.sameElements(expected))
    // and the OOB row volume is the zero-weight row count
    val nZero = df.withColumn("__w",
      C45Forest.bootstrapWeight(col("k"), lit(0), p1.seed))
      .filter(col("__w") === 0).count()
    assert(got.map(_._3).sum == nZero)
  }

  test("save -> load round-trips the ensemble bit-exactly " +
    "(rules, majorities, distributions, seed)") {
    val df = fixture
    val forest = C45Forest.fit(df, schema, col("k"), params)
    val tmp = java.nio.file.Files.createTempDirectory("c45f_rt_spec")
    try {
      forest.save(spark, tmp.toString)
      val loaded = C45Forest.load(spark, tmp.toString, schema)
      assert(loaded.seed == forest.seed)
      assert(loaded.trees.map(_.ruleStrings) == forest.trees.map(_.ruleStrings))
      assert(loaded.trees.map(_.majority) == forest.trees.map(_.majority))
      assert(loaded.trees.map(_.leafDist) == forest.trees.map(_.leafDist))
      // the loaded forest serves identically (vote + OOB masks)
      val both = loaded.transform(forest.transform(df, "a"), "b")
      assert(both.filter(col("a") =!= col("b")).count() == 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.delete)
    }
  }

  // ---- committed-golden pins for the production query (the same
  //      resources the qForestSql VALUES oracle and scripts/sweep.py
  //      tier compares are generated from) ----
  private def tierDir(sf: String): String =
    if (sf == "sf1") "testdata-sf1"
    else sys.env.getOrElse("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata") + "/" + sf

  private def checkGolden(sf: String, resource: String): Unit = {
    val dir = tierDir(sf)
    if (!new java.io.File(dir).isDirectory)
      cancel(s"testdata $dir not present on this machine")
    val golden = scala.io.Source.fromResource(resource)
      .getLines().filter(_.nonEmpty).toVector
    val got = graft.queries.C45Queries.qForest(spark, dir)
      .collect().map(r => s"${r.getInt(0)}|${r.getString(1)}|${r.getString(4)}")
      .toVector
    assert(got == golden, s"forest diverged from golden ($sf)")
  }

  test("q_forest reproduces the committed sf0.01 ensemble exactly") {
    checkGolden("sf0.01", "golden/forest_sf001_rules.txt")
  }

  test("q_forest at sf0.1 matches the committed tier golden") {
    checkGolden("sf0.1", "golden/forest_sf01_rules.txt")
  }

  test("q_forest at the replicated sf1 tier matches its own tier golden " +
    "(re-keyed copies draw fresh bootstraps)") {
    checkGolden("sf1", "golden/forest_sf1_rules.txt")
  }
}
