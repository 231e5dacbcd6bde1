package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import graft.model.Rule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AdaBoost.M1 over C4.5 ([[C45Boost]]): round-0 must be the plain
  * drop-mode fit (uniform micros ≡ unweighted), the Σ-preserving
  * reweight must hold mass to rounding, the M1 stop conditions fire,
  * the α-weighted vote tie-breaks to the smallest label, and the
  * committed per-tier goldens pin the production query. */
class C45BoostSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(
    Seq(AttrMeta("c1", isNumeric = false),
      AttrMeta("x1", isNumeric = true)),
    "cls", Seq("N", "P"))

  /** 600 rows, planted (c1, x1) interaction + deterministic 10% noise
    * — learnable but not separable, so ε sequences are non-trivial. */
  private def fixture = spark.range(600).select(
    (col("id") % 3).cast("string").as("c1"),
    (col("id") % 7).cast("double").as("x1"),
    when((col("id") % 3 === 0) === (col("id") % 7 <= 3),
      when(col("id") % 10 === 0, "N").otherwise("P"))
      .otherwise(when(col("id") % 10 === 0, "P").otherwise("N")).as("cls"))

  private val params = C45BoostParams(rounds = 4,
    base = C45Params(maxDepth = 2, missingMode = "drop"))

  test("round 0 is the plain drop-mode C4.5 fit (uniform micros ≡ " +
    "unweighted), errors stay under 0.5 and alphas positive") {
    val df = fixture
    val b = C45Boost.fit(df, schema, params)
    val plain = C45.fit(df, schema,
      C45Params(maxDepth = 2, missingMode = "drop"))
    assert(b.trees.head.ruleStrings == plain.ruleStrings)
    assert(b.trees.head.majority == plain.majority)
    assert(b.errorMicros.forall(e => e >= 0 && e < 500000L))
    assert(b.alphaMicros.forall(_ > 0L))
    assert(b.trees.nonEmpty && b.trees.size <= 4)
  }

  test("the Σ-preserving M1 reweight holds total mass to per-row " +
    "rounding (independent replay of round 0)") {
    val df = fixture
    val plain = C45.fit(df, schema,
      C45Params(maxDepth = 2, missingMode = "drop"))
    val scored = plain.transform(df, "p")
    val n = df.count()
    val agg = scored.agg(
      sum(when(col("p") =!= col("cls"), 1L).otherwise(0L)).as("e"),
      count(lit(1)).as("n")).head()
    val e = agg.getLong(0) * 1000000L
    val w = agg.getLong(1) * 1000000L
    val fWrong = (BigInt(w) * 1000000L / (2 * BigInt(e))).toLong
    val fRight = (BigInt(w) * 1000000L / (2 * (BigInt(w) - BigInt(e)))).toLong
    val w2 = scored.select(
      sum(expr(s"(1000000 * (CASE WHEN p <> cls THEN ${fWrong}L ELSE " +
        s"${fRight}L END) + 500000) div 1000000").cast("long")).as("s"))
      .head().getLong(0)
    assert(math.abs(w2 - w) <= n,
      s"mass drifted past per-row rounding: $w -> $w2")
  }

  test("fractional missing-mode boost: round 0 ≡ the plain fractional " +
    "C4.5 fit on a null-bearing corpus, and refits are bit-identical") {
    // uniform round-0 weights (all 10⁶) mean the first weak learner
    // must equal C45.fit(missingMode=fractional) exactly — rules,
    // majority, AND the micro-mass distributions
    val df = fixture.withColumn("x1",
      when(pmod(col("x1").cast("long") * 7 + length(col("c1")), lit(5L)) === 0,
        lit(null).cast("double")).otherwise(col("x1")))
    val fp = C45BoostParams(rounds = 3,
      base = C45Params(maxDepth = 2, missingMode = "fractional"))
    val b = C45Boost.fit(df, schema, fp)
    val plain = C45.fit(df, schema,
      C45Params(maxDepth = 2, missingMode = "fractional"))
    assert(b.trees.head.ruleStrings == plain.ruleStrings)
    assert(b.trees.head.majority == plain.majority)
    assert(b.trees.head.leafMass == plain.leafMass)
    assert(b.trees.head.leafDist == plain.leafDist)
    // later rounds reweight on top of the fractional fits; the whole
    // sequence is deterministic under refit
    val b2 = C45Boost.fit(df, schema, fp)
    assert(b2.trees.map(_.ruleStrings) == b.trees.map(_.ruleStrings))
    assert(b2.alphaMicros == b.alphaMicros)
    assert(b2.errorMicros == b.errorMicros)
  }

  test("a separable fixture stops after one perfect round (ε = 0, " +
    "α = the perfect-round stand-in)") {
    val df = spark.range(300).select(
      (col("id") % 2).cast("string").as("c1"),
      col("id").cast("double").as("x1"),
      when(col("id") % 2 === 0, "P").otherwise("N").as("cls"))
    val b = C45Boost.fit(df, schema, params)
    assert(b.trees.size == 1)
    assert(b.alphaMicros == Vector(C45Boost.AlphaPerfectMicros))
    assert(b.errorMicros == Vector(0L))
    val acc = b.transform(df).filter(col("prediction") === col("cls")).count()
    assert(acc == 300)
  }

  test("an unlearnable 50/50 fixture discards the first tree (ε >= 0.5) " +
    "and fails loudly with no usable rounds") {
    // class alternates INDEPENDENTLY of both attributes: any tree's
    // training error is exactly 0.5
    val df = spark.range(400).select(
      (col("id") % 2).cast("string").as("c1"),
      (col("id") % 2).cast("double").as("x1"),
      when(col("id") % 4 < 2, "P").otherwise("N").as("cls"))
    val e = intercept[IllegalArgumentException](
      C45Boost.fit(df, schema, params))
    assert(e.getMessage.contains("no usable tree"))
  }

  test("the α-weighted vote breaks ties toward the smallest label") {
    def leafModel(label: String) = C45Model(schema,
      Vector(Rule(Vector.empty, Some(label))), label)
    val df = fixture
    val tie = C45Boost(Vector(leafModel("P"), leafModel("N")),
      Vector(7L, 7L), Vector(0L, 0L))
    assert(tie.transform(df).select("prediction").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("N"))
    val heavier = C45Boost(Vector(leafModel("P"), leafModel("N")),
      Vector(8L, 7L), Vector(0L, 0L))
    assert(heavier.transform(df).select("prediction").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("P"))
  }

  test("transformProba emits the normalized α-mass shares in exact " +
    "micros (hand-math ensemble) and votes exactly like transform") {
    def leafModel(label: String) = C45Model(schema,
      Vector(Rule(Vector.empty, Some(label))), label)
    // constant per-tree predictions P, N, P with α = 3, 2, 5 micros:
    // mass_P = 8, mass_N = 2, Σα = 10 → shares by half-up integral div
    val b = C45Boost(
      Vector(leafModel("P"), leafModel("N"), leafModel("P")),
      Vector(3L, 2L, 5L), Vector(0L, 0L, 0L))
    val r = b.transformProba(fixture.limit(1)).select("prediction", "p_N", "p_P").head()
    assert(r.getString(0) == "P")
    assert(r.getLong(1) == Math.floorDiv(2L * 1000000L + 5L, 10L)) // 200000
    assert(r.getLong(2) == Math.floorDiv(8L * 1000000L + 5L, 10L)) // 800000
    // a non-dividing Σα exercises the rounding: α = 3, 3, 1 → Σα = 7
    val b2 = C45Boost(
      Vector(leafModel("P"), leafModel("N"), leafModel("P")),
      Vector(3L, 3L, 1L), Vector(0L, 0L, 0L))
    val r2 = b2.transformProba(fixture.limit(1)).select("p_N", "p_P").head()
    assert(r2.getLong(0) == Math.floorDiv(3L * 1000000L + 3L, 7L)) // 428571
    assert(r2.getLong(1) == Math.floorDiv(4L * 1000000L + 3L, 7L)) // 571429
    // on the real fit, the proba path's prediction is the hard vote's
    val df = fixture
    val fit = C45Boost.fit(df, schema, params)
    val disagree = fit.transformProba(df, "pp")
      .transform(d => fit.transform(d, "ph"))
      .filter(col("pp") =!= col("ph")).count()
    assert(disagree == 0)
  }

  test("stagedConfusion replays every prefix ensemble (hand-math) and " +
    "its final stage equals the full transform's confusion") {
    def leafModel(label: String) = C45Model(schema,
      Vector(Rule(Vector.empty, Some(label))), label)
    // stage 1: only T0 (P, α=5) → P; stage 2: N outweighs (α 7 > 5)
    val b = C45Boost(Vector(leafModel("P"), leafModel("N")),
      Vector(5L, 7L), Vector(0L, 0L))
    val df = fixture
    val n = df.count()
    val staged = b.stagedConfusion(df, "cls")
      .groupBy("stage", "prediction").agg(sum("n").as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(staged.keys.map(_._1).toSet == Set(1, 2))
    assert(staged((1, "P")) == n && !staged.contains((1, "N")))
    assert(staged((2, "N")) == n && !staged.contains((2, "P")))
    // real fit: the last stage is exactly the full ensemble's confusion
    val fit = C45Boost.fit(df, schema, params)
    val T = fit.trees.size
    val last = fit.stagedConfusion(df, "cls").filter(col("stage") === T)
      .select("actual", "prediction", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val full = fit.transform(df)
      .groupBy(col("cls").as("actual"), col("prediction"))
      .agg(count(lit(1L)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(last == full)
  }

  test("transformFractional votes fractionally per weak learner on null " +
    "values and equals transform on null-free rows") {
    // member: x1 <= 1 -> P (mass 3M), x1 > 1 -> N (mass 1M), majority N
    val m = C45Model(schema,
      Vector(
        Rule(Vector(1 -> graft.model.NumLE(1.0)), Some("P")),
        Rule(Vector(1 -> graft.model.NumGT(1.0)), Some("N"))),
      majority = "N",
      leafMass = Vector(3000000L, 1000000L),
      leafDist = Vector(Map("P" -> 3000000L), Map("N" -> 1000000L)))
    val b = C45Boost(Vector(m, m), Vector(5L, 7L), Vector(0L, 0L))
    val rows = spark.sql(
      "SELECT * FROM VALUES ('0', CAST(NULL AS DOUBLE), 'P', 'k1'), " +
        "('0', 0.5, 'P', 'k2'), ('0', 2.0, 'N', 'k3') AS t(c1, x1, cls, k)")
    val got = b.transformFractional(rows).select("k", "prediction")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "P", "k2" -> "P", "k3" -> "N"))
    assert(b.transform(rows).filter(col("k") === "k1")
      .select("prediction").head().getString(0) == "N")
    // fitted, null-free corpus: both serving paths agree exactly
    val df = fixture
    val fit = C45Boost.fit(df, schema, params)
    val both = fit.transformFractional(fit.transform(df, "h"), "fr")
    assert(both.filter(col("h") =!= col("fr")).count() == 0)
  }

  test("transformFractional compiles every stage: each member votes " +
    "through one walk expression") {
    val df = fixture
    val fit = C45Boost.fit(df, schema, params)
    val (n, failures) = graft.CodegenLog.failures(
      fit.transformFractional(df.withColumn("x1",
        when(col("x1") === 2.0, lit(null)).otherwise(col("x1"))), "fr")
        .filter(col("fr") =!= col("cls")).count())
    assert(n < df.count())
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("save -> load round-trips the boosted ensemble bit-exactly " +
    "(rules, α/ε micros, distributions, probabilities)") {
    val df = fixture
    val b = C45Boost.fit(df, schema, params)
    val tmp = java.nio.file.Files.createTempDirectory("c45b_rt_spec")
    try {
      b.save(spark, tmp.toString)
      val loaded = C45Boost.load(spark, tmp.toString, schema)
      assert(loaded.alphaMicros == b.alphaMicros)
      assert(loaded.errorMicros == b.errorMicros)
      assert(loaded.trees.map(_.ruleStrings) == b.trees.map(_.ruleStrings))
      assert(loaded.trees.map(_.majority) == b.trees.map(_.majority))
      assert(loaded.trees.map(_.leafDist) == b.trees.map(_.leafDist))
      // the loaded ensemble serves identically (vote + shares)
      val live = b.transformProba(df, "p", "lp_")
      val again = loaded.transformProba(live, "q", "qp_")
      assert(again.filter(col("p") =!= col("q") ||
        col("lp_N") =!= col("qp_N") || col("lp_P") =!= col("qp_P"))
        .count() == 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.delete)
    }
  }

  // ---- committed-golden pins (the resources qBoostSql / sweep.py use) ----
  private def tierDir(sf: String): String =
    if (sf == "sf1") "testdata-sf1"
    else sys.env.getOrElse("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata") + "/" + sf

  private def checkGolden(sf: String, resource: String): Unit = {
    val dir = tierDir(sf)
    if (!new java.io.File(dir).isDirectory)
      cancel(s"testdata $dir not present on this machine")
    val golden = scala.io.Source.fromResource(resource)
      .getLines().filter(_.nonEmpty).toVector
    val got = graft.queries.C45Queries.qBoost(spark, dir)
      .collect().map(r => s"${r.getInt(0)}|${r.getString(1)}|" +
        s"${r.getLong(4)}|${r.getLong(5)}|${r.getString(6)}").toVector
    assert(got == golden, s"boosted ensemble diverged from golden ($sf)")
  }

  test("q_boost reproduces the committed sf0.01 rounds exactly") {
    checkGolden("sf0.01", "golden/boost_sf001_rules.txt")
  }

  test("q_boost at sf0.1 matches the committed tier golden") {
    checkGolden("sf0.1", "golden/boost_sf01_rules.txt")
  }

  test("q_boost at the replicated sf1 tier matches the committed tier golden") {
    checkGolden("sf1", "golden/boost_sf1_rules.txt")
  }
}
