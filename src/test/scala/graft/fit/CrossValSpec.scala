package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CrossValSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def noisyLineitem(sf: String) = {
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val noisy = graft.functions.Hashing.hash60(key) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    spark.read.parquet(s"$sf/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
  }

  private val schema = C45Schema(
    Seq(AttrMeta("l_returnflag", isNumeric = false),
      AttrMeta("l_quantity", isNumeric = true),
      AttrMeta("l_discount", isNumeric = true)),
    "cls", Seq("N", "P"))

  test("folds partition the data and held-out accuracy tracks the noise rate") {
    val df = noisyLineitem("/root/testdata/sf0.001")
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val folds = C45CrossVal.crossValidate(df, schema,
      C45Params(maxDepth = 2), key, k = 3, salt = 7)
    assert(folds.map(_.fold) == Seq(0, 1, 2))
    // every row lands in exactly one test fold
    assert(folds.map(_.nTest).sum == df.count())
    // the planted structure is learnable from any 2/3 subset, so
    // held-out accuracy ≈ 1 - 10% noise (loose bounds: the tiny tier
    // has ~2k rows/fold)
    folds.foreach { f =>
      val acc = f.nCorrect.toDouble / f.nTest
      assert(acc > 0.8 && acc < 0.97, s"fold ${f.fold}: $acc")
    }
  }

  test("fold assignment is deterministic and salt-sensitive") {
    val df = noisyLineitem("/root/testdata/sf0.001")
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val a = C45CrossVal.crossValidate(df, schema, C45Params(maxDepth = 1), key, 3, salt = 7)
    val b = C45CrossVal.crossValidate(df, schema, C45Params(maxDepth = 1), key, 3, salt = 7)
    assert(a == b)
    val c = C45CrossVal.crossValidate(df, schema, C45Params(maxDepth = 1), key, 3, salt = 8)
    assert(a.map(_.nTest) != c.map(_.nTest), "different salt, different folds")
  }

  test("fractional-missing crossval is fused: fold models ≡ sequential per-fold fits") {
    // plant attribute nulls so missingMode="fractional" engages, then
    // compare the fused fitFolds models against k independent C45.fit
    // calls on the same filtered subsets — rules, labels, masses, and
    // leaf distributions must be bit-identical (shared driver math,
    // shared weight expressions, order-independent integer sums)
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val df = noisyLineitem("/root/testdata/sf0.001")
      .withColumn("l_discount",
        when(graft.functions.Hashing.hash60(key, 3) % 7 === 0, lit(null))
          .otherwise(col("l_discount")))
    val k = 3
    val params = C45Params(maxDepth = 3)
    val fold = (graft.functions.Hashing.hash60(key, 7) % k).cast("int")
    val stamped = df.withColumn("__fold", fold)
      .select(("__fold" +: schema.attrNames :+ "cls").map(col): _*)
      .persist()
    try {
      val fused = C45.fitFolds(stamped, "__fold", k, schema, params,
        fractional = true)
      val seq = (0 until k).map(f =>
        C45.fit(stamped.filter(col("__fold") =!= f), schema, params))
      fused.zip(seq).zipWithIndex.foreach { case ((a, b), f) =>
        assert(a.leaves == b.leaves, s"fold $f rules")
        assert(a.leafMass == b.leafMass, s"fold $f masses")
        assert(a.leafDist == b.leafDist, s"fold $f distributions")
        assert(a.majority == b.majority, s"fold $f majority")
      }
      // and the end-to-end crossValidate on the null-bearing corpus
      // still partitions the data exactly
      val folds = C45CrossVal.crossValidate(df, schema, params, key, k, salt = 7)
      assert(folds.map(_.nTest).sum == df.count())
    } finally stamped.unpersist()
  }

  test("fused fractional fold fit runs ONE corpus job per tree level") {
    // the SCALE.md claim behind the round-16 fusion: ALL k fold fits
    // grow from one histogram job per level (plus nothing else when
    // labels are declared and binning is off) — count Spark jobs with
    // a listener while fitting 3 folds of a planted-null corpus
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val df = noisyLineitem("/root/testdata/sf0.001")
      .withColumn("l_quantity",
        when(graft.functions.Hashing.hash60(key, 3) % 7 === 0, lit(null))
          .otherwise(col("l_quantity")))
    val fold = (graft.functions.Hashing.hash60(key, 7) % 3).cast("int")
    val stamped = df.withColumn("__fold", fold)
      .select(("__fold" +: schema.attrNames :+ "cls").map(col): _*)
      .persist()
    try {
      stamped.count() // materialize the cache outside the counted window
      // fitFolds stamps every level's histogram query (and the
      // broadcast builds it triggers) with one job description per
      // level — count DISTINCT descriptions inside a job group set
      // around the call, rather than matching stage names / exact
      // job counts, which flake across Spark upgrades and call-site
      // moves. One description per level == one histogram QUERY per
      // level, the SCALE.md fusion claim; a sequential 3-fold fit
      // would stamp 3 queries per level.
      // capacity 0 keeps every level a Spark job, as on a large frame.
      // AQE decomposes one logical query into a job per materialized
      // stage — pin it off so the ABSOLUTE job bound below stays
      // meaningful (the distinct-description invariant holds either
      // way)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val (models, descs) = JobCount.described(spark.sparkContext)(
          C45.fitFolds(stamped, "__fold", 3, schema,
            C45Params(maxDepth = 2, maxBins = 0), fractional = true, capacity = 0))
        assert(models.size == 3)
        val levelDescs = descs.filter(_.startsWith("graft.fitFolds level=")).toSet
        // levels 0..2 → exactly 3 level-stamped histogram queries
        // shared by ALL 3 fits
        assert(levelDescs.size == 3,
          s"expected one histogram query per level (3), saw $levelDescs")
        // ... and nothing else of any size runs in the group beyond
        // those queries' own jobs (each may launch a broadcast-build
        // job alongside its collect; loose bound, not an exact pin)
        assert(descs.size <= 9,
          s"unexpected extra jobs in the fused fit: ${descs.size}")
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    } finally stamped.unpersist()
  }

  test("crossValidate scores all held-out folds in ONE described eval job") {
    val s = spark
    import s.implicits._
    val df = (0 until 300).map { i =>
      val q = (i % 50).toDouble
      (if (i % 3 == 0) "A" else "R", q, (i % 11) / 100.0, if (q <= 25) "P" else "N", i)
    }.toDF("l_returnflag", "l_quantity", "l_discount", "cls", "k")
    // AQE off: the eval aggregation is one job, not one per stage
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (folds, descs) = JobCount.described(spark.sparkContext)(
        C45CrossVal.crossValidate(df, schema, C45Params(maxDepth = 2), col("k"), 3, salt = 7))
      assert(folds.map(_.nTest).sum == 300)
      assert(descs.count(_ == "graft.fitFolds eval") == 1, descs)
      assert(descs.last == "graft.fitFolds eval", descs)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("crossval golden: sf0.01 committed counts reproduce") {
    val got = graft.queries.C45Queries.qCrossVal(spark, "/root/testdata/sf0.01")
      .collect().map(r => s"${r.getInt(0)},${r.getLong(1)},${r.getLong(2)}").toVector
    val src = scala.io.Source.fromResource("golden/crossval_sf001.txt")
    val want = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    assert(got == want)
  }
}
