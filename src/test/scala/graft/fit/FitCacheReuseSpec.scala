package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The fit's persist-reuse contract: when the caller already persisted
  * the training frame (directly, or a filter over a cache — the
  * cross-validation shape), no fitter may materialize a second copy,
  * and the fitted model must be identical either way. */
class FitCacheReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(Seq(
    AttrMeta("a", isNumeric = false), AttrMeta("x", isNumeric = true)),
    "cls", Seq("n", "p"))

  private def toy = {
    val s = spark
    import s.implicits._
    (for { a <- Seq("t", "u"); x <- 0 to 9; r <- 1 to 5 }
      yield (a, x + 0.0, if ((a == "t") == (x <= 5)) "p" else "n"))
      .toDF("a", "x", "cls")
  }

  test("fit over a pre-persisted frame (and a filter of it) is identical") {
    val plain = C45.fit(toy, schema, C45Params(maxDepth = 3))
    val cached = toy.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val viaCache = C45.fit(cached, schema, C45Params(maxDepth = 3))
      assert(viaCache.ruleStrings == plain.ruleStrings)
      // the cross-validation shape: a FILTER over the cache — the
      // cache detection must look through the plan, storageLevel alone
      // reports NONE here
      val filtered = cached.filter(org.apache.spark.sql.functions.lit(true))
      assert(filtered.storageLevel == StorageLevel.NONE)
      val viaFilter = C45.fit(filtered, schema, C45Params(maxDepth = 3))
      assert(viaFilter.ruleStrings == plain.ruleStrings)
    } finally cached.unpersist()
  }

  test("cache detection: root-backed counts, an interior cached dim does not") {
    val s = spark
    import s.implicits._
    val cached = toy.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      assert(C45.inputCacheBacked(cached))
      assert(C45.inputCacheBacked(
        cached.filter(org.apache.spark.sql.functions.lit(true))))
      assert(C45.inputCacheBacked(cached.select("a", "x", "cls")))
      // a cached SMALL side joined to an uncached input must NOT read
      // as "caller cached the training data" — fit still owns its
      // persist there, or every level would recompute the join
      val dim = Seq(("t", 1), ("u", 2)).toDF("a", "grp")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        dim.count()
        assert(!C45.inputCacheBacked(toy.join(dim, "a")))
      } finally dim.unpersist()
    } finally cached.unpersist()
  }

  test("fit does not register a new cache when the input is pre-persisted") {
    val cached = toy.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      val before = spark.sharedState.cacheManager.isEmpty
      assert(!before)
      C45.fit(cached, schema, C45Params(maxDepth = 2))
      // fit's internal projection persist was skipped: unpersisting the
      // caller's frame leaves the cache manager empty
    } finally cached.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  // x splits at 9 and a under it, a third of the rows noise: a depth-1
  // boost keeps more than one round; k keys the bootstrap and the folds
  private def noisy = {
    val s = spark
    import s.implicits._
    (for (i <- 0 until 400) yield {
      val a = if (i % 2 == 0) "t" else "u"
      val x = (i % 20).toDouble
      val cls =
        if (x <= 9) { if (a == "t" || i % 3 != 0) "p" else "n" }
        else { if (a == "u" || i % 3 != 0) "n" else "p" }
      (a, x, cls, i.toString)
    }).toDF("a", "x", "cls", "k")
  }

  test("no fitter caches a cached input again, at any point of its fit") {
    val sc = spark.sparkContext
    val cached = noisy.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      val baseline = sc.getPersistentRDDs.size
      // the most persisted RDDs seen while `fit` runs, sampled at every
      // attribute-kind lookup of the driver-side split math (each level
      // of each model or round)
      def peak(fit: C45Schema => Any): Int = {
        var most = -1
        fit(new C45Schema(schema.attrs, schema.classCol, schema.classLabels) {
          override def isNumericAttr(i: Int): Boolean = {
            most = most max sc.getPersistentRDDs.size
            super.isNumericAttr(i)
          }
        })
        assert(most >= 0, "the fit never reached its split math")
        most
      }
      val base = C45Params(maxDepth = 2)
      val fits: Seq[(String, C45Schema => Any)] = Seq(
        "C45.fit" -> (s => C45.fit(cached, s, base)),
        "C45Forest.fit" -> (s => C45Forest.fit(cached, s, col("k"),
          C45ForestParams(nTrees = 2, seed = 3, base = base))),
        "C45Boost.fit" -> (s => assert(C45Boost.fit(cached, s,
          C45BoostParams(rounds = 3, base = base.copy(maxDepth = 1))).trees.size >= 2)),
        "C45CrossVal.crossValidate" -> (s => C45CrossVal.crossValidate(cached, s, base,
          col("k"), 3)))
      val over = fits.collect { case (name, fit) if peak(fit) > baseline => name }
      assert(over.isEmpty, s"persisted a copy of their cached input: ${over.mkString(", ")}")
    } finally cached.unpersist()
  }
}
