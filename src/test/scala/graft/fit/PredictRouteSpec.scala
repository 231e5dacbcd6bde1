package graft.fit

import graft.SparkTestSession
import graft.meta.C45Schema
import graft.model.{CatEq, NumGT, NumLE, Rule}
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The wide-model prediction path (the one-expression tree walk) must be
  * observationally identical to the flat first-match CASE WHEN on every
  * proper tree — the [[DeepFrontierSpec]] contract, applied to
  * `C45Model.transform` instead of the fit. */
class PredictRouteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The 160-leaf hand-derivable tree of DeepFrontierSpec: 16-way cat
    * root, 8-way cat level 1, numeric boundary level 2. */
  private def wideCorpus = {
    val s = spark
    import s.implicits._
    val rows = for {
      a <- 0 until 16
      b <- 0 until 8
      x <- 0 until 4
      copy <- 0 until 3
    } yield {
      val cls =
        if (b >= 2) s"c$a:${b / 2}"
        else s"c$a:0:${if (x <= 1) "x0" else "x1"}"
      (s"a$a", s"b$b", x.toDouble, cls, copy)
    }
    rows.toDF("a", "b", "x", "cls", "copy").drop("copy")
  }

  test("routed predictions equal flat predictions on the 160-leaf model") {
    val df = wideCorpus
    val schema = C45Schema.fromDataFrame(df, "cls")
    val m = C45.fit(df, schema, C45Params(routeJoinThreshold = 4))
    assert(m.leaves.size == 160)
    // score a probe set that includes unseen categorical values and a
    // null mid-path — both must land on majority in BOTH modes
    val s = spark
    import s.implicits._
    val probes = df.union(Seq(
      ("zz", "b0", 1.0, "?"), ("a0", "zz", 9.0, "?"),
      (null.asInstanceOf[String], "b1", 0.0, "?"), ("a3", null.asInstanceOf[String], 2.0, "?"))
      .toDF("a", "b", "x", "cls"))
    def score(threshold: Int) =
      m.transform(probes, "pred", routeThreshold = threshold)
        .select("a", "b", "x", "pred").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3)))
        .sortBy(t => (Option(t._1).getOrElse(""), Option(t._2).getOrElse(""), t._3))
    val flat = score(100000)
    val routed = score(1)
    assert(routed.sameElements(flat))
    // and every training row predicts its own engineered class
    val acc = m.transform(df, "pred", routeThreshold = 1)
      .filter(col("pred") === col("cls")).count()
    assert(acc == df.count())
  }

  /** The wide corpus written to parquet: LocalRelation inputs
    * constant-fold through plan and job assertions. */
  private def wideParquet(tag: String) = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    wideCorpus.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("routed predict plans one tree-walk expression: no join, no exchange") {
    val df = wideCorpus
    val schema = C45Schema.fromDataFrame(df, "cls")
    val m = C45.fit(df, schema, C45Params(routeJoinThreshold = 4))
    val input = wideParquet("predict_route")
    for (scored <- Seq(m.transform(input, "pred", routeThreshold = 1),
                       m.transformProba(input, "pred", routeThreshold = 1))) {
      val plan = scored.queryExecution.executedPlan.toString
      assert(plan.contains("graft_tree_leaf"), plan)
      assert(!plan.contains("Join") && !plan.contains("Exchange"),
        s"routed predict must neither join nor shuffle:\n$plan")
    }
  }

  test("routed predict adds no job to an aggregate over its output") {
    val df = wideCorpus
    val schema = C45Schema.fromDataFrame(df, "cls")
    val m = C45.fit(df, schema, C45Params(routeJoinThreshold = 4))
    assert(m.leaves.size > 64)
    val input = wideParquet("predict_jobs")
    val sc = spark.sparkContext
    def agg(d: DataFrame) =
      d.agg(count(lit(1)), bit_xor(xxhash64(d.columns.map(col): _*))).collect()
    val (_, bare) = JobCount.of(sc)(agg(input))
    val (_, scored) = JobCount.of(sc)(agg(m.transform(input, "pred")))
    val (_, proba) = JobCount.of(sc)(agg(m.transformProba(input, "pred")))
    assert(bare > 0)
    assert(scored == bare && proba == bare,
      s"bare aggregate ran $bare jobs, over transform $scored, over transformProba $proba")
  }

  test("overlapping (simplified) rule sets refuse the tree walk") {
    val schema = C45Schema(Seq(
      graft.meta.AttrMeta("a", isNumeric = false),
      graft.meta.AttrMeta("x", isNumeric = true)), "cls", Seq("n", "p"))
    // generalized rules: "a=t:p" overlaps "a=t & x>3:n" — first-match
    // order is semantic, so routedTransform must decline and transform
    // must fall back to the order-aware CASE WHEN
    val m = C45Model(schema, Vector(
      Rule(Vector(0 -> CatEq("t"), 1 -> NumGT(3.0)), Some("n")),
      Rule(Vector(0 -> CatEq("t")), Some("p")),
      Rule(Vector(0 -> CatEq("u")), Some("p"))), "p")
    val s = spark
    import s.implicits._
    val probe = Seq(("t", 5.0), ("t", 1.0), ("u", 9.0)).toDF("a", "x")
    assert(m.routedTransform(probe, "pred").isEmpty)
    val got = m.transform(probe, "pred", routeThreshold = 0)
      .select("a", "x", "pred").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set(("t", 5.0, "n"), ("t", 1.0, "p"), ("u", 9.0, "p")))
  }

  test("pruned-tree models route (a collapsed subtree is still a tree)") {
    val df = wideCorpus
    val schema = C45Schema.fromDataFrame(df, "cls")
    // fit then prune with noise so some subtrees collapse
    val s = spark
    import s.implicits._
    val noisy = df.withColumn("cls",
      when(graft.functions.Hashing.hash60(concat_ws("|", col("a"), col("b"),
        col("x"))) % 7 === 0, lit("c0:1")).otherwise(col("cls")))
    val m = C45Pruning.prune(C45.fit(noisy, schema, C45Params(routeJoinThreshold = 4)), noisy)
    val routed = m.routedTransform(noisy, "pred")
    assert(routed.isDefined)
    val flat = m.transform(noisy, "pred", routeThreshold = 100000)
      .select("a", "b", "x", "pred").collect().map(_.toSeq).toVector
    val viaRoute = routed.get
      .select("a", "b", "x", "pred").collect().map(_.toSeq).toVector
    assert(viaRoute.sortBy(_.toString) == flat.sortBy(_.toString))
  }
}
