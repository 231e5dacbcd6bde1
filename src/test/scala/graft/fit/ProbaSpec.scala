package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** transformProba: exact-micros distributions from the fit's recorded
  * leaf class counts, agreement with transform's labels, flat ≡ routed
  * plans, and the fit-produced-models-only contract. */
class ProbaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val toySchema = C45Schema(
    Seq(AttrMeta("f", isNumeric = false)), "cls", Seq("N", "P"))

  test("leaf distributions are the exact training class shares (micros)") {
    // leaf f=a: 3 P / 1 N; leaf f=b: pure N
    val df = Seq(("a", "P"), ("a", "P"), ("a", "P"), ("a", "N"),
      ("b", "N"), ("b", "N")).toDF("f", "cls")
    val m = C45.fit(df, toySchema, C45Params(maxDepth = 2))
    val out = m.transformProba(df).select("f", "prediction", "p_N", "p_P")
      .distinct().orderBy("f").collect()
    assert(out.map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSeq ==
      Seq(("a", "P", 250000L, 750000L), ("b", "N", 1000000L, 0L)))
  }

  test("unseen value falls back to majority at full mass") {
    val train = Seq(("a", "P"), ("a", "P"), ("b", "N")).toDF("f", "cls")
    val m = C45.fit(train, toySchema, C45Params(maxDepth = 2))
    val scored = m.transformProba(Seq(("zzz", "P")).toDF("f", "cls"))
      .select("prediction", s"p_${m.majority}").head()
    assert(scored.getString(0) == m.majority)
    assert(scored.getLong(1) == 1000000L)
  }

  test("per-row micros sum to 1e6 ± rounding; prediction == transform's") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true)),
      "l_linestatus", Seq("F", "O"))
    val m = C45.fit(li, schema, C45Params(maxDepth = 2))
    val both = m.transformProba(li, "proba_pred")
      .withColumn("sum", col("p_F") + col("p_O"))
    assert(both.filter(abs(col("sum") - 1000000L) > 1).isEmpty)
    val joined = m.transform(both, "flat_pred")
    assert(joined.filter(col("proba_pred") =!= col("flat_pred")).isEmpty)
  }

  test("flat and routed proba plans agree") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "l_linestatus", Seq("F", "O"))
    val m = C45.fit(li, schema, C45Params(maxDepth = 3))
    assert(m.leaves.size > 1, "need a real tree for the routed path")
    val flat = m.transformProbaVia(li, "prediction", "p_", walk = false)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("prediction"), col("p_F"), col("p_O"))
      .orderBy("l_orderkey", "l_linenumber").collect()
    val routed = m.transformProbaVia(li, "prediction", "p_", walk = true)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("prediction"), col("p_F"), col("p_O"))
      .orderBy("l_orderkey", "l_linenumber").collect()
    assert(flat.toSeq == routed.toSeq)
  }

  test("only fit-produced models carry distributions") {
    val df = Seq(("a", "P"), ("b", "N")).toDF("f", "cls")
    val m = C45.fit(df, toySchema, C45Params(maxDepth = 2))
    val stripped = m.copy(leafDist = Vector.empty)
    intercept[IllegalArgumentException] {
      stripped.transformProba(df)
    }
  }
}
