package graft.fit

import graft.SparkTestSession
import org.apache.spark.ml.param.Params
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The on-disk layout of the three `spark.ml` models: a save must keep
  * the entries, metadata keys and wrapper columns that earlier saves
  * carry, so the readers keep loading them. */
class MlLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val features = Seq("l_returnflag", "l_quantity", "l_discount")

  /** Planted XOR + 10% deterministic noise (the C45MlSpec fixture). */
  private def planted = {
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val noisy = graft.functions.Hashing.hash60(key) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
  }

  /** Entries of a directory, without Hadoop's `_SUCCESS` and `.crc`
    * files. */
  private def entries(dir: java.io.File): Set[String] =
    dir.list().filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  private val wrapperBase = Seq(
    "attr_names" -> ArrayType(StringType, containsNull = true),
    "attr_numeric" -> ArrayType(BooleanType, containsNull = true),
    "class_labels" -> ArrayType(StringType, containsNull = true),
    "label_type" -> StringType)

  /** Saves `m` and checks the shared part of the layout: the three
    * top-level entries, the metadata JSON and the wrapper columns.
    * Returns the engine directory for the model's own checks. */
  private def checkLayout(m: Params with MLWritable,
      wrapper: Seq[(String, DataType)]): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("c45_layout").toFile
    m.write.overwrite().save(dir.toString)
    assert(entries(dir) == Set("metadata", "engine", "wrapper"))
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val meta = JsonMethods.parse(spark.read.text(s"$dir/metadata").head().getString(0))
    val JObject(fields) = meta
    assert(fields.map(_._1).toSet ==
      Set("class", "timestamp", "sparkVersion", "uid", "paramMap", "defaultParamMap"))
    assert(meta \ "class" == JString(m.getClass.getName))
    assert(meta \ "uid" == JString(m.uid))
    assert(meta \ "sparkVersion" == JString(spark.version))
    assert(meta \ "defaultParamMap" == JObject(Nil))
    val JObject(params) = meta \ "paramMap"
    assert(params.map(_._1).toSet == m.params.map(_.name).toSet)
    val w = spark.read.parquet(s"$dir/wrapper")
    assert(w.schema.fields.map(f => f.name -> f.dataType).toSeq == wrapper)
    assert(w.count() == 1)
    new java.io.File(dir, "engine")
  }

  test("the tree model saves metadata, engine/ (rules + dist) and wrapper") {
    val m = new C45Classifier().setFeatureCols(features).setLabelCol("cls")
      .setMaxDepth(2).fit(planted)
    val engine = checkLayout(m, wrapperBase)
    assert(entries(engine) == Set("rules.txt", "dist"))
  }

  test("the forest model saves metadata, engine/t0..t{n-1} and wrapper " +
    "with the tree count and seed") {
    val m = new C45ForestClassifier().setFeatureCols(features)
      .setKeyCols(Seq("l_orderkey", "l_linenumber")).setLabelCol("cls")
      .setMaxDepth(2).setNumTrees(3).setSeed(7).fit(planted)
    val engine = checkLayout(m, wrapperBase ++
      Seq("n_trees" -> IntegerType, "bootstrap_seed" -> IntegerType))
    assert(entries(engine) == Set("t0", "t1", "t2"))
    (0 until 3).foreach(t =>
      assert(entries(new java.io.File(engine, s"t$t")) == Set("rules.txt", "dist")))
    val w = spark.read.parquet(s"${engine.getParent}/wrapper").head()
    assert(w.getAs[Int]("n_trees") == 3 && w.getAs[Int]("bootstrap_seed") == 7)
  }

  test("the boost model saves metadata, engine/boost.txt plus one dir " +
    "per round, and wrapper") {
    val m = new C45BoostClassifier().setFeatureCols(features).setLabelCol("cls")
      .setMaxDepth(2).setRounds(3).fit(planted)
    val engine = checkLayout(m, wrapperBase)
    val rounds = m.boost.trees.size
    assert(rounds >= 1)
    assert(entries(engine) == Set("boost.txt") ++ (0 until rounds).map(t => s"t$t"))
  }
}
