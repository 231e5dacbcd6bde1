package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.{AttrMeta, C45Schema}

/** The benchmark's inputs. Three base tables shaped like the engine's
  * sf0.1 testdata — `lineitem` (600,000 TPC-H-style rows), `documents`
  * (5,000 texts) and `embeddings` (2,000 64-d vectors) — are generated
  * once per checkout from a fixed generator seed and written as
  * parquet under the work directory. The run's `--seed` then shapes
  * each workload's view of them: the planted label tree, the noise and
  * null hash salts, and the document and vector subsets. So the amount
  * of work stays the same from seed to seed while the inputs differ. */
object Inputs {
  val GenSeed = 42L
  val GenVersion = "perfbench-tables-v6"
  val LineRows = 600000L
  val Docs = 5000
  val Vecs = 2000
  val Dim = 64

  val Numerics: Vector[String] = Vector("l_extendedprice", "l_partkey",
    "l_suppkey", "l_quantity", "l_discount", "l_tax")
  val Categoricals: Vector[String] = Vector("l_returnflag", "l_linestatus")
  /** `tree_deep`'s 8 attributes, all numeric (four of high cardinality):
    * every split is binary, so the leaf count of a depth-7 tree stays
    * between 65 and 128, on the level-walk side of the engine's 64-leaf
    * serving switch, whatever the seed. */
  val TreeNumerics: Vector[String] = Numerics ++ Vector("l_shipday", "l_linenumber")
  val Classes: Vector[String] = Vector("a", "b", "c")

  /** Threshold range per numeric attribute (the planted tree draws a
    * split from its middle 40%). */
  private val Range: Map[String, (Double, Double)] = Map(
    "l_extendedprice" -> (10000.0, 60000.0), "l_partkey" -> (1.0, 20000.0),
    "l_suppkey" -> (1.0, 1000.0), "l_quantity" -> (1.0, 50.0),
    "l_discount" -> (0.0, 0.10), "l_tax" -> (0.0, 0.08),
    "l_shipday" -> (0.0, 2525.0), "l_linenumber" -> (1.0, 7.0))

  /** `ensemble_missing`'s 8 attributes: six numerics and two categoricals. */
  val schema: C45Schema = C45Schema(
    Numerics.map(AttrMeta(_, isNumeric = true)) ++
      Categoricals.map(AttrMeta(_, isNumeric = false)),
    "label", Classes)
  val treeSchema: C45Schema =
    C45Schema(TreeNumerics.map(AttrMeta(_, isNumeric = true)), "label", Classes)

  /** Uniform double in [0, 1) from a hash of (salt, key): deterministic
    * per row whatever the partitioning. */
  def unif(salt: Long, key: Column): Column =
    xxhash64(lit(salt), key).bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit(math.pow(2, 53))

  /** Salt for one use of the run seed. */
  def salt(seed: Long, use: String): Long =
    seed * 1000003L + use.hashCode.toLong

  // ---- base tables -------------------------------------------------------

  /** Write the base tables under `dir` unless a complete set exists. */
  def ensureTables(spark: SparkSession, dir: Path): Unit = {
    val stamp = dir.resolve("VERSION")
    if (Files.exists(stamp) && Files.readString(stamp) == GenVersion) return
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    deleteTree(tmp)
    Files.createDirectories(tmp)
    lineitem(spark).write.parquet(tmp.resolve("lineitem.parquet").toString)
    documents(spark).write.parquet(tmp.resolve("documents.parquet").toString)
    embeddings(spark).write.parquet(tmp.resolve("embeddings.parquet").toString)
    Files.writeString(tmp.resolve("VERSION"), GenVersion)
    deleteTree(dir)
    Files.move(tmp, dir)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  private def lineitem(spark: SparkSession): DataFrame = {
    def u(tag: Int) = unif(GenSeed * 31 + tag, col("id"))
    val pk = (floor(u(1) * 20000) + 1).cast("long")
    spark.range(LineRows).select(
      col("id").as("l_rowid"),
      pk.as("l_partkey"),
      (floor(u(2) * 1000) + 1).cast("long").as("l_suppkey"),
      (floor(u(3) * 50) + 1).cast("double").as("l_quantity"),
      (floor(u(4) * 11) / 100).as("l_discount"),
      (floor(u(5) * 9) / 100).as("l_tax"),
      element_at(array(lit("R"), lit("A"), lit("N")),
        (floor(u(6) * 3) + 1).cast("int")).as("l_returnflag"),
      when(u(7) < 0.5, "O").otherwise("F").as("l_linestatus"),
      floor(u(8) * 2526).cast("long").as("l_shipday"),
      (floor(u(9) * 7) + 1).cast("double").as("l_linenumber"))
      // TPC-H retail price of the part times the quantity
      .withColumn("l_extendedprice", round(col("l_quantity") *
        (lit(90000) + (col("l_partkey") / 10).cast("long") % 20001 +
          col("l_partkey") % 1000 * 100) / 100, 2))
      .repartition(4)
  }

  /** The 30-word vocabulary of the sf0.1 `documents` texts. */
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  val DupDocs = 250

  /** Texts shaped as measured on the sf0.1 `documents` table: 10 to 99
    * words drawn uniformly from [[Vocab]]; [[DupDocs]] documents at
    * scattered ids are a copy of another document's text with the
    * word "dup" appended. */
  private def documents(spark: SparkSession): DataFrame = {
    val rnd = new java.util.SplittableRandom(GenSeed)
    val isDup = Array.fill(Docs)(false)
    var marked = 0
    while (marked < DupDocs) {
      val i = rnd.nextInt(Docs)
      if (!isDup(i)) { isDup(i) = true; marked += 1 }
    }
    val texts = Array.tabulate(Docs) { i =>
      if (isDup(i)) null
      else Vector.fill(10 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val base = texts.indices.filterNot(isDup)
    isDup.indices.filter(isDup).foreach { i =>
      texts(i) = texts(base(rnd.nextInt(base.size))) + " dup"
    }
    val rows = texts.indices.map(i => Row(i.toLong, texts(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
  }

  /** Vectors shaped as measured on the sf0.1 `embeddings` table:
    * independent uniform directions (normalised Gaussians) in 64
    * dimensions, with a label 0-9 that carries no geometry. */
  private def embeddings(spark: SparkSession): DataFrame = {
    val rnd = new java.util.SplittableRandom(GenSeed + 1)
    def gauss(): Double = {
      val u1 = math.max(rnd.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    val rows = (0 until Vecs).map { i =>
      val v = Array.fill(Dim)(gauss())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
  }

  // ---- seeded workload views ---------------------------------------------

  /** A planted full binary tree of `depth` numeric splits, chosen by
    * the seed: attribute per node (unused on its path), threshold in
    * the middle 40% of the attribute's range, sibling leaves labelled
    * differently. Returns the label expression and the attributes it
    * uses, in first-use order. */
  def plantedTree(seed: Long, use: String, depth: Int,
                  attrs: Vector[String]): (Column, Seq[String]) = {
    val rnd = new java.util.SplittableRandom(salt(seed, use))
    val used = scala.collection.mutable.LinkedHashSet.empty[String]
    def node(d: Int, path: Set[String]): Column =
      if (d == 0) lit(Classes(rnd.nextInt(Classes.size)))
      else {
        val free = attrs.filterNot(path)
        val a = free(rnd.nextInt(free.size))
        used += a
        val (lo, hi) = Range(a)
        val thr = lo + (0.3 + 0.4 * rnd.nextDouble()) * (hi - lo)
        if (d == 1) {
          val l = rnd.nextInt(Classes.size)
          val r = (l + 1 + rnd.nextInt(Classes.size - 1)) % Classes.size
          when(col(a) <= thr, lit(Classes(l))).otherwise(lit(Classes(r)))
        } else when(col(a) <= thr, node(d - 1, path + a))
          .otherwise(node(d - 1, path + a))
      }
    val e = node(depth, Set.empty)
    (e, used.toSeq)
  }

  /** Planted label with seeded noise: a `noise` share of rows takes a
    * hash-chosen class instead. */
  def noisyLabel(seed: Long, use: String, depth: Int, noise: Double,
                 attrs: Vector[String]): (Column, Seq[String]) = {
    val (planted, used) = plantedTree(seed, use, depth, attrs)
    val key = col("l_rowid")
    val flip = element_at(array(Classes.map(lit): _*),
      (floor(unif(salt(seed, use + ":noise-class"), key) * Classes.size) + 1).cast("int"))
    (when(unif(salt(seed, use + ":noise"), key) < noise, flip).otherwise(planted), used)
  }

  /** Seeded row subset of `share` by hash of `key`. */
  def subset(seed: Long, use: String, key: Column, share: Double): Column =
    unif(salt(seed, use), key) < share
}
