package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.fit._
import graft.operators.{CacheScope, Dedup, GraphRank, Similarity}
import graft.sources.Tables

/** One iteration's outcome: its output digest, failed checks, and the
  * build ("fit") and serve ("score") figures the end-to-end metrics
  * are made of. */
final case class IterOutcome(digest: String, failures: Seq[String],
                             fitS: Double, scoredRows: Long, scoreS: Double)

/** Calls made inside one iteration go through `span`, which times them
  * and (when tracing) records their Spark work under the layer name. */
trait Calls {
  def span[T](name: String)(body: => T): T
  def spans: Seq[SpanRecord]
}

/** A workload: `load` builds and caches its seeded inputs (the
  * `sources.load` layer, timed as set-up); `iteration` makes one
  * closed-loop pass of public engine calls and checks their outputs. */
abstract class Workload(val spark: SparkSession, tables: Path, val seed: Long) {
  protected def table(name: String): DataFrame =
    Tables.load(spark, tables.toString, name)

  private var cached: Seq[DataFrame] = Nil
  protected def keep(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    cached :+= p
    p
  }
  def release(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached = Nil }

  def load(): Unit
  def iteration(c: Calls): IterOutcome
  /** Input sizes for the run record. */
  def sizes: Map[String, Any]
}

object Workload {
  val Names: Seq[String] = Seq("tree_deep", "ensemble_missing", "graph_dedup")

  def apply(name: String, spark: SparkSession, tables: Path, seed: Long,
            work: Path): Workload = name match {
    case "tree_deep" => new TreeDeep(spark, tables, seed, work)
    case "ensemble_missing" => new EnsembleMissing(spark, tables, seed)
    case "graph_dedup" => new GraphDedup(spark, tables, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }
}

/** Order-independent digests of DataFrames and models. */
object Digest {
  /** (rows, Σ low-32 hash bits, xor of hashes) over `cols`: one job. */
  def aggs(cols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    val h = xxhash64(cols.map(col): _*)
    Seq(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), bit_xor(h))
  }
  private def fmt(r: Row, at: Int): String =
    s"${r.getLong(at)}:${r.getLong(at + 1)}:${r.getLong(at + 2)}"

  def of(df: DataFrame, cols: Seq[String]): String = {
    val a = aggs(cols)
    fmt(df.agg(a.head, a.tail: _*).head(), 0)
  }
  def of(df: DataFrame): String = of(df, df.columns.toSeq)

  /** A `transformProba` output in one pass: the digest of its labels,
    * the digest of labels plus class micros, and the number of rows
    * whose label is not an argmax of the class micros. */
  def proba(out: DataFrame, key: String, pred: String = "prediction")
      : (String, String, Long) = {
    val pcols = out.columns.filter(_.startsWith("p_")).toSeq
    val maxP = if (pcols.size == 1) col(pcols.head) else greatest(pcols.map(col): _*)
    val predP = pcols.foldLeft(lit(null).cast("long")) { (acc, c) =>
      when(col(pred) === lit(c.stripPrefix("p_")), col(c)).otherwise(acc) }
    val aggs = Digest.aggs(Seq(key, pred)) ++ Digest.aggs(key +: pred +: pcols) :+
      sum(when(predP === maxP, 0L).otherwise(1L))
    val r = out.agg(aggs.head, aggs.tail: _*).head()
    (fmt(r, 0), fmt(r, 3), r.getLong(6))
  }

  def md5(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(parts.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def model(m: C45Model): String = md5(m.ruleStrings ++ Seq(":" + m.majority) ++
    m.leafDist.map(_.toSeq.sorted.mkString(",")))
  def forest(f: C45Forest): String = md5(f.trees.map(model) :+ f.seed.toString)
  def boost(b: C45Boost): String =
    md5(b.trees.map(model) ++ b.alphaMicros.map(_.toString) ++ b.errorMicros.map(_.toString))
}

/** One wide single tree: a depth-7 drop-mode fit on a seeded 10% of
  * the 600k rows with a seeded planted label, then scoring a seeded 10%,
  * persistence, and scoring again with the reloaded model. The tree has
  * more than 64 leaves, so it serves through the level walk rather than
  * the flat CASE WHEN. */
final class TreeDeep(spark: SparkSession, tables: Path, seed: Long, work: Path)
    extends Workload(spark, tables, seed) {
  val Params = C45Params(maxDepth = 7, maxBins = 256, missingMode = "drop")
  val Share = 0.1
  val ScoreShare = 0.1
  val PlantedDepth = 4
  val Noise = 0.05
  private var data: DataFrame = _
  private var scoring: DataFrame = _
  private var rows = 0L
  private var nScored = 0L
  private var planted: Seq[String] = Nil
  private var leaves = 0

  def load(): Unit = {
    val (label, used) = Inputs.noisyLabel(seed, "tree_deep", PlantedDepth, Noise, Inputs.TreeNumerics)
    planted = used
    val li = table("lineitem")
    data = keep(li.filter(Inputs.subset(seed, "tree_deep:rows", col("l_rowid"), Share))
      .select((col("l_rowid") +: Inputs.treeSchema.attrNames.map(col)) :+ label.as("label"): _*))
    rows = data.count()
    scoring = li.filter(Inputs.subset(seed, "tree_deep:score", col("l_rowid"), ScoreShare))
      .select(col("l_rowid") +: Inputs.treeSchema.attrNames.map(col): _*)
    nScored = scoring.count()
  }

  def sizes: Map[String, Any] = Map("rows" -> rows, "scored_rows" -> nScored,
    "attributes" -> 8, "planted_splits" -> ((1 << PlantedDepth) - 1), "planted_attrs" -> planted.mkString("+"), "leaves" -> leaves)

  def iteration(c: Calls): IterOutcome = {
    val dir = work.resolve("model-tree").toString
    val model = c.span("fit.c45")(C45.fit(data, Inputs.treeSchema, Params))
    leaves = model.leaves.size
    val scored = c.span("model.score")(
      Digest.of(model.transform(scoring), Seq("l_rowid", "prediction")))
    val (probaLabels, probaAll, notArgmax) = c.span("model.score")(
      Digest.proba(model.transformProba(scoring), "l_rowid"))
    val loaded = c.span("model.persist") {
      model.save(spark, dir)
      C45Model.load(spark, dir, Inputs.treeSchema)
    }
    val rescored = c.span("model.score")(
      Digest.of(loaded.transform(scoring), Seq("l_rowid", "prediction")))
    val failures = Seq(
      (scored == probaLabels) -> "transform != transformProba labels",
      (notArgmax == 0) -> s"$notArgmax transform labels are not an argmax of transformProba",
      (Digest.model(loaded) == Digest.model(model)) -> "save/load changed the model",
      (rescored == scored) -> "loaded model scores differently").collect { case (false, m) => m }
    val fitS = c.spans.filter(_.name == "fit.c45").map(_.wallS).sum
    val score = c.spans.filter(_.name == "model.score")
    IterOutcome(
      Digest.md5(Seq(Digest.model(model), s"leaves=${model.leaves.size}", scored, probaAll)),
      failures, fitS, 3 * nScored, score.map(_.wallS).sum)
  }
}

/** The fused forest (mtry, fractional missing mode) and a boosted
  * ensemble on a seeded 5% of the rows, with seeded nulls in two of
  * the planted attributes, then both ensembles scoring a seeded 20%. */
final class EnsembleMissing(spark: SparkSession, tables: Path, seed: Long)
    extends Workload(spark, tables, seed) {
  val Share = 0.05
  val ScoreShare = 0.2
  val PlantedDepth = 3
  val NullShare = 0.05
  val ForestParams = C45ForestParams(nTrees = 2, seed = 42, mtry = 3,
    base = C45Params(maxDepth = 3, maxBins = 64, missingMode = "fractional"))
  val BoostParams = C45BoostParams(rounds = 3,
    base = C45Params(maxDepth = 2, maxBins = 64, missingMode = "fractional"))
  private var data: DataFrame = _
  private var scoring: DataFrame = _
  private var rows = 0L
  private var nScored = 0L
  private var nulled: Seq[String] = Nil
  private var leaves = ""

  def load(): Unit = {
    val (label, used) = Inputs.noisyLabel(seed, "ensemble", PlantedDepth, 0.05, Inputs.Numerics)
    nulled = used.take(2)
    val key = col("l_rowid")
    val withNulls = nulled.foldLeft(table("lineitem").withColumn("label", label)) { (df, a) =>
      df.withColumn(a, when(Inputs.subset(seed, s"ensemble:null:$a", key, NullShare),
        lit(null)).otherwise(col(a)))
    }.select((key +: Inputs.schema.attrNames.map(col)) :+ col("label"): _*)
    data = keep(withNulls.filter(Inputs.subset(seed, "ensemble:rows", key, Share)))
    rows = data.count()
    scoring = withNulls.filter(Inputs.subset(seed, "ensemble:score", key, ScoreShare))
      .drop("label")
    nScored = scoring.count()
  }

  def sizes: Map[String, Any] = Map("rows" -> rows, "scored_rows" -> nScored,
    "attributes" -> 8, "null_attrs" -> nulled.mkString("+"), "trees" -> ForestParams.nTrees,
    "forest_depth" -> ForestParams.base.maxDepth, "boost_rounds" -> BoostParams.rounds, "leaves_forest+boost" -> leaves)

  def iteration(c: Calls): IterOutcome = {
    val forest = c.span("fit.forest")(
      C45Forest.fit(data, Inputs.schema, col("l_rowid").cast("string"), ForestParams))
    val boost = c.span("fit.boost")(C45Boost.fit(data, Inputs.schema, BoostParams))
    leaves = s"${forest.trees.map(_.leaves.size).sum}+${boost.trees.map(_.leaves.size).sum}"
    val key = Seq("l_rowid", "prediction")
    val fVote = c.span("model.ensemble_score")(Digest.of(forest.transform(scoring), key))
    val (fLabels, fAll, _) = c.span("model.ensemble_score")(
      Digest.proba(forest.transformProba(scoring), "l_rowid"))
    val bVote = c.span("model.ensemble_score")(Digest.of(boost.transform(scoring), key))
    val (bLabels, bAll, bNotArgmax) = c.span("model.ensemble_score")(
      Digest.proba(boost.transformProba(scoring), "l_rowid"))
    // a forest votes by hard majority while its probabilities are
    // averages, so only the boost's label must be a probability argmax
    val failures = Seq(
      (fVote == fLabels) -> "forest transform != transformProba labels",
      (bVote == bLabels) -> "boost transform != transformProba labels",
      (bNotArgmax == 0) -> s"$bNotArgmax boost labels are not an argmax of transformProba")
      .collect { case (false, m) => m }
    val fitS = c.spans.filter(_.name.startsWith("fit.")).map(_.wallS).sum
    val score = c.spans.filter(_.name == "model.ensemble_score")
    IterOutcome(Digest.md5(Seq(Digest.forest(forest), Digest.boost(boost), fVote, fAll, bVote, bAll)),
      failures, fitS, 4 * nScored, score.map(_.wallS).sum)
  }
}

/** The near-dup graph pipeline over a seeded document subset (MinHash
  * LSH pairs, connected components, pagerank, label propagation) plus
  * DBSCAN over a seeded vector subset. "fit" here is building the dup
  * graph (pairs + components); "score" is the per-node passes
  * (pagerank, label propagation, DBSCAN). */
final class GraphDedup(spark: SparkSession, tables: Path, seed: Long)
    extends Workload(spark, tables, seed) {
  val Share = 0.8
  // the engine's own near-dup and DBSCAN queries use these settings
  val ShingleDfCap = 400L
  val Iters = 1
  val Eps = 0.35
  val MinPts = 4
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var nDocs = 0L
  private var nVecs = 0L
  private var nPairs = 0L

  def load(): Unit = {
    docs = keep(table("documents")
      .filter(Inputs.subset(seed, "graph:docs", col("doc_id"), Share))
      .select("doc_id", "text"))
    vecs = keep(table("embeddings")
      .filter(Inputs.subset(seed, "graph:vecs", col("vec_id"), Share))
      .select("vec_id", "embedding"))
    nDocs = docs.count()
    nVecs = vecs.count()
  }

  def sizes: Map[String, Any] = Map("documents" -> nDocs, "vectors" -> nVecs,
    "pairs" -> nPairs, "rounds" -> Iters)

  def iteration(c: Calls): IterOutcome = {
    val scope = new CacheScope
    try {
      val mined = c.span("operators.minhash")(Dedup.minHashLshPairs(docs, "doc_id", "text",
        k = 16, rowsPerBand = 2, threshold = 0.5, maxShingleDf = ShingleDfCap,
        scope = scope).collect())
      nPairs = mined.length
      val pairs = spark.createDataFrame(spark.sparkContext.parallelize(
        mined.toSeq.map(r => Row(r.getLong(0), r.getLong(1), r.getDouble(2))), 4),
        StructType(Seq(StructField("i", LongType), StructField("j", LongType),
          StructField("jaccard", DoubleType))))
      val pairsDigest = Digest.of(pairs)
      val cc = c.span("operators.cc")(Digest.of(Dedup.connectedComponents(pairs)))
      val pr = c.span("operators.pagerank")(Digest.of(
        GraphRank.pagerank(pairs, docs, "doc_id", iters = Iters, scope = scope)))
      val lp = c.span("operators.lpa")(Digest.of(
        GraphRank.labelPropagation(pairs, docs, "doc_id", iters = Iters, scope = scope)))
      val db = c.span("operators.dbscan")(Digest.of(
        Similarity.dbscan(vecs, "vec_id", "embedding", Eps, MinPts, scope = scope)))
      def rowsOf(d: String) = d.takeWhile(_ != ':').toLong
      val failures = Seq(
        (rowsOf(pr) == nDocs) -> "pagerank did not rank every document",
        (rowsOf(lp) == nDocs) -> "label propagation did not label every document",
        (rowsOf(db) == nVecs) -> "dbscan did not label every vector",
        (nPairs > 0) -> "no near-duplicate pairs").collect { case (false, m) => m }
      val fitS = c.spans.filter(s => s.name == "operators.minhash" || s.name == "operators.cc")
        .map(_.wallS).sum
      val scoreS = c.spans.filter(s => Set("operators.pagerank", "operators.lpa",
        "operators.dbscan")(s.name)).map(_.wallS).sum
      IterOutcome(Digest.md5(Seq(pairsDigest, cc, pr, lp, db)), failures,
        fitS, 2 * nDocs + nVecs, scoreS)
    } finally scope.release()
  }
}
