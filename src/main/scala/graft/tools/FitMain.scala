package graft.tools

import graft.GraftSession
import graft.fit.{C45, C45Params}
import graft.meta.C45Schema
import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The reference's command-line UX, Spark-native: `Main <InputPath>
  * <AttPath> [<ModelOut>]` (cf. `hadoop jar … Main <Input> <Output>
  * <AttPath> <TmpPath>`, Main.java:41-47 — no Output/Tmp dirs needed:
  * the level loop keeps state in the driver, not HDFS). Reads the TSV
  * training table under the attributes-file schema, fits the tree, and
  * prints the rule set to stdout exactly like the reference
  * (Main.java:128-131); optionally persists it via the rule codec. */
object FitMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FitMain <trainTsv> <attributesFile> [<modelOut>]")
    val Array(trainPath, attPath) = args.take(2)
    // reuse an already-running session (e.g. under test); only stop a
    // session this main itself created
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .appName("graft-fit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val schema = C45Schema.parseFile(attPath)
    val df = Tables.loadTsv(spark, trainPath, schema)
    val model = C45.fit(df, schema, C45Params())
    model.ruleStrings.foreach(println)
    if (args.length > 2) model.saveRules(args(2))
    if (!preExisting) spark.stop()
  }
}
