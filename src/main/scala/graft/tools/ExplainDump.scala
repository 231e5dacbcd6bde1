package graft.tools

import graft.{GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}

/** Dev utility: dump `explain("formatted")` for every SparkEntry query
  * so scan pruning (ReadSchema/PushedFilters), partial aggregation,
  * broadcast joins and codegen spans can be audited per round. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"==== $name ====\n$plan\n")
      } catch {
        case e: Throwable => sb.append(s"==== $name ==== FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
