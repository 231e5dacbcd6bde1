package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
