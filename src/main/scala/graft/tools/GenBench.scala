package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Measures the per-level histogram's generator shapes against each
  * other on the real training projection: `explode(map(k1,v1,...))`
  * (allocates an ArrayBasedMapData per row) vs `stack(n, k1,v1,...)`
  * (emits rows straight from the column expressions). Same cells out
  * — this is a pure plumbing A/B for the fit's hottest job.
  *
  * Usage: sbt "runMain graft.tools.GenBench [reps]"
  */
object GenBench {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity").cast("double"),
        col("l_discount").cast("double"), col("l_tax").cast("double"),
        col("l_linestatus").cast("string").as("__cls"))
      .persist()
    df.count()
    val pairs: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] =
      Seq(lit(-1) -> col("__cls"),
        lit(0) -> col("l_returnflag"),
        lit(2) -> col("l_quantity").cast("string"),
        lit(3) -> col("l_discount").cast("string"),
        lit(4) -> col("l_tax").cast("string"))
    def viaMap() = df.select(col("__cls").as("cls"),
        explode(map(pairs.flatMap(p => Seq(p._1, p._2)): _*))
          .as(Seq("aid", "val")))
      .filter(col("val").isNotNull)
      .groupBy("aid", "val", "cls").agg(count(lit(1)).as("n")).collect()
    def viaStack() = df.select(col("__cls").as("cls"),
        expr(s"stack(${pairs.size}, " +
          pairs.indices.map(i => s"p${i}k, p${i}v").mkString(", ") + ")")
          .as(Seq("aid", "val")))
    // stack needs named input columns
    def viaStack2() = {
      val named = pairs.zipWithIndex.foldLeft(df) { case (d, ((k, v), i)) =>
        d.withColumn(s"p${i}k", k).withColumn(s"p${i}v", v)
      }
      named.select(col("__cls").as("cls"),
          expr(s"stack(${pairs.size}, " +
            pairs.indices.map(i => s"p${i}k, p${i}v").mkString(", ") + ")")
            .as(Seq("aid", "val")))
        .filter(col("val").isNotNull)
        .groupBy("aid", "val", "cls").agg(count(lit(1)).as("n")).collect()
    }
    def time(what: String)(body: => Array[org.apache.spark.sql.Row]): Unit = {
      body // warmup
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); val r = body
        ((System.nanoTime() - t0) / 1e9, r.length)
      }
      println(f"[genbench] $what: ${ts.map(_._1).min}%.3fs (cells=${ts.head._2})")
    }
    time("explode(map)")(viaMap())
    time("stack")(viaStack2())
    time("explode(map) again")(viaMap())
    spark.stop()
  }
}
