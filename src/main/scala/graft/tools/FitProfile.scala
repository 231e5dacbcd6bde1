package graft.tools

import graft.GraftSession

/** Ad-hoc single-query timing harness (dev tool): runs the named
  * SparkEntry queries (default: q_fit_tree) with one warmup pass and
  * two timed passes — the same steady-state protocol as [[Bench]],
  * without paying for the full suite while iterating on one operator.
  * Pass `--levels` to also enable the engine's per-level wall-clock
  * diagnostics (sets -Dgraft.fit.profile=1 — every fitter's level loop
  * and the BPE loop print per-level timings; the boost and
  * cross-validation eval jobs are told apart by their job descriptions,
  * `graft.fitBoost round=N eval` and `graft.fitFolds eval`, in the
  * event log `scripts/eventlog_jobs.py` reads). */
object FitProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    if (args.contains("--levels")) sys.props("graft.fit.profile") = "1"
    val names = args.filterNot(_ == "--levels").toSeq match {
      case Seq() => Seq("q_fit_tree")
      case some => some
    }
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"[profile] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
