package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup pass (untimed): JIT + whole-stage-codegen compilation +
    // parquet footer caches; the timed pass then measures steady-state
    // query cost rather than first-run compilation. Disable with
    // SPARK_GRAFT_WARMUP=0.
    // SPARK_GRAFT_ONLY=q_a,q_b times just those queries (dev loop)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      SparkEntry.queries.foreach { case (name, fn) =>
        if (only.forall(_.contains(name))) {
          try GraftSession.inJobGroup(spark, name)(fn(spark, sfDir).count())
          catch { case _: Throwable => () }
          spark.catalog.clearCache()
        }
      }
    }
    // median of SPARK_GRAFT_REPS (default 3) timed passes per query,
    // interleaved round-robin so a transient machine-wide stall (GC,
    // page cache eviction, a neighbor process) lands on ONE rep of
    // many queries instead of all reps of one. Single-shot timing
    // produced 2x round-over-round swings on byte-identical code
    // (BENCH_r05 80.5s vs r06 41.1s); the median is robust to one
    // outlier rep in either direction.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    // machine-state fingerprint: totals drift ~1.3-2x with neighbor
    // load on the same code (BENCH_r16 recorded 202s where a quiet
    // re-run gave ~170s), so the record carries the 1-minute system
    // loadavg at start/end plus the timing of a fixed trivial
    // calibration query — any future reader can normalize an apparent
    // regression against what the machine was doing during the run
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadavg
    // clearCache between timed queries, exactly as Verify.scala does:
    // queries are self-contained and persist pipeline intermediates via
    // unmanaged CacheScope, which live until session end. Without the
    // clear, 147 queries x 4 passes of band tables / edge tables / IVF
    // assignments coexist in one block manager; BENCH_r13 showed 2-3x
    // "regressions" on byte-identical code (q_pagerank 4.9s->13.4s) from
    // exactly this cache churn. The clear is OUTSIDE the timed window:
    // we measure the query, not the teardown.
    // Memos.resetAll() before every timed query: JVM result memos
    // (fit models, trained centroids, mined pair tables) are cleared
    // so each timed rep computes the query's DECLARED work from the
    // parquet inputs — without the reset, the untimed warmup pass (or
    // an earlier query in the same pass) populates the memo and the
    // timed rep measures a HashMap lookup instead of the fit it
    // claims (r21 verdict item 2). The reset sits OUTSIDE the timed
    // window, like clearCache: we measure the query, not the
    // teardown. Metadata-only memos (parquet schemas) are exempt by
    // not being registered.
    val samples = (1 to reps).flatMap { _ =>
      names.map { name =>
        val fn = SparkEntry.queries(name)
        Memos.resetAll()
        val t0 = System.nanoTime()
        try GraftSession.inJobGroup(spark, name)(fn(spark, sfDir).count())
        catch { case _: Throwable => -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        name -> dt
      }
    }
    val results = names.map { name =>
      val ts = samples.collect { case (`name`, t) => t }.sorted
      name -> ts(ts.length / 2)
    }.toMap
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val loadEnd = loadavg
    // the calibration anchor: q_setops_all is tiny, byte-stable across
    // rounds, and dominated by fixed job overhead — its drift IS the
    // machine's drift (fall back to the fastest measured query when a
    // filtered run excludes it)
    val calibration = results.getOrElse("q_setops_all",
      if (results.nonEmpty) results.values.min else 0.0)
    def f3(v: Double): String = "%.3f".format(v)
    val envFields =
      s""""loadavg":[${f3(loadStart)},${f3(loadEnd)}],"calibration_sec":${f3(calibration)}"""
    // Full-precision per-query timings go to a sidecar file; the stdout
    // line is consumed from a bounded tail of the run log, so it must
    // stay under ~1800 chars: 3-decimal values, slowest queries first,
    // and an explicit omitted count once the budget is hit.
    val full = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,"reps":$reps,"sf":"$sfDir",$envFields}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_full.json"),
        fullLine.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val slowFirst = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + f3(v) }
    val fixed =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries_total":${results.size},"omitted":OMIT,"reps":$reps,"sf":"$sfDir",$envFields,"queries":{}}"""
    val budget = 1800 - fixed.length
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var used = 0
    slowFirst.foreach { s =>
      if (used + s.length + 1 <= budget) { kept += s; used += s.length + 1 }
    }
    val omitted = results.size - kept.length
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries_total":${results.size},"omitted":$omitted,"reps":$reps,"sf":"$sfDir",$envFields,"queries":${kept.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
