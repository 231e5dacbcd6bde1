package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one process, `local[4]`, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --expected <file>
  * }}}
  *
  * Set-up builds the workload's seeded inputs [[SetupWarmups]] +
  * [[SetupReps]] times (the `sources.load` layer); `setup_s` is the
  * median of the reps after the warm-ups. Measured passes then
  * run back to back until `--seconds` have passed, at least one; the
  * first is the JVM's first pass over the workload. Every pass's output
  * digest must equal the first's, and the committed digest for the seed
  * when there is one. The last stdout line is the result object. */
object Main {
  /** The first set-up rep pays the cold class loads and codegen
    * compiles of the load path; it is run but not counted. */
  val SetupWarmups = 1
  val SetupReps = 3
  val Cores = 4

  /** The layer spans, in the order the per-layer metrics list them. */
  val Spans: Seq[String] = Seq("sources.load", "fit.c45", "fit.forest", "fit.boost",
    "model.score", "model.persist", "model.ensemble_score", "operators.minhash",
    "operators.cc", "operators.pagerank", "operators.lpa", "operators.dbscan")

  /** Per-span metric name, unit, and how it is read off a record. */
  val SpanMetrics: Seq[(String, String, SpanRecord => Double)] = Seq(
    ("wall_s", "s", _.wallS), ("jobs", "count", _.jobs.toDouble),
    ("tasks", "count", _.tasks.toDouble), ("driver_s", "s", _.driverS),
    ("exec_run_s", "s", _.execRunS), ("shuffle_write_mb", "MB", _.shuffleWriteMb),
    ("plan_s", "s", _.planS), ("codegen_compiles", "count", _.codegenCompiles.toDouble),
    ("codegen_failures", "count", _.codegenFailures.toDouble), ("cached_mb", "MB", _.cachedMb))

  /** Codegen counts of a repeated call come from its first, cold
    * instance; later ones find their classes in the codegen cache. */
  private val ColdMetrics = Set("codegen_compiles", "codegen_failures")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, expected: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("expected")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's own bench/verify session confs
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      // keep every file the session writes inside the work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p50..p99.9 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): String = {
    val n = xs.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) =>
        val s = xs.sorted
        f"p$p%s=${s(math.min(n - 1, math.ceil(p / 100 * n).toInt - 1))}%.4f (n=$n)"
      case None => s"none (n=$n; a tail percentile needs n>=20)"
    }
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** Committed digests: `{"<workload>": {"<seed>": "<md5>"}}`. */
  def expectedDigest(file: Path, workload: String, seed: Long): Option[String] =
    if (!Files.exists(file)) None
    else {
      val text = Files.readString(file)
      val block = ("\"" + java.util.regex.Pattern.quote(workload) +
        "\"\\s*:\\s*\\{([^}]*)\\}").r.findFirstMatchIn(text).map(_.group(1))
      block.flatMap(b => ("\"" + seed + "\"\\s*:\\s*\"([0-9a-f]+)\"").r
        .findFirstMatchIn(b).map(_.group(1)))
    }

  private def loadavg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** One untimed pass over every workload: the class-loading profile
    * a class-data-sharing archive is dumped from at build time. */
  def train(work: Path): Unit = {
    Files.createDirectories(work)
    val spark = session(work)
    try {
      val tables = work.resolve("tables")
      Inputs.ensureTables(spark, tables)
      val calls = new Calls {
        def span[T](name: String)(body: => T): T = body
        def spans: Seq[SpanRecord] = Nil
      }
      Workload.Names.foreach { name =>
        val wl = Workload(name, spark, tables, 0L, work)
        wl.load()
        wl.iteration(calls)
        wl.release()
      }
    } finally spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    if (argv.length == 2 && argv(0) == "--train") { train(Paths.get(argv(1)).toAbsolutePath); return }
    val started = System.nanoTime()
    val a = parse(argv)
    Files.createDirectories(a.work)
    val loadStart = loadavg
    val spark = session(a.work)
    val code = try run(spark, a, loadStart, (System.nanoTime() - started) / 1e9)
      finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, loadStart: Double, sessionS: Double): Int = {
    val phases = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    val tracer = new Tracer(spark)
    Inputs.ensureTables(spark, a.work.resolve("tables"))
    val wl = Workload(a.workload, spark, a.work.resolve("tables"), a.seed, a.work)
    phase("tables_s")
    // (pass index, traced, record); set-up reps have negative indices
    val allSpans = mutable.ArrayBuffer.empty[(Int, Boolean, SpanRecord)]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    final class Iter(val index: Int, val traced: Boolean) extends Calls {
      val recs = mutable.ArrayBuffer.empty[SpanRecord]
      def spans: Seq[SpanRecord] = recs.toSeq
      def span[T](name: String)(body: => T): T = {
        attempted += 1
        try tracer.span(name, r => { recs += r; allSpans += ((index, traced, r)) })(body)
        catch { case e: Throwable => failed += 1; throw e }
      }
    }

    // ---- set-up: sources.load, a warm-up and several counted reps, median
    tracer.full = a.trace
    val setupS = (0 until SetupWarmups + SetupReps).map { r =>
      wl.release()
      val it = new Iter(-1 - r, a.trace)
      it.span("sources.load")(wl.load())
      it.recs.map(_.wallS).sum
    }.drop(SetupWarmups)
    phase("setup_s")
    // calibration: a fixed call whose time tracks the machine, not the engine
    val calibration = median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 1000000, 1, Cores).selectExpr("sum(id * 7 % 13)").head()
      (System.nanoTime() - t0) / 1e9
    })
    phase("calibration_s")

    // ---- the measured closed loop
    val measured = mutable.ArrayBuffer.empty[(Double, IterOutcome, Double)] // wall, outcome, cache peak
    var firstDigest: String = null
    val expected = expectedDigest(a.expected, a.workload, a.seed)
    def one(index: Int, traced: Boolean): (Double, IterOutcome, Double) = {
      tracer.full = traced
      tracer.drain(); tracer.resetPeak(); tracer.takeOverheadS()
      val it = new Iter(index, traced)
      val t0 = System.nanoTime()
      val out = try wl.iteration(it) catch {
        case e: Throwable => IterOutcome("error", Seq(e.toString), 0, 0, 0)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.drain()
      allSpans += ((index, traced, SpanRecord("iter.self", wall - it.recs.map(_.wallS).sum)))
      allSpans += ((index, traced, SpanRecord("trace.overhead", tracer.takeOverheadS())))
      failures ++= out.failures.map(f => s"iteration $index: $f")
      if (firstDigest == null) firstDigest = out.digest
      else if (out.digest != firstDigest)
        failures += s"iteration $index: digest ${out.digest} differs from the first pass's ${firstDigest}"
      (wall, out, tracer.peakMb)
    }
    // blocks of dropped checkpoints are freed by the context cleaner
    // after a GC; collect before each pass so they do not pile up
    def next(index: Int, traced: Boolean) = { System.gc(); one(index, traced) }
    // The measured pass is the JVM's first over the workload: it pays
    // class loading, JIT and codegen compiles, as a batch job submitting
    // one fit does. Passes repeat until --seconds have gone by.
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var index = 1
    do {
      measured += next(index, a.trace && index == 1)
      index += 1
    } while (System.nanoTime() < deadline)
    phase("measured_s")
    expected.foreach { e =>
      if (e != firstDigest) failures += s"digest $firstDigest != committed $e for seed ${a.seed}"
    }
    val loadEnd = loadavg

    // ---- results
    val outcomes = measured.map(_._2).toSeq
    val iterTimes = measured.map(_._1).toSeq
    val fitTimes = outcomes.map(_.fitS)
    val scoreRate = outcomes.map(o => o.scoredRows / o.scoreS)
    val correct = failures.isEmpty && failed == 0
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(setupS), "s"),
      ("iter_p50_s", median(iterTimes), "s"),
      ("fit_p50_s", median(fitTimes), "s"),
      ("score_rows_per_s", median(scoreRate), "rows/s"),
      ("cache_peak_mb", median(measured.map(_._3).toSeq), "MB"),
      ("ok_ratio", (attempted - failed).toDouble / math.max(1L, attempted), "ratio"))

    // per layer: the measured (first) pass, traced; sources.load over the
    // counted set-up reps, codegen counts from the first, cold rep
    val perLayer: Seq[(String, Double, String)] = {
      def calls(s: String, i: Int) = allSpans.collect { case (`i`, true, r) if r.name == s => r }
      Spans.flatMap { s =>
        val (reps, warmups) =
          if (s == "sources.load")
            ((1 to SetupWarmups + SetupReps).flatMap(r => calls(s, -r).reduceOption(_ + _)), SetupWarmups)
          else (calls(s, 1).reduceOption(_ + _).toSeq, 0)
        SpanMetrics.map { case (m, unit, f) =>
          val v =
            if (reps.isEmpty) 0.0
            else if (ColdMetrics(m)) f(reps.head)
            else median(reps.drop(warmups).map(f))
          (s"$s.$m", v, unit)
        }
      } ++ Seq(
        ("iter.self_s", calls("iter.self", 1).map(_.wallS).sum, "s"),
        ("trace.overhead_s", calls("trace.overhead", 1).map(_.wallS).sum, "s"))
    }

    // ---- run record: spans to a file, a summary on stdout, result last
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val spanLines = allSpans.map { case (i, t, r) =>
      json(ListMap("iteration" -> i, "traced" -> t, "span" -> r.name, "wall_s" -> r.wallS,
        "jobs" -> r.jobs, "tasks" -> r.tasks, "driver_s" -> r.driverS,
        "exec_run_s" -> r.execRunS, "shuffle_write_mb" -> r.shuffleWriteMb,
        "plan_s" -> r.planS, "codegen_compiles" -> r.codegenCompiles,
        "codegen_failures" -> r.codegenFailures, "cached_mb" -> r.cachedMb))
    }
    Files.write(a.work.resolve(s"spans-$tag.jsonl"), spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val record = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "machine" -> ListMap("nproc" -> Runtime.getRuntime.availableProcessors,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
        "calibration_s" -> calibration),
      "inputs" -> wl.sizes, "phases" -> ListMap(phases.toSeq: _*),
      "iterations" -> measured.size, "digest" -> firstDigest,
      "committed_digest" -> expected.getOrElse("none for this seed"),
      "tails" -> ListMap("iter_s" -> tail(iterTimes), "fit_s" -> tail(fitTimes),
        "score_rows_per_s" -> tail(scoreRate)),
      "codegen_fallbacks" -> tracer.codegenLog.fallbacks.get,
      "codegen_failures" -> tracer.codegenLog.failures.get,
      "failures" -> failures.toSeq.take(20))
    println("run " + json(record))
    val shown = if (a.trace) perLayer else e2e
    println(json(ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(shown.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*))))
    if (correct) 0 else 1
  }
}
