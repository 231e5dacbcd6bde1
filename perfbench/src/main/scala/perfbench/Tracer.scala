package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span call did: wall time plus the Spark work attributed to
  * it (jobs by job group, tasks by stage, planning by query). */
final case class SpanRecord(
    name: String,
    wallS: Double,
    jobs: Long = 0,
    tasks: Long = 0,
    driverS: Double = 0,
    execRunS: Double = 0,
    shuffleWriteMb: Double = 0,
    planS: Double = 0,
    codegenCompiles: Long = 0,
    codegenFailures: Long = 0,
    cachedMb: Double = 0) {

  /** Two calls of the same span in one iteration add up; the cache
    * figure is a peak, so it takes the larger. */
  def +(o: SpanRecord): SpanRecord = SpanRecord(name,
    wallS + o.wallS, jobs + o.jobs, tasks + o.tasks, driverS + o.driverS,
    execRunS + o.execRunS, shuffleWriteMb + o.shuffleWriteMb,
    planS + o.planS, codegenCompiles + o.codegenCompiles,
    codegenFailures + o.codegenFailures, math.max(cachedMb, o.cachedMb))
}

/** Counts codegen compile failures and whole-stage fallbacks from the
  * log: Spark reports them only as log lines ("Failed to compile the
  * generated Java code", "Whole-stage codegen disabled for plan"). */
final class CodegenLogCounter
    extends AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
  val failures = new AtomicLong
  val fallbacks = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("Failed to compile the generated Java code")) failures.incrementAndGet()
    else if (m.contains("Whole-stage codegen disabled")) fallbacks.incrementAndGet()
  }
}

/** Outside-in tracer. Every call into a layer runs inside [[span]],
  * which tags its Spark jobs with a job group; a [[SparkListener]]
  * attributes jobs, tasks, executor time and shuffle bytes to that
  * group, a [[QueryExecutionListener]] adds planning time, Spark's
  * codegen metric counts compiles and a log appender counts codegen
  * failures. Records stay in memory until the run writes them out.
  *
  * The cache tracker (RDD block bytes from block-update events, and
  * their peak) runs in both modes: it feeds the end-to-end
  * `cache_peak_mb`. Everything else only runs while [[full]] is set,
  * so the untraced run pays for no more than block-update bookkeeping
  * and a listener-bus drain outside the timed calls. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  /** Full tracing on (per-layer records) or off (cache tracking only). */
  @volatile var full: Boolean = false

  private final class JobState(val group: String, val start: Long)

  // listener state; guarded by `lock` (events arrive on the bus thread)
  private val lock = new Object
  private val jobsById = mutable.Map.empty[Int, JobState]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Array[Double]] // jobs, tasks, execMs, shuffleBytes
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var peakBytes = 0L
  @volatile private var currentGroup: String = null
  private val planMs = mutable.Map.empty[String, Double]

  private def acc(g: String): Array[Double] =
    byGroup.getOrElseUpdate(g, Array(0.0, 0.0, 0.0, 0.0))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(Tracer.Prefix)) lock.synchronized {
        jobsById(e.jobId) = new JobState(g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
        acc(g)(0) += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobsById.remove(e.jobId).foreach { js =>
        intervals.getOrElseUpdate(js.group, mutable.ArrayBuffer.empty) +=
          ((js.start, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) lock.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = acc(g)
        a(1) += 1
        val m = e.taskMetrics
        if (m != null) {
          a(2) += m.executorRunTime
          a(3) += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    // an unpersisted RDD's blocks are dropped without block updates
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = lock.synchronized {
      val prefix = s"rdd_${e.rddId}_"
      blockBytes.filterInPlace { (id, bytes) =>
        val gone = id.startsWith(prefix)
        if (gone) cachedBytes -= bytes
        !gone
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) lock.synchronized {
        val id = info.blockId.name
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cachedBytes += bytes - blockBytes.getOrElse(id, 0L)
        if (bytes > 0) blockBytes(id) = bytes else blockBytes.remove(id)
        peakBytes = math.max(peakBytes, cachedBytes)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val g = currentGroup
      if (g != null) {
        val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
        lock.synchronized(planMs(g) = planMs.getOrElse(g, 0.0) + ms)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val codegenLog = new CodegenLogCounter

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  locally {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    codegenLog.start()
    ctx.getConfiguration.addAppender(codegenLog)
    ctx.getConfiguration.getRootLogger.addAppender(codegenLog, Level.WARN, null)
    ctx.updateLoggers()
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Peak bytes of cached RDD blocks since [[resetPeak]]. */
  def peakMb: Double = lock.synchronized(peakBytes.toDouble) / Tracer.MB
  def resetPeak(): Unit = lock.synchronized { peakBytes = cachedBytes }

  private var seq = 0L
  private var overheadNs = 0L

  /** Seconds the client thread spent in the tracer's traced-mode work
    * (listener-bus drains, record building) since the last call. */
  def takeOverheadS(): Double = { val s = overheadNs / 1e9; overheadNs = 0L; s }

  /** Run `body` as one call of layer `name`. Untraced, the wall time is
    * all that is kept; traced, the listener bus is drained on both
    * sides (outside the timed window) so every event of the call is
    * attributed before the record is read. */
  def span[T](name: String, sink: SpanRecord => Unit)(body: => T): T = {
    seq += 1
    val group = s"${Tracer.Prefix}$name#$seq"
    val traced = full
    val pre = System.nanoTime()
    if (traced) { drain(); resetPeak() }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val failures0 = codegenLog.failures.get
    sc.setJobGroup(group, name, interruptOnCancel = false)
    if (traced) currentGroup = group
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally {
      sc.clearJobGroup()
    }
    val t1 = System.nanoTime()
    val wall = (t1 - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    if (!traced) { sink(SpanRecord(name, wall)); return out }
    overheadNs += t0 - pre
    drain()
    currentGroup = null
    val rec = lock.synchronized {
      val a = byGroup.remove(group).getOrElse(Array(0.0, 0.0, 0.0, 0.0))
      val covered = Tracer.coveredMs(
        intervals.remove(group).getOrElse(mutable.ArrayBuffer.empty).toSeq, t0ms, t1ms)
      stageGroup.filterInPlace((_, g) => g != group)
      SpanRecord(name, wall,
        jobs = a(0).toLong, tasks = a(1).toLong,
        driverS = math.max(0.0, wall - covered / 1000.0),
        execRunS = a(2) / 1000.0, shuffleWriteMb = a(3) / Tracer.MB,
        planS = planMs.remove(group).getOrElse(0.0) / 1000.0,
        codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        codegenFailures = codegenLog.failures.get - failures0,
        cachedMb = peakBytes / Tracer.MB)
    }
    overheadNs += System.nanoTime() - t1
    sink(rec)
    out
  }
}

object Tracer {
  val Prefix = "perfbench:"
  val MB: Double = 1024.0 * 1024.0

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def coveredMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }
}
