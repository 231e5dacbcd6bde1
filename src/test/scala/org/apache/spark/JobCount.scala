package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Deterministic Spark job counting for specs. Listener events arrive
  * asynchronously on the listener bus, so a count read right after an
  * action can miss jobs; [[of]] drains the bus (package-private to
  * Spark, hence this package) before it reads. */
object JobCount {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` under a fresh job group and return its result with the
    * number of jobs started in that group. */
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (s.properties != null &&
            group == s.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted by JobCount")
    try {
      val out = body
      drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
