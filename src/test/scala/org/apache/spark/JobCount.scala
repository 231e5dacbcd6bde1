package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Deterministic Spark job counting for specs. Listener events arrive
  * asynchronously on the listener bus, so a count read right after an
  * action can miss jobs; [[of]] and [[described]] drain the bus
  * (package-private to Spark, hence this package) before they read. */
object JobCount {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` under a fresh job group and return its result with the
    * number of jobs started in that group. */
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, descriptions) = described(sc)(body)
    (out, descriptions.size)
  }

  /** Run `body` under a fresh job group and return its result with the
    * description of every job started in that group, in start order
    * ("" for a job without one). */
  def described[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val group = s"job-count-${System.nanoTime()}"
    val descriptions = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (s.properties != null &&
            group == s.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID))
          descriptions.add(s.properties.getProperty(SparkContext.SPARK_JOB_DESCRIPTION, ""))
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted by JobCount")
    try {
      val out = body
      drain(sc)
      (out, descriptions.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
