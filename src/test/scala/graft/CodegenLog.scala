package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Log lines as spec evidence: what Spark only reports in its log. */
object LogCapture {

  /** Run `body` and return its result with every message logged at WARN
    * or above meanwhile. */
  def warnings[T](body: => T): (T, Seq[String]) = {
    val lines = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender(s"graft-log-${System.nanoTime()}", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try (body, lines.asScala.toSeq)
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}

/** Spark reports a generated class it cannot compile (say, one past
  * the JVM's 64 KB method limit) and the interpreted fallback that
  * follows only as log lines; specs catch them here. */
object CodegenLog {

  /** Run `body` and return its result with every codegen failure or
    * whole-stage fallback line logged meanwhile. */
  def failures[T](body: => T): (T, Seq[String]) = {
    val (out, lines) = LogCapture.warnings(body)
    (out, lines.filter(m => m.contains("Failed to compile the generated Java code") ||
      m.contains("Whole-stage codegen disabled")).map(_.linesIterator.next()))
  }
}
