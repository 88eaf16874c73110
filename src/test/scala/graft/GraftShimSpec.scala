package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.GraftShim

class GraftShimSpec extends SparkSpec {
  /** Messages of WARN-or-worse events logged anywhere while `body` runs. */
  private def warningsDuring(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-shim-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    seen.asScala.toSeq
  }

  test("unpinLocalCheckpoint drops the checkpoint's persisted RDD without a warning") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = spark.range(100).localCheckpoint()
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty)
    val warnings = warningsDuring(GraftShim.unpinLocalCheckpoint(pinned))
    assert(!warnings.exists(_.contains("locally checkpointed")), warnings)
    assert((sc.getPersistentRDDs.keySet & added).isEmpty)
  }
}
