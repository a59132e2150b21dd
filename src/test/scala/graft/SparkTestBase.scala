package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Session.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Session.quietUnpartitionedWindows()
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** The WARN messages logger `name` logs, from any thread, while `body`
    * runs. */
  def warnings(name: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    spark // Spark's log configuration is in place
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-test-warnings", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }
}
