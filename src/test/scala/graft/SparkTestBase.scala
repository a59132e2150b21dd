package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Session.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
