package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Graft

/** One shared local session for all suites (SBT runs suites in one forked
  * JVM; getOrCreate dedups), on `Graft.session`'s config at `local[4]`.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().appName("graft-test")
      .config(Graft.conf("4")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
