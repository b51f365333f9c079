package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session), with the
  * conf Bench and Verify run under.
  */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
