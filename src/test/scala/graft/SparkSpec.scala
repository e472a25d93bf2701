package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM under Test/fork): the production
  * [[GraftSession]] at a fixed width of 4, so tests plan what Bench and
  * Verify run. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf001 = "/root/testdata/sf0.001"
}
