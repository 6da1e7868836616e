package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * test run fast; parallelExecution is off by default in sbt). It is
  * Bench's session; the fixed 4 cores keep plan-shape assertions
  * independent of the box. */
object SparkSpec {
  lazy val spark: SparkSession = Harness.session(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"
}
