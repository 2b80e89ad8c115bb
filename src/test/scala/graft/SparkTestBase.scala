package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession); specs pin
  * 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
