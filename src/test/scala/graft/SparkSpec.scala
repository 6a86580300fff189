package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — sbt forks a
  * single test JVM, so every suite reuses this). Built by
  * `GraftSession.local`, so tests run under the production session
  * config, graft functions and aggregates registered. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
