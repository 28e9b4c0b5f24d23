package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession(cpus = 4)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
