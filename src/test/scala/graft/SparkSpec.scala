package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  /** sf0.001 testdata dir (read-only driver-generated parquet). */
  val sf = "/root/testdata/sf0.001"
}
