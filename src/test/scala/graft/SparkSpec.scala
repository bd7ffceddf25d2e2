package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * in the same forked JVM under `sbt test`): the deployment session of
  * [[graft.Session]] on `local[4]` (so 4 shuffle partitions), so specs
  * exercise what the mains run; its FAIR scheduling lets ServiceSpec
  * prove request-class pool isolation. */
object TestSpark {
  lazy val spark: SparkSession =
    Session("graft-test", Map("spark.master" -> "local[4]"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
