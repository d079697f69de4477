package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests only read, never mutate session state beyond confs
  * already pinned here).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
