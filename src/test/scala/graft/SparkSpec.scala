package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session),
  * configured exactly as the mains run (see [[GraftSession]]). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("graft-test", "local[4]", "4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf001 = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
