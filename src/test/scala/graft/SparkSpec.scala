package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (one JVM under Test/fork):
  * the entry points' config at a fixed 4 cores, so plan-shape pins do not
  * depend on the host.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$name")
    p.toFile.deleteOnExit()
    p.toString
  }
}
