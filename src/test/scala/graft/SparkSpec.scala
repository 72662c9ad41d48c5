package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt forks one JVM per test group). */
object SparkSpec {
  lazy val session: SparkSession = {
    // Each test JVM gets its own warehouse: groups that run at once and
    // drop/rewrite the same managed table never share its location. Set
    // as a system property so it reaches the session's SparkConf; the
    // mains keep the default ./spark-warehouse.
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    Sessions.local("4")
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}
