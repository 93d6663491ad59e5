package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazily built). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
