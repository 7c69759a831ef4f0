package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession — per-suite
  * sessions would pay ~10 s startup each).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Graft.builder("local[4]", "graft-test", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf = "/root/testdata/sf0.001"
}
