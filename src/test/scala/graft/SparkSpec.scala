package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  /** The engine profile ([[GraftSession.build]]) on 4 cores. The suites'
    * private warehouse dir reaches it as a `spark.*` system property, which
    * the builder's SparkConf reads, set before the one build. */
  lazy val session: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    GraftSession.build("graft-test", "4")
  }
}
