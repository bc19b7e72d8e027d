package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — sbt
  * forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // the tools' session confs at a fixed local[4]
    val s = GraftSession.builder(4)
      .appName("graft-test")
      // fresh throwaway warehouse per JVM: saveAsTable tests must not
      // collide with a previous run's leftover spark-warehouse dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"
}
