package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession, local[4],
  * ANSI on (the Spark 4 default the engine must survive).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/tmp/warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
