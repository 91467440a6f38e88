package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (scalatest runs suites in
  * one forked JVM; a session per suite would dominate test time). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[8]", 8).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
