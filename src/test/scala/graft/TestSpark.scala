package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, built by the same factory
  * as the mains. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
  val Sf = "/root/testdata/sf0.001"
}
