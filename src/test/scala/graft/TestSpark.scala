package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM),
  * built by the same recipe Bench and Verify run, so the suite exercises
  * their optimizer settings. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4")
  val Sf0001 = "/root/testdata/sf0.001"
}
