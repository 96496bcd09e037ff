package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, wired as in production. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)

  val SfDir = "/root/testdata/sf0.001"
}
