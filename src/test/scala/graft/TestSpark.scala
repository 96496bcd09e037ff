package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, wired as in production. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)

  val SfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the session confs `kvs` set, then restores them. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
