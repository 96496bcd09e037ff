package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}
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

  /** `body`'s result and the job starts and stage submissions it
    * causes. The listener keeps events carrying a tag unique to this
    * call, up to a marker job: bus events arrive in order, so once the
    * marker's end is seen every earlier event has been kept.
    */
  def withEvents[T](body: => T): (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    def tagOf(p: java.util.Properties) = Option(p).map(_.getProperty("graft.test.tag"))
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val markerId = new AtomicInteger(-1)
    val markerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = tagOf(e.properties) match {
        case Some(`tag`) => events.add(e)
        case Some(t) if t == s"$tag-marker" => markerId.set(e.jobId)
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagOf(e.properties).contains(tag)) events.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId.get) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try {
      val result = body
      sc.setLocalProperty("graft.test.tag", s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerEnded.await(60, TimeUnit.SECONDS), "the marker job's end never arrived")
      (result, events.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}
