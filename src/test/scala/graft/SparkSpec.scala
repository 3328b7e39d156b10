package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites: the engine's session on 4 local
  * cores, shared by every suite in the test JVM. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
  val sf = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it launched that `which`
    * selects (by default all of them). The listener bus is
    * asynchronous, so a marker job runs afterwards and the count is read
    * once the marker's start has been delivered: every earlier job
    * start was delivered before it. */
  def jobsLaunchedBy[A](which: SparkListenerJobStart => Boolean = _ => true)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobMarker"
    val jobs = new AtomicInteger()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) markerSeen.countDown()
        else if (which(e)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
