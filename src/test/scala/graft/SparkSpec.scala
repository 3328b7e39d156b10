package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared session base for all suites: the engine's session on 4 local
  * cores, shared by every suite in the test JVM. */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(4)
  val sf = "/root/testdata/sf0.001"

  private val tmpDirs = new ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory under `java.io.tmpdir`, removed when the suite
    * ends. */
  def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.asScala.foreach(Scratch.rmTree) finally super.afterAll()

  /** Run `body` and keep the listener events it caused that `pick`
    * selects, in delivery order. The listener bus is asynchronous, so a
    * marker job runs afterwards and the events are read once the
    * marker's start has been delivered: every earlier event was
    * delivered before it. */
  def eventsDuring[A, E](pick: PartialFunction[SparkListenerEvent, E])(body: => A): (A, Seq[E]) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobMarker"
    val seen = new ConcurrentLinkedQueue[E]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart if Option(j.properties).exists(_.getProperty(key) != null) =>
          markerSeen.countDown()
        case _ => pick.lift(e).foreach(seen.add)
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      (a, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` and count the Spark jobs it launched that `which`
    * selects (by default all of them). */
  def jobsLaunchedBy[A](which: SparkListenerJobStart => Boolean = _ => true)(body: => A): (A, Int) = {
    val (a, jobs) = eventsDuring { case j: SparkListenerJobStart if which(j) => j }(body)
    (a, jobs.size)
  }

  /** Run `body` and return the shuffle exchanges of every SQL execution
    * it ran, as their one-line plan strings (`Exchange
    * hashpartitioning(day#12, 4), …`), taken from each execution's last
    * adaptive plan. Broadcast exchanges are not shuffles and are left
    * out. */
  def shufflesRunBy[A](body: => A): (A, Seq[String]) = {
    val (a, plans) = eventsDuring {
      case s: SparkListenerSQLExecutionStart => s.executionId -> s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => u.executionId -> u.sparkPlanInfo
    }(body)
    def exchanges(p: SparkPlanInfo): Seq[String] =
      (if (p.nodeName == "Exchange") Seq(p.simpleString) else Nil) ++ p.children.flatMap(exchanges)
    (a, plans.toMap.values.toSeq.flatMap(exchanges))
  }
}
