package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}

/** [[Session]] is the one way to build a session: it hands back the live
  * session with the engine's settings, and nothing else in the sources
  * calls the builder. */
class SessionSpec extends SparkSpec {

  test("Session.local(4) returns the suite's live session") {
    assert(Session.local(4) eq spark)
  }

  test("the session carries the factory's settings") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.cleaner.periodicGC.interval") == "1min")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
    assert(LogManager.getLogger("org.apache.spark.rdd").getLevel == Level.ERROR)
  }

  test("the sources build a session in exactly one place: Session.scala") {
    val call = """SparkSession\.builder\(\)""".r
    def callSites(root: String): Seq[Path] = {
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(f => Seq.fill(call.findAllIn(Files.readString(f)).size)(f)).toList
      finally files.close()
    }
    assert(callSites("src/main/scala") == Seq(Paths.get("src/main/scala/graft/Session.scala")))
    assert(callSites("src/test/scala").isEmpty)
  }
}
