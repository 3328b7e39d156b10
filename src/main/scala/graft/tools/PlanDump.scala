package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.Bench

/** Dev-only: dump .explain("formatted") for every query SPARK_GRAFT_ONLY
  * selects (else every one) to <outDir>/<query>.txt — the plan artifacts
  * the optimization rounds commit under plans/rNN/. A before/after pair
  * is two output directories.
  * Usage: SPARK_GRAFT_ONLY=<regex> runMain graft.tools.PlanDump <outDir>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      Console.err.println("usage: graft.tools.PlanDump <outDir>")
      sys.exit(2)
    }
    val outDir = args(0)
    val spark = graft.Session.local()
    Files.createDirectories(Paths.get(outDir))
    Bench.walk("PLANDUMP", Bench.catalogue(timed = false)) { (name, fn) =>
      val txt = fn(spark, Bench.sfDir).queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(outDir, s"$name.txt"), txt.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
