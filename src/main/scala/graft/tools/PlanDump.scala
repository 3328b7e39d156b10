package graft.tools

import graft.Env

/** Dev-only: dump .explain("formatted") for every query matching a
  * regex to <outDir>/<query><suffix>.txt — the before/after plan
  * artifacts the optimization rounds commit under plans/rNN/.
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [regex]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val re = if (args.length > 2) args(2) else ".*"
    val sfDir = sys.env.getOrElse(Env.SfDir, "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.matches(re))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
            txt.getBytes("UTF-8"))
        } catch {
          case t: Throwable =>
            System.err.println(s"PLANDUMP FAIL $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
        } finally graft.Caches.releaseAll()
      }
    spark.stop()
  }
}
