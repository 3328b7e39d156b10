package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** [[Catalogue.pass]] is the tests' one pass over the query catalogue:
  * every whole-catalogue check reads its records instead of building
  * the 259 queries (and re-running the 14 audit loops) again.
  * [[Bench.walk]] is the mains' one walk over it. */
class CatalogueSpec extends AnyFunSuite {
  /** Each file under `root` once per match of `re` in it. */
  private def sites(root: String, re: scala.util.matching.Regex): Seq[Path] = {
    val files = Files.walk(Paths.get(root))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(f => Seq.fill(re.findAllIn(Files.readString(f)).size)(f)).toList
    finally files.close()
  }

  test("the tests iterate the query catalogue in exactly one place: Catalogue.scala") {
    // any use of the catalogue map but a `.keySet` or a `queries("name")` lookup
    val iteration = """(?:SparkEntry|Streaming)\.queries(?!\s*\(|\.keySet)""".r
    val found = sites("src/test/scala", iteration)
    assert(found.distinct == Seq(Paths.get("src/test/scala/graft/Catalogue.scala")),
      s"catalogue iterated at: ${found.mkString(", ")}")
  }

  test("the mains walk the query catalogue in exactly one place: Bench.scala") {
    val bench = Paths.get("src/main/scala/graft/Bench.scala")
    // any use of the catalogue map but a `queries("name")` lookup
    val iteration = sites("src/main/scala", """SparkEntry\.queries(?!\s*\()""".r)
    val sinks = sites("src/main/scala", """format\("noop"\)""".r)
    val options = sites("src/main/scala", """Env\.(?:Only|SfDir)\b""".r)
    val problems = Seq(
      "catalogue iterated at" -> iteration.filterNot(_ == bench).distinct,
      "table directory or selection read at" -> options.filterNot(_ == bench).distinct,
      s"${sinks.size} noop sinks, at" -> (if (sinks.size == 1) Nil else sinks))
      .collect { case (what, at) if at.nonEmpty => s"$what: ${at.mkString(", ")}" }
    assert(problems.isEmpty, problems.mkString("; "))
    assert(iteration.nonEmpty && options.nonEmpty && sinks.nonEmpty, "Bench.scala no longer walks the catalogue")
  }
}
