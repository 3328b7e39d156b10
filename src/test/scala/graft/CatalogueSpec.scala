package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** [[Catalogue.pass]] is the tests' one pass over the query catalogue:
  * every whole-catalogue check reads its records instead of building
  * the 259 queries (and re-running the 14 audit loops) again. */
class CatalogueSpec extends AnyFunSuite {

  test("the tests iterate the query catalogue in exactly one place: Catalogue.scala") {
    // any use of the catalogue map but a `.keySet` or a `queries("name")` lookup
    val iteration = """(?:SparkEntry|Streaming)\.queries(?!\s*\(|\.keySet)""".r
    val files = Files.walk(Paths.get("src/test/scala"))
    val sites: Seq[Path] =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(f => Seq.fill(iteration.findAllIn(Files.readString(f)).size)(f)).toList
      finally files.close()
    assert(sites.distinct == Seq(Paths.get("src/test/scala/graft/Catalogue.scala")),
      s"catalogue iterated at: ${sites.mkString(", ")}")
  }
}
