package graft

import java.nio.file.{Path, Paths}
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.walk]] is the tree's one walk over the query catalogue: the
  * mains run on it, and so does [[Catalogue.pass]], the tests' one pass,
  * which every whole-catalogue check reads instead of building the 259
  * queries (and re-running the 14 audit loops) again. `src/main` holds
  * only what an entry point reaches. */
class CatalogueSpec extends AnyFunSuite {
  private val mains = Seq("src/main/scala", "perfbench/src")

  /** Each file under `trees` once per match of `re` in it. */
  private def sites(re: Regex, trees: Seq[String] = mains): Seq[Path] =
    trees.flatMap(SourceTree.scalaFiles).flatMap { case (f, text) =>
      Seq.fill(re.findAllIn(text).size)(f)
    }

  test("the tests iterate the query catalogue in exactly one place: Catalogue.scala") {
    // any use of the catalogue map but a `.keySet` or a `queries("name")` lookup
    val found = sites("""(?:SparkEntry|Streaming)\.queries(?!\s*\(|\.keySet)""".r, Seq("src/test/scala"))
    assert(found.distinct == Seq(Paths.get("src/test/scala/graft/Catalogue.scala")),
      s"catalogue iterated at: ${found.mkString(", ")}")
  }

  test("the mains walk the query catalogue in exactly one place: Bench.scala") {
    val bench = Paths.get("src/main/scala/graft/Bench.scala")
    // SparkEntry.scala builds the map out of the module maps
    val home = Paths.get("src/main/scala/graft/SparkEntry.scala")
    // any use of the catalogue map but a `.keySet`, a `queries("name")`
    // lookup or handing it to the walk, `Bench.walk("TAG", <the map>)`
    val iteration = sites("""(?<!Bench\.walk\("\w{1,20}", )(?:SparkEntry|Streaming)\.queries(?!\s*\(|\.keySet)""".r)
      .filterNot(_ == home)
    val sinks = sites("""format\("noop"\)""".r, Seq("src/main/scala"))
    val options = sites("""Env\.(?:Only|SfDir)\b""".r, Seq("src/main/scala"))
    val problems = Seq(
      "catalogue iterated at" -> iteration.filterNot(_ == bench).distinct,
      "table directory or selection read at" -> options.filterNot(_ == bench).distinct,
      s"${sinks.size} noop sinks, at" -> (if (sinks.size == 1) Nil else sinks))
      .collect { case (what, at) if at.nonEmpty => s"$what: ${at.mkString(", ")}" }
    assert(problems.isEmpty, problems.mkString("; "))
    assert(iteration.nonEmpty && options.nonEmpty && sinks.nonEmpty, "Bench.scala no longer walks the catalogue")
  }

  /** Members no `src/main` or perfbench file names, each with why it
    * stays. Keys are `<file name>.<member>`. */
  private val unreachedAllowed = Map(
    "SparkEntry.entry" -> "the driver contract: the harness calls it by name",
    "StreamPlans.collected" -> "test hook of the recorder Streaming.drain calls",
    "StreamPlans.disable" -> "test hook of the recorder Streaming.drain calls",
    "Ingest.fetchPerKey" -> "the paper's scrape stage, not yet wired into Main",
    "Ingest.parseMarketWatch" -> "the paper's scrape stage, not yet wired into Main",
    "Ingest.parseCompanyPages" -> "the paper's scrape stage, not yet wired into Main")

  test("every public member of src/main is named outside its definition in src/main or perfbench") {
    // comments out, string literals kept: generated code calls kernels by
    // name from inside strings
    val token = """(?s)""\".*?""\"|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*.*?\*/""".r
    def code(text: String) = token.replaceAllIn(text, m =>
      Regex.quoteReplacement(if (m.matched.startsWith("/")) " " else m.matched))
    val main = SourceTree.scalaFiles("src/main/scala").map { case (f, t) => f -> code(t) }
    val all = main ++ SourceTree.scalaFiles("perfbench/src").map { case (f, t) => f -> code(t) }
    val definition = """(?m)^[ \t]*((?:@\w+\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+|(?:final|lazy|implicit|override|sealed|abstract|case)\s+)*)(?:def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)""".r
    def counts(names: Iterator[String]) = names.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val named = counts(all.iterator.flatMap { case (_, t) => """[A-Za-z_]\w*""".r.findAllIn(t) })
    val defined = counts(all.iterator.flatMap { case (_, t) => definition.findAllMatchIn(t).map(_.group(2)) })
    // objects with a `main` are roots; apply/unapply and implicits are
    // called without their name
    val roots = main.collect { case (_, t) if t.contains("def main(") => """\bobject\s+(\w+)""".r.findAllMatchIn(t).map(_.group(1)) }
      .flatten.toSet ++ Set("main", "apply", "unapply")
    val unreached = for {
      (f, text) <- main
      m <- definition.findAllMatchIn(text)
      mods = m.group(1)
      name = m.group(2)
      if !mods.contains("override") && !mods.contains("implicit") && !roots(name)
      if """\b(?:private|protected)\b""".r.findFirstIn(mods.replace("private[graft]", "")).isEmpty
      if named(name) <= defined(name)
    } yield s"${f.getFileName.toString.stripSuffix(".scala")}.$name" -> f
    val problems =
      unreached.collect { case (key, f) if !unreachedAllowed.contains(key) => s"$key ($f) is named only at its definition" } ++
        (unreachedAllowed.keySet -- unreached.map(_._1)).toSeq.sorted.map(key => s"allowlisted $key is reached or gone")
    if (problems.nonEmpty) fail(problems.mkString("\n"))
  }
}
