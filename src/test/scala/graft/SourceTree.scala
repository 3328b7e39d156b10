package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The source scans' one reader of the tree. */
object SourceTree {

  /** Every `.scala` file under `root`, in path order, with its text. */
  def scalaFiles(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .sortBy(_.toString).map(f => f -> Files.readString(f))
    finally walk.close()
  }
}
