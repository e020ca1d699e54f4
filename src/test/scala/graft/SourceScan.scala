package graft

import java.nio.file.{Files, Path, Paths}
import scala.util.matching.Regex

/** Source-scan guards: counts a pattern's matches per `.scala` file under
  * `root`, with comments stripped so docs may still name the pattern.
  * Keys are paths relative to `root`. */
object SourceScan {
  def matches(pattern: Regex, root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { f =>
          val n = pattern.findAllIn(code(f)).length
          if (n == 0) None else Some(base.relativize(f).toString -> n)
        }.toMap
    } finally walk.close()
  }

  private def code(f: Path): String = Files.readString(f)
    .replaceAll("(?s)/\\*.*?\\*/", "")
    .replaceAll("//[^\n]*", "")
}
