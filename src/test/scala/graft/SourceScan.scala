package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The code of `src/main/scala` as scans see it: each line with its
  * comments stripped and every string literal emptied except those in
  * `kept`, so a shape is found in code only, spelled with the literals
  * it needs. */
object SourceScan {
  private val comment = """^\s*(\*|/\*|//)""".r
  private val literal = """"(?:[^"\\]|\\.)*"""".r

  /** `(file name, stripped text)` of every source file, in path order. */
  def code(kept: String => Boolean): Seq[(String, String)] = {
    val files = {
      val s = Files.walk(Paths.get("src/main/scala"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
      finally s.close()
    }
    assert(files.nonEmpty)
    files.map { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8").split("\n", -1).map { l =>
        if (comment.findFirstIn(l).nonEmpty) ""
        else literal.replaceAllIn(l, m =>
          java.util.regex.Matcher.quoteReplacement(if (kept(m.matched)) m.matched else "\"\""))
          .replaceAll("//.*", "")
      }.mkString("\n")
      f.getFileName.toString -> text
    }
  }

  /** `(file name, line)` of every match of `re` in `code`. */
  def sites(code: Seq[(String, String)], re: Regex): Seq[(String, Int)] =
    code.flatMap { case (name, text) =>
      re.findAllMatchIn(text).map(m => (name, text.substring(0, m.start).count(_ == '\n') + 1))
    }
}
