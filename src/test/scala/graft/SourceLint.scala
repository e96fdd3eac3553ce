package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Shared by the source lints: the repo's Scala sources, and a scan
  * view of them with comments blanked.
  */
object SourceLint {
  /** The repo's `src/` directory. */
  lazy val srcRoot: Path = {
    val p = Paths.get(sys.props("user.dir"), "src")
    assert(Files.isDirectory(p), s"source root not found: $p")
    p
  }

  /** Every `.scala` file under `dir`, sorted. */
  def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** `src` with every comment blanked (newlines kept) and string
    * literals left intact, so a `//` inside a string is not a comment.
    */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') { out += ' '; i += 1 }
      } else if (at("/*")) {
        val end = src.indexOf("*/", i + 2) match { case -1 => src.length; case e => e + 2 }
        src.substring(i, end).foreach(c => out += (if (c == '\n') '\n' else ' '))
        i = end
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3) match { case -1 => src.length; case e => e + 3 }
        out ++= src.substring(i, end); i = end
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        val end = math.min(j + 1, src.length)
        out ++= src.substring(i, end); i = end
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Every call `name(…)` in `code` (comments already blanked): the
    * 1-based line of the call and its argument text up to the matching
    * parenthesis (string literals may hold unbalanced parentheses).
    */
  def calls(code: String, name: String): Seq[(Int, String)] =
    (s"""\\b${java.util.regex.Pattern.quote(name)}\\s*\\(""").r.findAllMatchIn(code).toSeq.map { m =>
      var depth = 1
      var i = m.end
      while (i < code.length && depth > 0) {
        code(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '"' =>
            i += 1
            while (i < code.length && code(i) != '"' && code(i) != '\n')
              i += (if (code(i) == '\\') 2 else 1)
          case _ =>
        }
        i += 1
      }
      (lineAt(code, m.start), code.substring(m.end, math.max(m.end, i - 1)))
    }

  /** The 1-based line of character `offset` in `code`. */
  def lineAt(code: String, offset: Int): Int = code.substring(0, offset).count(_ == '\n') + 1
}
