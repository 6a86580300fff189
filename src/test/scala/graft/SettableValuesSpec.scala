package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every settable value in src/main has a classified row in COVERAGE.md's
  * "Settable values" tables (the rule is in `operators/LocalGate`'s
  * scaladoc): each default-valued parameter of a non-private def, and
  * each environment variable or JVM system property the code reads. A
  * knob cannot land, or go, without its row changing too, and a test
  * seam (class c) must name the spec that needs it. */
class SettableValuesSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  // | `operators/Bm25.scala` | `postingIndex` | `cutLineage` | a | why |
  private val ParamRow =
    """^\|\s*`([\w/]+\.scala)`\s*\|\s*`(\w+)`\s*\|\s*`(\w+)`\s*\|\s*(a|b|c|constant|required|removed)\s*\|(.*)\|\s*$""".r
  // | `SPARK_GRAFT_CPUS` | env | b | why |
  private val NameRow = """^\|\s*`([\w.]+)`\s*\|\s*(env|prop)\s*\|\s*(a|b|c)\s*\|(.*)\|\s*$""".r
  private val Kept = Set("a", "b", "c")

  private lazy val table = Files.readAllLines(Paths.get("COVERAGE.md")).asScala.toSeq
  private lazy val paramRows = table.collect { case ParamRow(f, d, p, cls, why) => (f, d, p, cls, why) }
  private lazy val nameRows = table.collect { case NameRow(n, kind, cls, why) => (n, kind, cls, why) }

  /** (relative path, source with comments removed) of every main file. */
  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString -> strip(Files.readString(p), blankStrings = false))

  /** `src` without comments; with `blankStrings`, string and char
    * literal bodies become spaces (quotes kept), so the parentheses and
    * commas inside them cannot reach the parameter parser. */
  private def strip(src: String, blankStrings: Boolean): String = {
    val out = new StringBuilder
    def literal(from: Int, to: Int, quote: Int): Unit =
      if (!blankStrings) out ++= src.substring(from, to)
      else out ++= src.substring(from, from + quote) ++= " " * (to - from - 2 * quote) ++=
        src.substring(to - quote, to)
    var i = 0
    while (i < src.length) {
      if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2) + 2
        out ++= src.substring(i, j).map(c => if (c == '\n') c else ' '); i = j
      } else if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3) + 3
        while (j < src.length && src(j) == '"') j += 1 // a closing run of quotes
        literal(i, j, 3); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        literal(i, j + 1, 1); i = j + 1
      } else if (src(i) == '\'' && i + 3 < src.length &&
          (src(i + 2) == '\'' || (src(i + 1) == '\\' && src(i + 3) == '\''))) {
        val j = src.indexOf('\'', i + (if (src(i + 1) == '\\') 3 else 2)) + 1
        literal(i, j, 1); i = j
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** (file, def, parameter) of every default-valued parameter of a def
    * that is not `private` or `protected` (`private[graft]` counts as
    * reachable). */
  private def defaults(file: String, text: String): Seq[(String, String, String)] = {
    val code = strip(text, blankStrings = true)
    def skipSpace(i: Int): Int = if (i < code.length && code(i).isWhitespace) skipSpace(i + 1) else i
    /** End (exclusive) of the bracketed group opening at `i`. */
    def groupEnd(i: Int): Int = {
      var depth = 0
      var j = i
      do {
        if ("([{".contains(code(j))) depth += 1
        else if (")]}".contains(code(j))) depth -= 1
        j += 1
      } while (depth > 0)
      j
    }
    /** The group's top-level pieces between commas. */
    def params(from: Int, to: Int): Seq[String] = {
      val parts = Seq.newBuilder[String]
      var depth = 0
      var start = from + 1
      for (j <- from + 1 until to - 1) code(j) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => parts += code.substring(start, j); start = j + 1
        case _ =>
      }
      parts += code.substring(start, to - 1)
      parts.result()
    }
    /** A top-level `=` that is not part of `=>`, `==`, `<=`, `>=`, `!=`. */
    def hasDefault(p: String): Boolean = {
      var depth = 0
      p.indices.exists { j =>
        p(j) match {
          case '(' | '[' | '{' => depth += 1; false
          case ')' | ']' | '}' => depth -= 1; false
          case '=' => depth == 0 && !p.lift(j + 1).exists("=>".contains(_)) &&
            !p.lift(j - 1).exists("=<>!".contains(_))
          case _ => false
        }
      }
    }
    val Name = """^\s*(?:implicit\s+)?(?:va[lr]\s+)?(\w+)""".r.unanchored
    """\bdef\s+([A-Za-z_]\w*)""".r.findAllMatchIn(code).toSeq.flatMap { m =>
      val lineStart = code.lastIndexOf('\n', m.start) + 1
      val modifiers = code.substring(lineStart, m.start)
      if ("""\bprivate\b(?!\[)|\bprotected\b""".r.findFirstIn(modifiers).nonEmpty) Nil
      else {
        var i = skipSpace(m.end)
        if (i < code.length && code(i) == '[') i = skipSpace(groupEnd(i))
        val found = Seq.newBuilder[(String, String, String)]
        while (i < code.length && code(i) == '(') {
          val end = groupEnd(i)
          params(i, end).filter(hasDefault).foreach {
            case Name(p) => found += ((file, m.group(1), p))
          }
          i = skipSpace(end)
        }
        found.result()
      }
    }
  }

  /** (name, env | prop) of every environment variable and system
    * property read or set; a name held in a `val` is resolved in its
    * file. */
  private def names(text: String): Seq[(String, String)] = {
    val Read = """(sys\.env|sys\.props|System\.getenv|System\.getProperty)(?:\.(?:get|getOrElse|contains))?\s*(?:\(|-=|\+=)\s*(?:"([^"]*)"|(\w+))""".r
    Read.findAllMatchIn(text).toSeq.map { m =>
      val kind = if (m.group(1).endsWith("env")) "env" else "prop"
      val name = Option(m.group(2)).getOrElse {
        val ident = m.group(3)
        s"""\\bval\\s+$ident\\s*(?::\\s*String\\s*)?=\\s*"([^"]*)"""".r
          .findFirstMatchIn(text).map(_.group(1)).getOrElse(s"<unresolved $ident>")
      }
      (name, kind)
    }
  }

  test("every default-valued parameter of a non-private def has a kept row, and only those") {
    assert(paramRows.size >= 88, "the table classifies every default of the inventory")
    val inCode = sources.flatMap { case (f, t) => defaults(f, t) }.toSet
    val kept = paramRows.collect { case (f, d, p, cls, _) if Kept(cls) => (f, d, p) }.toSet
    assert((inCode -- kept).isEmpty, "defaults without a kept row in COVERAGE.md")
    assert((kept -- inCode).isEmpty, "kept rows whose default is gone from the code")
  }

  test("every environment variable and system property read has a row, and only those") {
    val inCode = sources.flatMap { case (_, t) => names(t) }.toSet
    assert(inCode.nonEmpty)
    assert(inCode === nameRows.map(r => (r._1, r._2)).toSet)
  }

  test("a test seam names an existing spec") {
    val specs = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    val seams = paramRows.collect { case (f, d, p, "c", why) => s"$f $d.$p" -> why } ++
      nameRows.collect { case (n, _, "c", why) => n -> why }
    assert(seams.nonEmpty)
    seams.foreach { case (entry, why) =>
      val named = """\b\w+Spec\b""".r.findAllIn(why).toSeq
      assert(named.nonEmpty && named.forall(specs), s"$entry: '$why' names no existing spec")
    }
  }
}
