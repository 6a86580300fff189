package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every lineage cut in src/main has a measured row in LINEAGE_CUTS.md
  * (the rule is in `Iterate`'s scaladoc): per file, the
  * `.localCheckpoint(` calls in the code equal the table's kept rows,
  * so a cut cannot land, or go, without its row changing too. */
class LineageCutsSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  // | `operators/Iterate.scala` | … | kept |
  private val Row = """^\|\s*`([\w/]+\.scala)`\s*\|.*\|\s*(kept|dropped)\s*\|\s*$""".r

  private def sources: Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap

  test("each file's localCheckpoint calls equal its kept rows in LINEAGE_CUTS.md") {
    val rows = Files.readAllLines(Paths.get("LINEAGE_CUTS.md")).asScala.toSeq
      .collect { case Row(file, verdict) => (file, verdict) }
    assert(rows.size >= 42, "the table lists every measured call site")
    val kept = rows.filter(_._2 == "kept").groupBy(_._1).map { case (f, r) => f -> r.size }
    val calls = sources.map { case (f, text) => f -> "\\.localCheckpoint\\(".r.findAllIn(text).size }
      .filter(_._2 > 0)
    assert(calls === kept)
  }

  test("kept cuts use the eager default, not localCheckpoint(true)") {
    assert(sources.collect { case (f, t) if t.contains("localCheckpoint(true)") => f }.isEmpty)
  }
}
