package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val cols = Seq("id", "name", "score", "tags")
  private val rows = Seq(
    Row(1L, "a", 0.5, Seq("x", "y")),
    Row(2L, "b", 0.0, Seq.empty[String]),
    Row(3L, null, 2.25, Seq("z")))
  private val base = Digest.of(cols, rows)

  test("a changed value changes the digest") {
    assert(Digest.of(cols, rows.updated(0, Row(1L, "a", 0.5000001, Seq("x", "y")))) !== base)
    assert(Digest.of(cols, rows.updated(0, Row(1L, "a", 0.5, Seq("y", "x")))) !== base)
    assert(Digest.of(cols, rows.updated(2, Row(3L, "", 2.25, Seq("z")))) !== base)
  }

  test("a dropped or duplicated row changes the digest") {
    assert(Digest.of(cols, rows.dropRight(1)) !== base)
    assert(Digest.of(cols, rows :+ rows.head) !== base)
  }

  test("-0.0 and +0.0 digest differently") {
    assert(Digest.of(cols, rows.updated(1, Row(2L, "b", -0.0, Seq.empty[String]))) !== base)
  }

  test("row order does not matter") {
    assert(Digest.of(cols, rows.reverse) === base)
  }

  test("values are told apart by type, not by their text") {
    assert(Digest.of(Seq("v"), Seq(Row(1L))) !== Digest.of(Seq("v"), Seq(Row("1"))))
    assert(Digest.of(Seq("v"), Seq(Row(1))) !== Digest.of(Seq("v"), Seq(Row(1L))))
  }

  test("the scrape time column is left out") {
    val a = Digest.of(Seq("id", "采集时间"), Seq(Row("h1", "2026-01-01 00:00:00")))
    val b = Digest.of(Seq("id", "采集时间"), Seq(Row("h1", "2026-01-02 08:30:00")))
    assert(a === b)
    assert(a === Digest.of(Seq("id"), Seq(Row("h1"))))
  }

  test("dates collected by Spark match the generator's LocalDate values") {
    val d = java.time.LocalDate.of(2021, 3, 15)
    assert(Digest.of(Seq("d"), Seq(Row(java.sql.Date.valueOf(d)))) === Digest.of(Seq("d"), Seq(Row(d))))
  }
}
