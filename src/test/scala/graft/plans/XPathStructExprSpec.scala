package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lianjia.Extract

class XPathStructExprSpec extends SparkSpec {
  import spark.implicits._

  private val page =
    """<html><body>
      |<h1 class="t">标题文本</h1>
      |<li><span>房屋户型</span>3室2厅</li>
      |<li><span>装修情况</span>精装</li>
      |</body></html>""".stripMargin

  private val fields = Seq(
    "title" -> "//h1[@class='t']/text()",
    "layout" -> "//li[span='房屋户型']/text()",
    "deco" -> "//li[span='装修情况']/text()",
    "missing" -> "//li[span='不存在']/text()")

  test("one-parse struct matches per-field xpathFirst; misses are null") {
    val df = Seq(page).toDF("html")
    val viaStruct = df.select(XPathStructExpr.xpathStruct(col("html"), fields).as("x"))
      .select("x.title", "x.layout", "x.deco", "x.missing")
      .as[(String, String, String, Option[String])].head()
    val viaSingle = df.select(
      Extract.xpathFirst(col("html"), fields(0)._2),
      Extract.xpathFirst(col("html"), fields(1)._2),
      Extract.xpathFirst(col("html"), fields(2)._2),
      Extract.xpathFirst(col("html"), fields(3)._2))
      .as[(String, String, String, Option[String])].head()
    assert(viaStruct === viaSingle)
    assert(viaStruct === (("标题文本", "3室2厅", "精装", None)))
  }

  test("unparseable page yields an all-null struct, not a failed task (F4)") {
    val got = Seq("<html><unclosed").toDF("html")
      .select(XPathStructExpr.xpathStruct(col("html"), fields).as("x"))
      .select("x.title", "x.missing")
      .as[(Option[String], Option[String])].head()
    assert(got === ((None, None)))
  }

  test("a tag-soup page falls back to HtmlSoup and writes nothing to stderr") {
    // the unclosed <br> and <li>s are repaired in the one parse
    val soup =
      """<html><body><h1 class="t">标题文本</h1><br>
        |<li><span>房屋户型</span>3室2厅
        |<li><span>装修情况</span>精装
        |</body></html>""".stripMargin
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val got = try Seq(soup).toDF("html")
        .select(XPathStructExpr.xpathStruct(col("html"), fields).as("x"),
          XPathStructExpr.xpathAll(col("html"), "//li/span/text()").as("spans"))
        .select("x.title", "x.layout", "x.deco", "x.missing", "spans")
        .as[(String, String, String, Option[String], Seq[String])].head()
      finally System.setErr(saved)
    assert(got === (("标题文本", "3室2厅", "精装", None, Seq("房屋户型", "装修情况"))))
    assert(err.toString("UTF-8") === "")
  }

  test("doctype/entity payloads are rejected safely (no XXE)") {
    val evil =
      """<!DOCTYPE foo [<!ENTITY xxe SYSTEM "file:///etc/passwd">]>
        |<html><h1 class="t">&xxe;</h1></html>""".stripMargin
    val got = Seq(evil).toDF("html")
      .select(XPathStructExpr.xpathStruct(col("html"), fields).as("x"))
      .select("x.title").as[Option[String]].head()
    // HtmlSoup.parse drops the DOCTYPE and keeps the unknown entity
    // reference as inert literal text ("&xxe;"); no XML parser reads the
    // page, so the external entity is never RESOLVED — the assertion is
    // on the security property.
    assert(got === Some("&xxe;"))
    assert(!got.get.contains("root:"))
  }

  /** Each field of `paths` read from the page `<html><body>inner…`,
    * once as is and once with a stray unclosed <br> elsewhere on it. */
  private def withAndWithoutBr(inner: String, paths: (String, String)*) =
    Seq("", "<br>").map { br =>
      val r = Seq(s"<html><body>$inner<p>pad</p>$br</body></html>").toDF("html")
        .select(XPathStructExpr.xpathStruct(col("html"), paths).as("x"))
        .select(col("x.*")).head()
      (0 until r.length).map(i => Option(r.getString(i)))
    }

  test("one tree: text() splits at a comment with and without a stray <br>") {
    assert(withAndWithoutBr("""<h1 class="main">a<!-- x -->b</h1>""",
      "t" -> "//h1[@class='main']/text()") === Seq(Seq(Some("a")), Seq(Some("a"))))
  }

  test("one tree: uppercase tags read as lowercase with and without a stray <br>") {
    assert(withAndWithoutBr("""<H1 class="main">T</H1>""",
      "t" -> "//h1[@class='main']/text()") === Seq(Seq(Some("T")), Seq(Some("T"))))
  }

  test("one tree: an absolute path reads the page with and without a stray <br>") {
    assert(withAndWithoutBr("<h1>T</h1>", "t" -> "/html/body/h1/text()") ===
      Seq(Seq(Some("T")), Seq(Some("T"))))
  }

  test("one tree: a numeric reference XML cannot hold stays literal and nulls no field") {
    for (ref <- Seq("&#0;", "&#x110000;"))
      assert(withAndWithoutBr(s"""<h1 class="main">T</h1><div class="d">x${ref}y</div>""",
          "t" -> "//h1[@class='main']/text()", "d" -> "//div[@class='d']/text()") ===
        Seq.fill(2)(Seq(Some("T"), Some(s"x${ref}y"))), ref)
  }
}
