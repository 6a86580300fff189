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

  /** Asserts each path is in the walk's subset and reads `page` as
    * `expected` through XPathStructExpr and through JAXP alike. */
  private def walkReads(page: String, expected: (String, Option[String])*): Unit = {
    val paths = expected.map(_._1)
    paths.foreach(p => assert(XPathWalk.compile(p).isDefined, p))
    assert(WalkOracle.viaExpr(page, paths) === expected.map(_._2), page)
    assert(WalkOracle.viaJaxp(page, paths) === expected.map(_._2), page)
  }

  test("walk = JAXP: nested first-step matches read the first text node in document order") {
    // the outer li's own text comes after the inner li's
    walkReads("<ul><li><span>L</span><div><li><span>L</span>inner</li></div>outer</li></ul>",
      "//li[span='L']/text()" -> Some("inner"), "//li/text()" -> Some("inner"),
      "//div/li[1]/text()" -> Some("inner"), "//ul/li/text()" -> Some("outer"))
    walkReads("<div class='a'><div class='a'><b>x</b>in</div>out</div>",
      "//div[@class='a']/text()" -> Some("in"), "//div/b/text()" -> Some("x"))
  }

  test("walk = JAXP: a comment splits text(), and a whitespace-only first text node wins as NULL") {
    walkReads("<html><body><h1 class='main'>a<!-- x -->b</h1></body></html>",
      "//h1[@class='main']/text()" -> Some("a"), "//body/h1/text()" -> Some("a"))
    walkReads("<ul><li> <span>L</span>value</li><li><span>M</span><!-- c -->m</li></ul>",
      "//li[span='L']/text()" -> None, "//li[span='M']/text()" -> Some("m"))
  }

  test("walk = JAXP: missing attributes and positional steps") {
    val page = """<div class="communityName"><a>first</a><a class="info" href="/xiaoqu/7/">second</a></div>""" +
      """<p><a href="">empty</a></p>"""
    walkReads(page,
      "//div[@class='communityName']/a[1]/text()" -> Some("first"),
      "//div[@class='communityName']/a[2]/text()" -> Some("second"),
      "//div[@class='communityName']/a[3]/text()" -> None,
      "//div[@class='communityName']/a[@class='info']/@href" -> Some("/xiaoqu/7/"),
      "//a/@href" -> Some("/xiaoqu/7/"),
      "//p/a/@href" -> None,
      "//a[@href='']/text()" -> Some("empty"),
      "//a[@title='']/text()" -> None,
      "//a/@title" -> None)
  }

  test("walk = JAXP: a label is its span's whole string-value, nested markup included") {
    walkReads("<ul><li><span><b>L</b></span>v1</li><li><span>A<i>B</i><!-- c -->C</span>v2</li></ul>",
      "//li[span='L']/text()" -> Some("v1"), "//li[span='ABC']/text()" -> Some("v2"),
      "//li[span='A']/text()" -> None, "//li[b='L']/text()" -> None)
    // the label compares untrimmed
    walkReads("<ul><li><span> L </span>v1</li></ul>",
      "//li[span='L']/text()" -> None, "//li[span=' L ']/text()" -> Some("v1"))
  }

  test("walk = JAXP: the first match without text() gives way to a later one") {
    walkReads("""<h1 class="main"><b>x</b></h1><h1 class="main">T</h1><h1 class="main">U</h1>""",
      "//h1[@class='main']/text()" -> Some("T"), "//h1/b/text()" -> Some("x"))
  }

  test("walk compile: every shape outside the subset is JAXP's, and still reads") {
    val outside = Seq(
      "//*/text()", "//div//a/text()", "//a/following-sibling::b/text()", "//a/../b/text()",
      "//a[contains(@class,'x')]/text()", "//a[normalize-space(.)='x']/text()",
      "/html/body/h1/text()", "html/body/h1/text()", "//a/text() | //b/text()",
      "//a[@x=\"v\"]/text()", "//a[@x='it''s']/text()", "//a[@href='/x/']/text()",
      "//li[span='a/b']/text()", "//a[1][@x='y']/text()", "//A/text()", "//a[@X='y']/text()",
      "//a", "//a/b", "//a/text()/b", "//a/@*", "//a/@href/text()", "//a[0]/text()",
      "//a[ @x='y']/text()", "//li[span = 'x']/text()", "//a[last()]/text()",
      "//a[position()=1]/text()", "//a[@x]/text()", "//node()/text()", "//a/comment()",
      "//text()", "//@href", "string(//a)", "//a[@x='y']", "//a[@x=$v]/text()")
    outside.foreach(p => assert(XPathWalk.compile(p).isEmpty, p))
    val css = Seq("div.communityName a.info::attr(href)", ".base li::text", "h1.main::text")
      .map(graft.lianjia.Css.toXPath)
    css.foreach(p => assert(XPathWalk.compile(p).isEmpty, p))
    val page = """<html><body><h1 class="main x">T</h1><div class="communityName">""" +
      """<a class="info" href="/xiaoqu/7/">V</a></div><div class="base"><li>one</li></div></body></html>"""
    val jaxpOnly = css ++ Seq("/html/body/h1/text()", "//div//a/text()", "//a[1][@class='info']/text()")
    assert(WalkOracle.viaExpr(page, jaxpOnly) ===
      Seq(Some("/xiaoqu/7/"), Some("one"), Some("T"), Some("T"), Some("V"), Some("V")))
    assert(WalkOracle.viaExpr(page, jaxpOnly) === WalkOracle.viaJaxp(page, jaxpOnly))
  }

  test("a JAXP path that fails at evaluation reads NULL; the walked fields still read") {
    // an unbound variable compiles, then raises XPathExpressionException
    // on every evaluation
    val page = "<html><body><h1 class=\"t\">T</h1><a href=\"/u\">A</a></body></html>"
    val unbound = "//a[@href=$x]/text()"
    intercept[javax.xml.xpath.XPathExpressionException] {
      javax.xml.xpath.XPathFactory.newInstance().newXPath().compile(unbound)
        .evaluate(graft.lianjia.HtmlSoup.parse(page))
    }
    val got = Seq(page).toDF("html")
      .select(XPathStructExpr.xpathStruct(col("html"),
        Seq("bad" -> unbound, "title" -> "//h1[@class='t']/text()")).as("x"))
      .select("x.bad", "x.title").as[(Option[String], String)].head()
    assert(got === ((None, "T")))
  }
}
