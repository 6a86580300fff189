package graft.lianjia

import javax.xml.parsers.DocumentBuilderFactory
import org.scalatest.funsuite.AnyFunSuite

/** HtmlSoup.parse is a pure function from any page to a DOM. On a
  * well-formed page its tree must read like the strict, hardened XML
  * parse below — the spec's reference. */
class HtmlSoupSpec extends AnyFunSuite {

  private def parse(xml: String) = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(
      new org.xml.sax.InputSource(new java.io.StringReader(xml)))
  }

  private def cleanParses(html: String): org.w3c.dom.Document =
    HtmlSoup.parse(html)

  test("well-formed fragment passes through with content intact") {
    val doc = cleanParses("""<div class="a"><span>hi</span></div>""")
    assert(doc.getElementsByTagName("span").item(0).getTextContent === "hi")
  }

  test("void tags and unclosed containers are repaired") {
    val doc = cleanParses(
      """<ul><li>one<br><li>two<img src="x.png"><li>three &mdash; tail""")
    val lis = doc.getElementsByTagName("li")
    assert(lis.getLength === 3)
    assert(lis.item(0).getTextContent === "one")
    assert(lis.item(2).getTextContent === "three — tail")
  }

  test("bare ampersands, HTML entities, and stray angle brackets") {
    val doc = cleanParses("<p>Tom & Jerry &nbsp;&copy; a<b if 1<2</p>")
    val t = doc.getElementsByTagName("p").item(0).getTextContent
    assert(t.contains("Tom & Jerry"))
    assert(t.contains("©"))
    // numeric and XML-predefined entities survive as escapes
    val d2 = cleanParses("<p>&#65;&amp;&lt;</p>")
    assert(d2.getElementsByTagName("p").item(0).getTextContent === "A&<")
  }

  test("stray close tags dropped; overlap closes at implicit boundary") {
    val doc = cleanParses("<div>x</span></div></div>")
    assert(doc.getElementsByTagName("div").getLength === 1)
  }

  test("script/style bodies with markup-breaking chars survive as text") {
    val doc = cleanParses(
      "<div><script>if (a < b && c) { url = \"/x?a=1&b=2\"; }</script><p>after</p></div>")
    assert(doc.getElementsByTagName("p").item(0).getTextContent === "after")
    assert(doc.getElementsByTagName("script").item(0).getTextContent.contains("a < b && c"))
  }

  test("attributes: unquoted, bare, duplicated, and illegal names") {
    val doc = cleanParses(
      """<input type=checkbox checked class=big class=small 2bad=x data-n="5">""")
    val el = doc.getElementsByTagName("input").item(0).asInstanceOf[org.w3c.dom.Element]
    assert(el.getAttribute("type") === "checkbox")
    assert(el.getAttribute("checked") === "checked")
    assert(el.getAttribute("class") === "big") // first wins
    assert(el.getAttribute("data-n") === "5")
    assert(!el.hasAttribute("2bad"))
  }

  test("an unquoted attribute value ends only at whitespace or '>': a '/' stays in it") {
    val doc = cleanParses("""<div><a href=/xiaoqu/42/>x</a><a href=/b/ class=c>y</a></div>""")
    val xp = javax.xml.xpath.XPathFactory.newInstance().newXPath()
    assert(xp.evaluate("//a/@href", doc) === "/xiaoqu/42/")
    val as = doc.getElementsByTagName("a")
    assert(as.item(0).getAttributes.getLength === 1)
    val second = as.item(1).asInstanceOf[org.w3c.dom.Element]
    assert(second.getAttribute("href") === "/b/")
    assert(second.getAttribute("class") === "c")
  }

  test("doctype, comments, CDATA, and multi-root soup") {
    val doc = cleanParses(
      """<!DOCTYPE html><!-- c --><p>one</p><![CDATA[x < y]]><p>two</p>""")
    assert(doc.getElementsByTagName("p").getLength === 2)
  }

  test("fuzz: clean() of arbitrary markup soup always parses as XML") {
    // deterministic pseudo-random soup from markup-ish fragments — the
    // property is total: whatever a crawler fetches, HtmlSoup.parse must
    // yield a document (worst case: all text) whose XML serialization
    // parses under the strict configuration above
    val frags = Array(
      "<div>", "</div>", "<li>", "</li>", "<p class=", "x\">", "'y'>",
      "<br>", "<img src=foo>", "&", "&amp;", "&nbsp;", "&#65;", "&bogus;",
      "<", ">", "</", "<!--", "-->", "<!DOCTYPE html>", "<![CDATA[", "]]>",
      "<script>", "</script>", "a<b", "q=\"r\"", "text 文本 ", "<3 ", "=",
      "<span", " id=1 id=2>", "</wrong>", "<a href='u'>", "")
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { i =>
      val soup = Seq.fill(rnd.nextInt(40) + 1)(frags(rnd.nextInt(frags.length))).mkString
      val doc = try cleanParses(soup) catch {
        case e: Exception => fail(s"iteration $i failed on soup:\n$soup\n${e.getMessage}")
      }
      assert(doc != null)
      val xml = new java.io.StringWriter()
      javax.xml.transform.TransformerFactory.newInstance().newTransformer().transform(
        new javax.xml.transform.dom.DOMSource(doc), new javax.xml.transform.stream.StreamResult(xml))
      try parse(xml.toString) catch {
        case e: Exception => fail(s"iteration $i serialized to bad XML:\n$soup\n$xml\n${e.getMessage}")
      }
    }
  }

  test("the reference page shapes: label-sibling li rows in tag soup") {
    // lianjia.py:131-153 extracts li[span=...] — real pages leave li open
    val doc = cleanParses(
      """<div class=base><div class=content><ul>
        |<li><span>房屋户型</span>3室2厅
        |<li><span>建筑面积</span>142.3㎡
        |</ul></div></div>""".stripMargin)
    assert(doc.getElementsByTagName("li").getLength === 2)
  }

  // Well-formed pages: the fixture pages of PipelineSpec,
  // CrawlIntegrationSpec, XPathStructExprSpec and CssSpec, q136's page
  // shape, and pages on the XML normalization rules (CRLF text, tab and
  // newline attribute values, references, comments, entities).
  private val wellFormedPages: Seq[String] = {
    val pipeline = Seq(
      """<div class="position"><a href="/xiaoqu/pudong/">浦东</a>
        |<a href="/xiaoqu/minhang/">闵行</a><a href="/other/x/">no</a></div>""".stripMargin,
      """<div data-total-count="2"><a href="https://sh.lianjia.com/xiaoqu/123/">a</a></div>""",
      """<div page-data='{"curPage":1,"totalPage":3}'>x</div>""",
      """<div>no pagination attr</div>""",
      """<html><body>
        |<h1 class="detailTitle">仁恒河滨城</h1>
        |<div class="detailDesc">浦东 联洋 芳甸路333弄</div>
        |<a class="crumb">浦东</a><a class="crumb">联洋</a>
        |<span class="xiaoquInfoContent year">2003年建成</span>
        |<li><span>建筑类型</span>板楼</li>
        |<li><span>物业费用</span>2.5元/平米/月</li>
        |<li><span>物业公司</span>仁恒物业</li>
        |<li><span>开发商</span>仁恒置地</li>
        |<li><span>楼栋总数</span>51栋</li>
        |<li><span>房屋总数</span>2350户</li>
        |<script>resblockPosition:'121.552,31.238',resblockName</script>
        |</body></html>""".stripMargin,
      "<html><body><script>resblockPosition:'0,0'</script></body></html>",
      """<html><body>
        |<h1 class="main">满五唯一 高区view</h1>
        |<span class="total">1250</span>
        |<div class="communityName"><a class="info" href="/xiaoqu/42/">仁恒河滨城</a></div>
        |<li><span>房屋户型</span>3室2厅1厨2卫</li>
        |<li><span>所在楼层</span>高楼层 (共28层)</li>
        |<li><span>建筑面积</span>142.3㎡</li>
        |<li><span>房屋朝向</span>南</li>
        |<li><span>装修情况</span>精装</li>
        |<li><span>挂牌时间</span>2021-03-01</li>
        |<li><span>上次交易</span>2015-06-30</li>
        |<li><span>链家编号</span>107104000001</li>
        |<span class="count">89</span>
        |</body></html>""".stripMargin,
      """<html><body>
        |<h1 class="main">中区 两房</h1>
        |<div class="wrapper">2021.4.15 成交</div>
        |<span class="dealTotalPrice"><i>980</i></span>
        |<div class="price"><b>1020</b></div>
        |<div class="communityName"><a class="info" href="/xiaoqu/42/">仁恒河滨城</a></div>
        |<li><span>房屋户型</span>2室2厅1厨1卫</li>
        |<li><span>建筑面积</span>108.6㎡</li>
        |</body></html>""".stripMargin)
    def crawlHouse(deal: Boolean) =
      s"""<html><body><h1 class="main">房源</h1>
         |${if (deal) """<span class="dealTotalPrice"><i>980</i></span>
         |<div class="wrapper">2021.5.1 成交</div>"""
      else """<span class="total">1250</span><span class="count">7</span>"""}
         |<div class="communityName"><a class="info" href="/xiaoqu/101/">小区A</a></div>
         |<li><span>建筑面积</span>99.9㎡</li>
         |</body></html>""".stripMargin
    val crawl = Seq(
      """<div><a href="/xiaoqu/pudong/">浦东</a></div>""",
      """<html><body><h1 class="detailTitle">小区A</h1>
        |<a class="crumb">浦东</a><a class="crumb">联洋</a>
        |<span class="xiaoquInfoContent year">2005年建成</span>
        |<li><span>楼栋总数</span>10栋</li>
        |<script>resblockPosition:'121.5,31.2',x</script>
        |</body></html>""".stripMargin,
      crawlHouse(deal = false), crawlHouse(deal = true))
    val xpathSpec = Seq(
      """<html><body>
        |<h1 class="t">标题文本</h1>
        |<li><span>房屋户型</span>3室2厅</li>
        |<li><span>装修情况</span>精装</li>
        |</body></html>""".stripMargin)
    val css = Seq(
      """<div class="listContent"><div class="xiaoquListItem">
        |<a class="img" href="/xiaoqu/1/">a</a></div>
        |<div class="xiaoquListItem"><a class="img" href="/xiaoqu/2/">b</a></div></div>"""
        .stripMargin)
    // q136 (queries/WebQueries) without its every-third-page <br>
    def q136(k: Int) =
      s"""<html><body><div class="sellDetailHeader"><h1 class="main">House $k</h1></div>""" +
        s"""<div class="communityName"><a class="info">V${k % 50}</a><a class="sub">map</a></div>""" +
        s"""<div class="houseRecord"><span class="info" data-hid="H$k">record</span></div>""" +
        s"""<div class="base"><ul><li><span class="label">房屋户型</span>${k % 5 + 1}室${k % 3 + 1}厅</li>""" +
        s"""<li><span class="label">建筑面积</span>${k % 200 + 50}.5平米</li>""" +
        s"""<li><span class="label">所在楼层</span>中楼层(共${k % 30 + 2}层)</li>""" +
        s"""<li><span class="label">配备电梯</span>${if (k % 2 == 0) "有" else "无"}</li>""" +
        "</ul></div></body></html>"
    val rules = Seq(
      "<html>\r\n<body><h1 class=\"main\">a\r\nb\rc&#13;d&#10;e</h1>\r\n" +
        "<div class=\"communityName\" title=\"x\ty\r\nz\n w\rv&#9;&#10;u\">" +
        "<a class=\"info\" href=\"/xiaoqu/7/\">T &amp; &lt;b&gt; &#65;&#x4e2d;&#x1F600;</a></div>\r\n" +
        "</body></html>\r\n",
      "<!-- lead -->\n<html><body><h1 class=\"main\">a<!-- x -->b</h1>" +
        "<li><span>房屋户型</span>one<!-- c -->two</li></body></html>\n<!-- tail -->")
    pipeline ++ crawl ++ xpathSpec ++ css ++ Seq(20, 40, 100).map(q136) ++ rules
  }

  private val fixturePaths: Seq[String] =
    (Pipeline.villageFields ++ Pipeline.onsaleFields ++ Pipeline.soldFields ++
      Pipeline.houseCommonFields).map(_._2) ++
    Seq( // q136's seven
      "//h1[@class='main']/text()",
      "//div[@class='communityName']/a[1]/text()",
      "//div[@class='houseRecord']/span/@data-hid",
      "//li[span='房屋户型']/text()",
      "//li[span='建筑面积']/text()",
      "//li[span='所在楼层']/text()",
      "//li[span='配备电梯']/text()") ++
    Seq("//li/span/text()", "//h1[@class='t']/text()") ++ // XPathStructExprSpec
    Seq(".listContent .xiaoquListItem a.img::attr(href)", ".absent b::text",
      ".resultDes span::text", ".resultDes .total span::text",
      ".xiaoquInfo .xiaoquInfoItem:nth-child(2) .xiaoquInfoContent::text",
      "a.info::attr(href)").map(Css.toXPath) ++
    Seq("//div/@title", "//a/@href", "//h1", "/html/body/h1/text()", "/*/body//li[1]",
      "//comment()", "/node()", "//text()", "//script/text()")

  test("differential: every fixture path reads a well-formed page as a strict XML parse does") {
    import javax.xml.xpath.{XPathConstants, XPathFactory}
    val xp = XPathFactory.newInstance().newXPath()
    def read(doc: org.w3c.dom.Document, path: String) = {
      val e = xp.compile(path)
      val nodes = e.evaluate(doc, XPathConstants.NODESET).asInstanceOf[org.w3c.dom.NodeList]
      (e.evaluate(doc, XPathConstants.STRING),
        (0 until nodes.getLength).map(i => (nodes.item(i).getNodeName, nodes.item(i).getTextContent)))
    }
    val paths = fixturePaths.distinct
    for (page <- wellFormedPages; path <- paths) {
      val strict = parse(page)
      assert(read(HtmlSoup.parse(page), path) === read(strict, path), s"$path on\n$page")
    }
  }

  test("differential: the walk reads every page as JAXP does, on every fixture path it compiles") {
    import graft.plans.{WalkOracle, XPathWalk}
    // every path of Pipeline's four field lists and q136's seven is walked
    val extraction = fixturePaths.take(Pipeline.villageFields.length + Pipeline.onsaleFields.length +
      Pipeline.soldFields.length + Pipeline.houseCommonFields.length + 7)
    extraction.foreach(p => assert(XPathWalk.compile(p).isDefined, p))
    val soupPages = Seq(
      """<ul><li>one<br><li>two<img src="x.png"><li>three &mdash; tail""",
      "<p>Tom & Jerry &nbsp;&copy; a<b if 1<2</p>",
      "<div>x</span></div></div>",
      "<div><script>if (a < b && c) { url = \"/x?a=1&b=2\"; }</script><p>after</p></div>",
      """<input type=checkbox checked class=big class=small 2bad=x data-n="5">""",
      """<div><a href=/xiaoqu/42/>x</a><a href=/b/ class=c>y</a></div>""",
      """<!DOCTYPE html><!-- c --><p>one</p><![CDATA[x < y]]><p>two</p>""",
      """<div class=base><div class=content><ul>
        |<li><span>房屋户型</span>3室2厅
        |<li><span>建筑面积</span>142.3㎡
        |</ul></div></div>""".stripMargin,
      """<html><body><h1 class="t">标题文本</h1><br>
        |<li><span>房屋户型</span>3室2厅
        |<li><span>装修情况</span>精装
        |</body></html>""".stripMargin,
      """<html><body><div class="communityName"><a class="info">V1</a><a class="sub">map</a></div>""" +
        """<br><div class="houseRecord"><span class="info" data-hid="H3">record</span></div>""" +
        """<div class="base"><ul><li><span class="label">房屋户型</span>2室1厅<li><span class="label">""" +
        """配备电梯</span>有</ul></div></body></html>""",
      // prefixed names, namespace declarations
      "<div><x:li>a</x:li><li>b</li><o:p>c</o:p><p>d</p></div>",
      """<html xmlns="http://www.w3.org/1999/xhtml" xmlns:o="urn:o" lang="zh"><body>B<o:p>P</o:p>""" +
        """<p xmlns="u" a="1">Q</p><i xml:lang="en" xmlns:q="w" xmlnsx="x">I</i></body></html>""",
      """<div><x:a>1</x:a><a zz:href="p" href="q">2</a><a:b>3</a:b><a href="q2" aa:href="r">4</a>""" +
        """<b z:y:c="5" xmlns="6">b</b><xmlns:e>e</xmlns:e></div>""")
    val fuzz = {
      val frags = Array(
        "<div>", "</div>", "<li>", "</li>", "<p class=", "x\">", "'y'>",
        "<br>", "<img src=foo>", "&", "&amp;", "&nbsp;", "&#65;", "&bogus;",
        "<", ">", "</", "<!--", "-->", "<!DOCTYPE html>", "<![CDATA[", "]]>",
        "<script>", "</script>", "a<b", "q=\"r\"", "text 文本 ", "<3 ", "=",
        "<span", " id=1 id=2>", "</wrong>", "<a href='u'>", "")
      val rnd = new scala.util.Random(42)
      Seq.fill(300)(Seq.fill(rnd.nextInt(40) + 1)(frags(rnd.nextInt(frags.length))).mkString)
    }
    val soupPaths = Seq("//li/text()", "//div/text()", "//div/li[1]/text()", "//div/li[2]/text()",
      "//li/div/text()", "//p/text()", "//span[@id='1']/text()", "//span/@id",
      "//a[@href='u']/text()", "//a/@href", "//div[li='text 文本 ']/text()", "//div[span='']/text()",
      "//script/text()", "//div/div/div/text()", "//li/a[1]/@href", "//p/@class", "//b/@if",
      "//input[@data-n='5']/@class", "//div[a='x']/a[2]/@href", "//ul/li[3]/text()",
      "//html/@xmlns", "//html/@o", "//html/@lang", "//body/text()", "//p/@a", "//i/@lang", "//i/@q",
      "//i/@xmlnsx", "//a[2]/text()", "//a[3]/@href", "//a[@href='r']/text()", "//b/text()", "//b/@c",
      "//e/text()", "//div/e/text()", "//div[a='4']/b/@xmlns", "//div[li='a']/p/text()")
    val paths = (fixturePaths ++ soupPaths).distinct.filter(XPathWalk.compile(_).isDefined)
    for (page <- wellFormedPages ++ soupPages ++ fuzz)
      assert(WalkOracle.viaExpr(page, paths) === WalkOracle.viaJaxp(page, paths), s"on\n$page")
  }
}
