package graft.lianjia

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Golden-fixture tests over tiny XHTML pages (FIXTURES.md A3): the full
  * G1→G8 extraction graph on controlled input. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val B = Pipeline.Base

  test("regionLinks (G1/G2): root page fans out to district links with lineage") {
    val root = Seq((s"$B/xiaoqu/", // reference seed lianjia.py:15,21
      """<div class="position"><a href="/xiaoqu/pudong/">浦东</a>
        |<a href="/xiaoqu/minhang/">闵行</a><a href="/other/x/">no</a></div>"""
        .stripMargin)).toDF("url", "html")
    val got = Pipeline.regionLinks(root, "^/xiaoqu/[a-z]+/$")
      .orderBy("url").as[(String, String)].collect()
    assert(got.toSeq === Seq(
      (s"$B/xiaoqu/", s"$B/xiaoqu/minhang/"),
      (s"$B/xiaoqu/", s"$B/xiaoqu/pudong/")))
  }

  test("detailLinks + F1 guard (G3/G5): zero-listing pages expand to nothing") {
    val pages = Seq(
      (s"$B/xiaoqu/pudong/", """<div data-total-count="2"><a href="https://sh.lianjia.com/xiaoqu/123/">a</a></div>"""),
      (s"$B/xiaoqu/empty/", """<div data-total-count="0"><a href="https://sh.lianjia.com/xiaoqu/999/">x</a></div>""")
    ).toDF("url", "html")
    val got = Pipeline.detailLinks(pages, "^https://sh\\.lianjia\\.com/xiaoqu/\\d+/$")
      .as[(String, String)].collect()
    assert(got.toSeq === Seq((s"$B/xiaoqu/pudong/", s"$B/xiaoqu/123/")))
  }

  test("paginationLinks + F2/F3 (G5/G7): pages 2..totalPage from page 1 only") {
    val pages = Seq(
      (s"$B/ershoufang/c1/", """<div page-data='{"curPage":1,"totalPage":3}'>x</div>"""),
      (s"$B/ershoufang/c2/", """<div page-data='{"curPage":2,"totalPage":3}'>x</div>"""), // F2: not page 1
      (s"$B/ershoufang/c3/", """<div page-data='{"curPage":1,"totalPage":1}'>x</div>"""), // F3: single page
      (s"$B/ershoufang/c4/", """<div>no pagination attr</div>""")
    ).toDF("url", "html")
    val got = Pipeline.paginationLinks(pages).orderBy("url").as[(String, String)].collect()
    assert(got.toSeq === Seq(
      (s"$B/ershoufang/c1/", s"$B/ershoufang/c1/pg2"),
      (s"$B/ershoufang/c1/", s"$B/ershoufang/c1/pg3")))
  }

  private val villageHtml =
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
      |</body></html>""".stripMargin

  test("villageItems + typedVillages (G4 + silver): full A1 record") {
    val pages = Seq((s"$B/xiaoqu/5011000012345/", villageHtml)).toDF("url", "html")
    val row = Pipeline.typedVillages(Pipeline.villageItems(pages)).head()
    assert(row.getAs[String]("id") === "5011000012345")
    assert(row.getAs[String]("name") === "仁恒河滨城")
    assert(row.getAs[Seq[String]]("zone") === Seq("浦东", "联洋"))
    assert(row.getAs[Double]("longitude") === 121.552)
    assert(row.getAs[Double]("latitude") === 31.238)
    assert(row.getAs[Int]("year") === 2003)
    assert(row.getAs[Int]("buildings") === 51)
    assert(row.getAs[Int]("total_house") === 2350)
    assert(row.getAs[String]("build_type") === "板楼")
  }

  test("villageItems on TAG SOUP: same fields as the well-formed fixture") {
    // the same village page as real-world tag soup: no doctype close, an
    // unclosed <li> chain, <br>, bare &, &nbsp;, unquoted attrs — the
    // markup parsel/lxml accepts (lianjia.py:131-153); HtmlSoup.parse
    // repairs it while building the page tree
    val soup =
      """<!DOCTYPE html><html><body>
        |<h1 class=detailTitle>仁恒河滨城</h1><br>
        |<div class="detailDesc">浦东 联洋 &nbsp;芳甸路333弄</div>
        |<a class="crumb">浦东</a><a class="crumb">联洋</a>
        |<span class="xiaoquInfoContent year">2003年建成</span>
        |<ul>
        |<li><span>建筑类型</span>板楼
        |<li><span>物业费用</span>2.5元/平米/月
        |<li><span>物业公司</span>仁恒物业 & 合作方
        |<li><span>开发商</span>仁恒置地
        |<li><span>楼栋总数</span>51栋
        |<li><span>房屋总数</span>2350户
        |</ul>
        |<script>resblockPosition:'121.552,31.238',resblockName</script>
        |</body></html>""".stripMargin
    val pages = Seq((s"$B/xiaoqu/5011000012345/", soup)).toDF("url", "html")
    val row = Pipeline.typedVillages(Pipeline.villageItems(pages)).head()
    assert(row.getAs[String]("id") === "5011000012345")
    assert(row.getAs[String]("name") === "仁恒河滨城")
    assert(row.getAs[String]("build_type") === "板楼")
    assert(row.getAs[String]("property_company") === "仁恒物业 & 合作方")
    assert(row.getAs[Int]("year") === 2003)
    assert(row.getAs[Int]("buildings") === 51)
    assert(row.getAs[Int]("total_house") === 2350)
    assert(row.getAs[Double]("longitude") === 121.552)
  }

  test("onsale house on TAG SOUP extracts the same G6 fields") {
    val soup =
      """<html><body>
        |<h1 class=main>满五唯一 & 高区view</h1>
        |<span class="total">1250</span>
        |<div class="communityName"><a class="info" href="/xiaoqu/42/">仁恒河滨城</a>
        |<ul>
        |<li><span>房屋户型</span>3室2厅1厨2卫
        |<li><span>建筑面积</span>142.3㎡
        |<li><span>挂牌时间</span>2021-03-01
        |</ul>
        |<span class="count">89</span>
        |</body></html>""".stripMargin
    val houses = Pipeline.typedHouses(Pipeline.onsaleHouseItems(
      Seq((s"$B/ershoufang/107100001.html", soup)).toDF("url", "html")))
    val on = houses.head()
    assert(on.getAs[String]("房屋Id") === "107100001")
    assert(on.getAs[String]("标题") === "满五唯一 & 高区view")
    assert(on.getAs[String]("小区ID") === "42")
    assert(on.getAs[java.math.BigDecimal]("售价").doubleValue() === 1250.0)
    assert(on.getAs[Double]("建筑面积") === 142.3)
    assert(on.getAs[java.sql.Date]("挂牌时间").toString === "2021-03-01")
    assert(on.getAs[Int]("关注人数") === 89)
  }

  test("villageItems: extraction miss → null (F4), geo 0-sentinel → null") {
    val pages = Seq((s"$B/xiaoqu/1/",
      "<html><body><script>resblockPosition:'0,0'</script></body></html>"))
      .toDF("url", "html")
    val row = Pipeline.typedVillages(Pipeline.villageItems(pages)).head()
    assert(row.getAs[String]("name") === null)
    assert(row.isNullAt(row.fieldIndex("latitude")))
    assert(row.getAs[Int]("year") === null)
  }

  test("villageChildLinks (G4 fan-out): ershoufang + chengjiao children carry FK") {
    val pages = Seq((s"$B/xiaoqu/42/", villageHtml)).toDF("url", "html")
    val got = Pipeline.villageChildLinks(pages).orderBy("url").as[(String, String)].collect()
    assert(got.toSeq === Seq(
      ("42", s"$B/chengjiao/c42"),
      ("42", s"$B/ershoufang/c42")))
  }

  private val onsaleHtml =
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
      |</body></html>""".stripMargin

  private val soldHtml =
    """<html><body>
      |<h1 class="main">中区 两房</h1>
      |<div class="wrapper">2021.4.15 成交</div>
      |<span class="dealTotalPrice"><i>980</i></span>
      |<div class="price"><b>1020</b></div>
      |<div class="communityName"><a class="info" href="/xiaoqu/42/">仁恒河滨城</a></div>
      |<li><span>房屋户型</span>2室2厅1厨1卫</li>
      |<li><span>建筑面积</span>108.6㎡</li>
      |</body></html>""".stripMargin

  test("on-sale ∪ sold (G6/G8 + union + silver): sparse columns null-filled") {
    val onsale = Pipeline.onsaleHouseItems(
      Seq((s"$B/ershoufang/107100001.html", onsaleHtml)).toDF("url", "html"))
    val sold = Pipeline.soldHouseItems(
      Seq((s"$B/chengjiao/107200002.html", soldHtml)).toDF("url", "html"))
    val houses = Pipeline.typedHouses(Pipeline.unionHouses(onsale, sold))

    assert(houses.count() === 2)
    val on = houses.filter(col("状态") === "在售").head()
    assert(on.getAs[String]("房屋Id") === "107100001")
    assert(on.getAs[String]("小区ID") === "42")
    assert(on.getAs[java.math.BigDecimal]("售价").doubleValue() === 1250.0)
    assert(on.getAs[Double]("建筑面积") === 142.3)
    assert(on.getAs[java.sql.Date]("挂牌时间").toString === "2021-03-01")
    assert(on.getAs[Int]("关注人数") === 89)
    assert(on.isNullAt(on.fieldIndex("成交价"))) // sold-only column

    val sd = houses.filter(col("状态") === "成交").head()
    assert(sd.getAs[String]("房屋Id") === "107200002")
    assert(sd.getAs[java.math.BigDecimal]("成交价").doubleValue() === 980.0)
    assert(sd.getAs[java.sql.Date]("成交时间").toString === "2021-04-15")
    assert(sd.isNullAt(sd.fieldIndex("关注人数"))) // on-sale-only column
    assert(sd.getAs[String]("小区ID") === "42") // FK joins back to village.id
  }
}
