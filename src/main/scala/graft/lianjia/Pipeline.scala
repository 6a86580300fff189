package graft.lianjia

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's crawl dataflow (SURVEY §2.3 G1-G8) as composable
  * `DataFrame => DataFrame` transforms over a `(url, html)` page table.
  *
  * Input model: pages are pre-fetched — network IO is out of scope
  * (SURVEY §2.1 S2); a page table at 100 TB is a parquet/warehouse scan.
  * Each operator is 1 page row → N rows (links or items): the reference's
  * generator callbacks become `explode` fan-outs, pagination `range`
  * loops become `sequence`+`explode` (C13), and guards F1-F3 become
  * `filter`s.
  */
object Pipeline {

  val Base = "https://sh.lianjia.com"

  /** G1/G2: root/district page → child region links, keeping the parent
    * url as lineage (the reference's `meta={"ref": url}`). */
  def regionLinks(pages: DataFrame, urlPattern: String): DataFrame =
    pages.select(col("url").as("ref"),
        explode(Extract.hrefsMatching(col("html"), urlPattern)).as("link"))
      .select(col("ref"), concat(lit(Base), col("link")).as("url"))

  /** G3/G5/G7 (link half): listing page → detail-page links, guarded by
    * F1 (`total > 0`). */
  def detailLinks(pages: DataFrame, urlPattern: String): DataFrame =
    pages
      .filter(coalesce(Extract.totalCount(col("html")), lit(1)) > 0)
      .select(col("url").as("ref"),
        explode(Extract.hrefsMatching(col("html"), urlPattern)).as("url"))

  /** G3/G5/G7 (pagination half): listing page → page-2..N urls.
    * F2 (only from curPage==1) + F3 (totalPage>1) + C13 (sequence). */
  def paginationLinks(pages: DataFrame): DataFrame =
    pages
      .withColumn("pd", Extract.pageData(col("html")))
      .filter(col("pd.curPage") === 1 && col("pd.totalPage") > 1)
      .select(col("url").as("ref"),
        explode(sequence(lit(2), col("pd.totalPage"))).as("pg"))
      .select(col("ref"), concat(col("ref"), lit("pg"), col("pg")).as("url"))

  /** G4 (item half): village detail page → one village row (bronze:
    * all-string, null on extraction miss — FIXTURES A1).
    *
    * All XPath fields come from ONE `XPathStructExpr` — one DOM parse per
    * page instead of one per field (SURVEY §2.11's "single most important
    * perf decision"); regex-based fields (id, zone, geo) don't need the
    * DOM at all. */
  def villageItems(pages: DataFrame): DataFrame =
    pages
      .select(
        Extract.urlKey(col("url"), Base + "/xiaoqu/", "/").as("id"),
        graft.plans.XPathStructExpr.xpathStruct(col("html"), villageFields).as("x"),
        Extract.zoneArray(col("html")).as("zone"),
        Extract.geoLat(col("html")).as("latitude"),
        Extract.geoLng(col("html")).as("longitude"),
        Extract.scrapeTime().as("采集时间"))
      .select(col("id"), col("x.name").as("name"), col("zone"),
        col("x.address").as("address"), col("latitude"), col("longitude"),
        col("x.year_raw").as("year_raw"), col("x.build_type").as("build_type"),
        col("x.property_costs").as("property_costs"),
        col("x.property_company").as("property_company"),
        col("x.developers").as("developers"),
        col("x.buildings_raw").as("buildings_raw"),
        col("x.total_house_raw").as("total_house_raw"), col("采集时间"))

  /** The village page's (column name, xpath) pairs. */
  private[lianjia] val villageFields: Seq[(String, String)] = Seq(
    "name" -> "//h1[@class='detailTitle']/text()",
    "address" -> "//div[@class='detailDesc']/text()",
    "year_raw" -> "//span[@class='xiaoquInfoContent year']/text()",
    "build_type" -> "//li[span='建筑类型']/text()",
    "property_costs" -> "//li[span='物业费用']/text()",
    "property_company" -> "//li[span='物业公司']/text()",
    "developers" -> "//li[span='开发商']/text()",
    "buildings_raw" -> "//li[span='楼栋总数']/text()",
    "total_house_raw" -> "//li[span='房屋总数']/text()")

  /** G4 (fan-out half): village page → its two house-listing child urls
    * (`/ershoufang/c<id>` + `/chengjiao/c<id>`, lianjia.py:95-99) — the
    * FK 小区ID is born here. */
  def villageChildLinks(pages: DataFrame): DataFrame =
    pages
      .select(Extract.urlKey(col("url"), Base + "/xiaoqu/", "/").as("village_id"))
      .select(col("village_id"), explode(array(
        concat(lit(Base + "/ershoufang/c"), col("village_id")),
        concat(lit(Base + "/chengjiao/c"), col("village_id")))).as("url"))

  /** The label-sibling field block shared by on-sale and sold pages
    * (lianjia.py:131-153 / 192-214) — (column name, xpath) pairs feeding
    * one XPathStructExpr. */
  private[lianjia] val houseCommonFields: Seq[(String, String)] = Seq(
    "标题" -> "//h1[@class='main']/text()",
    "小区" -> "//div[@class='communityName']/a[1]/text()",
    "小区href" -> "//div[@class='communityName']/a[@class='info']/@href",
    "房屋户型" -> "//li[span='房屋户型']/text()",
    "所在楼层" -> "//li[span='所在楼层']/text()",
    "建筑面积_raw" -> "//li[span='建筑面积']/text()",
    "户型结构" -> "//li[span='户型结构']/text()",
    "套内面积_raw" -> "//li[span='套内面积']/text()",
    "建筑类型" -> "//li[span='建筑类型']/text()",
    "房屋朝向" -> "//li[span='房屋朝向']/text()",
    "装修情况" -> "//li[span='装修情况']/text()",
    "建筑结构" -> "//li[span='建筑结构']/text()",
    "梯户比例" -> "//li[span='梯户比例']/text()",
    "配备电梯" -> "//li[span='配备电梯']/text()",
    "供暖方式" -> "//li[span='供暖方式']/text()",
    "建成年代_raw" -> "//li[span='建成年代']/text()",
    "挂牌时间_raw" -> "//li[span='挂牌时间']/text()",
    "上次交易_raw" -> "//li[span='上次交易']/text()",
    "交易权属" -> "//li[span='交易权属']/text()",
    "房屋用途" -> "//li[span='房屋用途']/text()",
    "房屋年限" -> "//li[span='房屋年限']/text()",
    "产权所属" -> "//li[span='产权所属']/text()",
    "房权所属" -> "//li[span='房权所属']/text()",
    "抵押信息" -> "//li[span='抵押信息']/text()",
    "房源核验码" -> "//li[span='房源核验码']/text()",
    "房本备件" -> "//li[span='房本备件']/text()",
    "产权年限" -> "//li[span='产权年限']/text()")

  /** One-parse extraction: id/status/regex columns + ALL xpath fields via
    * a single struct, expanded to the 34-column bronze schema. */
  private def houseItems(pages: DataFrame, urlPrefix: String,
      status: String, extraFields: Seq[(String, String)]): DataFrame = {
    val fields = extraFields ++ houseCommonFields
    pages
      .select(
        Extract.urlKey(col("url"), Base + urlPrefix, ".html").as("房屋Id"),
        lit(status).as("状态"),
        graft.plans.XPathStructExpr.xpathStruct(col("html"), fields).as("x"),
        Extract.scrapeTime().as("采集时间"))
      .select(Seq(col("房屋Id"), col("状态")) ++
        fields.map { case (name, _) => col(s"x.$name").as(name) } :+
        col("采集时间"): _*)
      .withColumn("小区ID", Extract.urlKey(col("小区href"), "/xiaoqu/", "/"))
      .drop("小区href")
  }

  /** G6: on-sale house detail page → one bronze house row (状态=在售). */
  def onsaleHouseItems(pages: DataFrame): DataFrame =
    houseItems(pages, "/ershoufang/", "在售", onsaleFields)

  private[lianjia] val onsaleFields: Seq[(String, String)] = Seq(
    "售价_raw" -> "//span[@class='total']/text()",
    "关注人数_raw" -> "//span[@class='count']/text()",
    "链家编号" -> "//li[span='链家编号']/text()")

  /** G8: sold house detail page → one bronze house row (状态=成交).
    * Sold rows fill 成交价/成交时间, lack 关注人数/链家编号 — the sparse
    * union shape (FIXTURES A2). */
  def soldHouseItems(pages: DataFrame): DataFrame =
    houseItems(pages, "/chengjiao/", "成交", soldFields)

  private[lianjia] val soldFields: Seq[(String, String)] = Seq(
    "成交价_raw" -> "//span[@class='dealTotalPrice']/i/text()",
    "售价_raw" -> "//div[@class='price']/b/text()",
    "成交时间_raw" -> "//div[@class='wrapper']/text()")

  /** on-sale ∪ sold into the single house table (SURVEY §2.8 union;
    * missing columns null-filled). */
  def unionHouses(onsale: DataFrame, sold: DataFrame): DataFrame =
    onsale.unionByName(sold, allowMissingColumns = true)

  /** Bronze → silver typing stage (FIXTURES A1/A2 silver column types):
    * the cleansing casts the reference interleaves with extraction,
    * isolated as one testable operator. */
  def typedVillages(bronze: DataFrame): DataFrame =
    bronze
      .withColumn("year", Extract.leadingInt(col("year_raw"))).drop("year_raw")
      .withColumn("buildings", Extract.leadingInt(col("buildings_raw"))).drop("buildings_raw")
      .withColumn("total_house", Extract.leadingInt(col("total_house_raw"))).drop("total_house_raw")
      // 0-sentinel geo → null (lianjia.py:64-65 failure sentinel)
      .withColumn("latitude", nullif(col("latitude"), lit(0.0)))
      .withColumn("longitude", nullif(col("longitude"), lit(0.0)))

  def typedHouses(bronze: DataFrame): DataFrame = {
    val withCommon = bronze
      .withColumn("建筑面积", Extract.leadingDouble(col("建筑面积_raw"))).drop("建筑面积_raw")
      .withColumn("套内面积", Extract.leadingDouble(col("套内面积_raw"))).drop("套内面积_raw")
      .withColumn("售价", Extract.leadingDouble(col("售价_raw")).cast("decimal(12,2)")).drop("售价_raw")
      .withColumn("挂牌时间", to_date(col("挂牌时间_raw"))).drop("挂牌时间_raw")
      .withColumn("上次交易", to_date(col("上次交易_raw"))).drop("上次交易_raw")
      .withColumn("建成年代", Extract.leadingInt(col("建成年代_raw"))).drop("建成年代_raw")
    val sold = Seq("成交价_raw", "成交时间_raw", "关注人数_raw")
      .filter(withCommon.columns.contains)
    sold.foldLeft(withCommon) {
      case (df, "成交价_raw") => df.withColumn("成交价",
        Extract.leadingDouble(col("成交价_raw")).cast("decimal(12,2)")).drop("成交价_raw")
      case (df, "成交时间_raw") => df.withColumn("成交时间",
        Extract.dealDate(col("成交时间_raw"))).drop("成交时间_raw")
      case (df, "关注人数_raw") => df.withColumn("关注人数",
        Extract.leadingInt(col("关注人数_raw"))).drop("关注人数_raw")
      case (df, _) => df
    }
  }
}
