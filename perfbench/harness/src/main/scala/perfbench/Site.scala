package perfbench

import java.time.LocalDate
import scala.collection.mutable
import scala.util.Random

/** A synthetic, pre-fetched `sh.lianjia.com`, generated from a seed, in
  * the page shapes the reference spider parses: a root page of districts,
  * paginated village lists per district, village pages, paginated on-sale
  * (`/ershoufang/c<id>`) and sold (`/chengjiao/c<id>`) listings per
  * village, and house detail pages, about a third of them tag soup
  * (unclosed `<li>`, void tags, bare `&`, named entities).
  *
  * The generator also returns what a correct crawl must produce: every
  * page url, and each village's and house's typed field values.
  */
object Site {
  val Base: String = graft.lianjia.Pipeline.Base
  val ListPageSize = 10

  final case class Village(id: String, slug: String, district: String, area: String,
      name: String, address: String, geo: Option[(String, String)], year: Int,
      buildType: String, propertyCosts: String, company: String, developer: String,
      buildings: Int, totalHouse: Int)

  final case class House(id: String, sold: Boolean, village: Village, title: String,
      layout: String, floor: String, area: String, inner: Option[String],
      built: Option[Int], listed: LocalDate, lastDeal: Option[LocalDate],
      orientation: String, decoration: String, elevator: String, price: String,
      dealPrice: Option[String], dealDate: Option[LocalDate], followers: Option[Int],
      verifyCode: String, soup: Boolean)

  final case class Generated(pages: Vector[(String, String)], villages: Vector[Village],
      houses: Vector[House])

  private val Districts = Vector(
    "pudong" -> "浦东", "minhang" -> "闵行", "baoshan" -> "宝山", "xuhui" -> "徐汇",
    "putuo" -> "普陀", "yangpu" -> "杨浦", "changning" -> "长宁", "songjiang" -> "松江",
    "jiading" -> "嘉定", "huangpu" -> "黄浦", "jingan" -> "静安", "hongkou" -> "虹口")
  private val Areas = Vector("联洋", "张江", "花木", "莘庄", "七宝", "大华", "田林", "长风",
    "五角场", "中山公园", "九亭", "江桥", "打浦桥", "大宁", "曲阳")
  private val NameHeads = Vector("金桥", "锦绣", "世纪", "阳光", "翠湖", "春江", "香樟",
    "紫藤", "银杏", "海上", "东方", "和平", "永安", "长乐", "静安")
  private val NameTails = Vector("花园", "苑", "新村", "公寓", "小区", "家园", "名邸", "华庭")
  private val Roads = Vector("张杨", "龙阳", "沪闵", "漕溪", "中山北", "长寿", "淮海中",
    "延安西", "四平", "控江", "共和新")
  private val Layouts = Vector("1室1厅", "2室1厅", "2室2厅", "3室1厅", "3室2厅", "4室2厅")
  private val Floors = Vector("低楼层", "中楼层", "高楼层")
  private val Orientations = Vector("南", "南 北", "东南", "西南", "东", "西")
  private val Decorations = Vector("精装", "简装", "毛坯", "其他")
  private val BuildTypes = Vector("板楼", "塔楼", "板塔结合")
  private val Companies = Vector("上海陆家嘴物业管理有限公司", "上海科瑞物业管理发展有限公司",
    "上海东湖物业管理有限公司", "上海徐房物业管理有限公司")
  private val Developers = Vector("上海金桥置业有限公司", "上海城开集团", "万科地产", "绿地集团")
  private val Tags = Vector("满五唯一", "近地铁", "南北通透", "随时看房", "业主自住")

  /** The site for `seed`. Sizes are fixed, so every seed does the same
    * amount of work; the seed decides names, values, ids, how houses
    * spread over villages (and so the listing pagination) and which
    * pages are tag soup. */
  def generate(seed: Long, districts: Int = 4, villages: Int = 40,
      onsale: Int = 400, sold: Int = 300): Generated = {
    val rng = new Random(seed)
    def pick[T](v: Vector[T]): T = v(rng.nextInt(v.size))
    val usedIds = mutable.HashSet[Long]()
    def freshId(prefix: Long, width: Long): String = {
      var id = prefix + (rng.nextLong() & Long.MaxValue) % width
      while (!usedIds.add(id)) id = prefix + (rng.nextLong() & Long.MaxValue) % width
      id.toString
    }
    val ds = rng.shuffle(Districts).take(districts)
    val vs = Vector.tabulate(villages) { i =>
      val (slug, district) = ds(i % districts)
      val geo = rng.nextInt(20) match {
        case 0 => None
        case 1 => Some(("0", "0"))
        case _ => Some((f"121.${rng.nextInt(1000000)}%06d", f"31.${rng.nextInt(1000000)}%06d"))
      }
      Village(freshId(5011000000000L, 1000000000L), slug, district, pick(Areas),
        s"${pick(NameHeads)}${pick(NameTails)}${i + 1}号", s"${district}区${pick(Roads)}路${1 + rng.nextInt(999)}弄",
        geo, 1980 + rng.nextInt(40), pick(BuildTypes), f"${0.5 + rng.nextInt(30) / 10.0}%.1f元/平米/月",
        pick(Companies), pick(Developers), 1 + rng.nextInt(40), 50 + rng.nextInt(2000))
    }
    // skewed spread of houses over villages: some villages list nothing sold
    val weights = vs.map(_ => 1 + rng.nextInt(4) * rng.nextInt(4))
    val cumulative = weights.scanLeft(0)(_ + _).tail
    def someVillage(): Village = {
      val r = rng.nextInt(cumulative.last)
      vs(cumulative.indexWhere(_ > r))
    }
    def day(from: LocalDate, days: Int) = from.plusDays(rng.nextInt(days).toLong)
    def house(sold: Boolean): House = {
      val v = someVillage()
      val area = f"${40 + rng.nextInt(160)}.${rng.nextInt(100)}%02d"
      val listed = day(LocalDate.of(2019, 1, 1), 1500)
      val price = s"${100 + rng.nextInt(1900)}${if (rng.nextBoolean()) "." + rng.nextInt(10) else ""}"
      House(freshId(if (sold) 1071000000000L else 1070000000000L, 1000000000L), sold, v,
        s"${pick(Layouts)} ${pick(Tags)} & ${pick(Tags)}", pick(Layouts),
        s"${pick(Floors)} (共${5 + rng.nextInt(30)}层)", area,
        if (rng.nextInt(3) == 0) None else Some(f"${30 + rng.nextInt(100)}.${rng.nextInt(10)}"),
        if (rng.nextInt(8) == 0) None else Some(v.year), listed,
        if (rng.nextBoolean()) Some(day(LocalDate.of(2005, 1, 1), 4000)) else None,
        pick(Orientations), pick(Decorations), if (rng.nextBoolean()) "有" else "无", price,
        if (sold) Some(s"${80 + rng.nextInt(1900)}") else None,
        if (sold) Some(day(listed, 300)) else None,
        if (sold) None else Some(rng.nextInt(500)),
        f"${rng.nextInt(100000000)}%08d", rng.nextInt(3) == 0)
    }
    val hs = Vector.fill(onsale)(house(sold = false)) ++ Vector.fill(sold)(house(sold = true))

    val pages = Vector.newBuilder[(String, String)]
    pages += s"$Base/xiaoqu/" -> rootPage(ds.map(_._1))
    for ((slug, _) <- ds) {
      val mine = vs.filter(_.slug == slug).map(v => s"$Base/xiaoqu/${v.id}/")
      listingPages(s"$Base/xiaoqu/$slug/", mine).foreach(pages += _)
    }
    val bySold = hs.groupBy(h => (h.village.id, h.sold))
    for (v <- vs) {
      pages += s"$Base/xiaoqu/${v.id}/" -> villagePage(v)
      for ((sold, dir) <- Seq(false -> "ershoufang", true -> "chengjiao")) {
        val mine = bySold.getOrElse((v.id, sold), Vector.empty)
          .sortBy(_.id).map(h => s"$Base/$dir/${h.id}.html")
        listingPages(s"$Base/$dir/c${v.id}", mine).foreach(pages += _)
      }
    }
    hs.foreach(h => pages += houseUrl(h) -> housePage(h))
    Generated(pages.result(), vs, hs)
  }

  def houseUrl(h: House): String =
    s"$Base/${if (h.sold) "chengjiao" else "ershoufang"}/${h.id}.html"

  private def esc(s: String) = s.replace("&", "&amp;")

  private def rootPage(slugs: Seq[String]): String =
    slugs.map(s => s"""<a href="/xiaoqu/$s/" title="$s">$s</a>""")
      .mkString("<html><body><div class=\"position\"><div data-role=\"ershoufang\">", "\n",
        "</div></div></body></html>")

  /** Page 1 at `first`, page n at `first + "pg" + n`; an empty listing is
    * one page with a zero total (the spider's `total > 0` guard). */
  private def listingPages(first: String, links: Seq[String]): Seq[(String, String)] = {
    val chunks = if (links.isEmpty) Seq(Seq.empty[String]) else links.grouped(ListPageSize).toSeq
    chunks.zipWithIndex.map { case (chunk, i) =>
      val url = if (i == 0) first else s"${first}pg${i + 1}"
      val items = chunk.map(l => s"""<li class="clear"><a href="$l" target="_blank">详情</a></li>""")
      url -> (s"""<html><body><div class="content" data-total-count="${links.size}"><ul class="sellListContent">""" +
        items.mkString("\n") + "</ul></div>" +
        s"""<div class="page-box house-lst-page-box" page-data='{"totalPage":${chunks.size},"curPage":${i + 1}}'></div>""" +
        "</body></html>")
    }
  }

  private def villagePage(v: Village): String = {
    val geo = v.geo.fold("")(g => s"<script>window.detail={resblockPosition:'${g._1},${g._2}',x:1}</script>")
    s"""<html><body>
       |<div class="fl l-txt"><a class="crumb" href="/xiaoqu/${v.slug}/">${v.district}</a> &gt; <a class="crumb" href="/xiaoqu/${v.slug}/">${v.area}</a></div>
       |<div class="xiaoquDetailHeader"><h1 class="detailTitle">${v.name}</h1><div class="detailDesc">${v.address}</div></div>
       |<div class="xiaoquInfo"><div class="xiaoquInfoItem"><span class="xiaoquInfoLabel">建筑年代</span><span class="xiaoquInfoContent year">${v.year}年建成</span></div>
       |<ul><li><span>建筑类型</span>${v.buildType}</li><li><span>物业费用</span>${v.propertyCosts}</li>
       |<li><span>物业公司</span>${v.company}</li><li><span>开发商</span>${v.developer}</li>
       |<li><span>楼栋总数</span>${v.buildings}栋</li><li><span>房屋总数</span>${v.totalHouse}户</li></ul></div>
       |$geo</body></html>""".stripMargin
  }

  private def housePage(h: House): String = {
    // tag soup: unclosed <li>, void tags, a bare & and a named entity
    val endLi = if (h.soup) "" else "</li>"
    def li(label: String, value: String) = s"""<li><span class="label">$label</span>$value$endLi"""
    val title = if (h.soup) h.title else esc(h.title)
    val head = if (h.sold)
      s"""<div class="price"><span class="dealTotalPrice"><i>${h.dealPrice.get}</i>万</span><b>${h.price}</b></div>
         |<div class="wrapper">${h.dealDate.get.toString.replace('-', '.')} 成交</div>""".stripMargin
    else
      s"""<div class="overview"><span class="total">${h.price}</span><span class="unit">万</span>
         |<span class="count">${h.followers.get}</span>人关注</div>""".stripMargin
    val soupNoise = if (h.soup) "<br><img src=/p.png>看房请提前预约 & 联系经纪人&nbsp;<br>" else "<br/>"
    val base = Seq(
      Some(li("房屋户型", h.layout)), Some(li("所在楼层", h.floor)),
      Some(li("建筑面积", s"${h.area}㎡")), Some(li("户型结构", "平层")),
      Some(li("套内面积", h.inner.fold("暂无数据")(_ + "㎡"))),
      Some(li("建筑类型", h.village.buildType)), Some(li("房屋朝向", h.orientation)),
      Some(li("建筑结构", "钢混结构")), Some(li("装修情况", h.decoration)),
      Some(li("梯户比例", "一梯两户")), Some(li("配备电梯", h.elevator)),
      h.built.map(y => li("建成年代", s"${y}年建"))).flatten
    val transaction = Seq(
      Some(li("挂牌时间", h.listed.toString)), Some(li("交易权属", "商品房")),
      h.lastDeal.map(d => li("上次交易", d.toString)), Some(li("房屋用途", "普通住宅")),
      Some(li("房屋年限", "满五年")), Some(li("抵押信息", "无抵押")),
      Some(li("房源核验码", h.verifyCode)),
      if (h.sold) None else Some(li("链家编号", h.id))).flatten
    s"""<html><body><div class="title"><h1 class="main">$title</h1></div>
       |$head
       |<div class="communityName"><span class="label">小区名称</span><a href="/xiaoqu/${h.village.id}/" target="_blank" class="info">${h.village.name}</a></div>
       |$soupNoise
       |<div class="base"><ul>${base.mkString("\n")}</ul></div>
       |<div class="transaction"><ul>${transaction.mkString("\n")}</ul></div>
       |</body></html>""".stripMargin
  }

  // ---- what a correct crawl produces ----------------------------------

  val VillageColumns: Seq[String] = Seq("id", "name", "zone", "address", "latitude",
    "longitude", "year", "build_type", "property_costs", "property_company", "developers",
    "buildings", "total_house")

  def villageRow(v: Village): Seq[Any] = {
    val (lng, lat) = v.geo match {
      case Some((x, y)) if x.toDouble != 0.0 => (x.toDouble, y.toDouble)
      case _ => (null, null)
    }
    Seq(v.id, v.name, Seq(v.district, v.area), v.address, lat, lng, v.year, v.buildType,
      v.propertyCosts, v.company, v.developer, v.buildings, v.totalHouse)
  }

  val HouseColumns: Seq[String] = Seq("房屋Id", "状态", "小区ID", "标题", "小区", "房屋户型",
    "所在楼层", "建筑面积", "户型结构", "套内面积", "建筑类型", "房屋朝向", "建筑结构", "装修情况",
    "梯户比例", "配备电梯", "供暖方式", "建成年代", "挂牌时间", "交易权属", "上次交易", "房屋用途",
    "房屋年限", "产权所属", "房权所属", "抵押信息", "房源核验码", "房本备件", "产权年限", "链家编号",
    "售价", "成交价", "成交时间", "关注人数")

  def money(s: String): java.math.BigDecimal =
    new java.math.BigDecimal(s).setScale(2, java.math.RoundingMode.HALF_UP)

  def houseRow(h: House): Seq[Any] = Seq(h.id, if (h.sold) "成交" else "在售", h.village.id,
    h.title, h.village.name, h.layout, h.floor, h.area.toDouble, "平层",
    h.inner.map(_.toDouble).orNull, h.village.buildType, h.orientation, "钢混结构",
    h.decoration, "一梯两户", h.elevator, null, h.built.orNull, h.listed, "商品房",
    h.lastDeal.orNull, "普通住宅", "满五年", null, null, "无抵押", h.verifyCode, null, null,
    if (h.sold) null else h.id, money(h.price), h.dealPrice.map(money).orNull,
    h.dealDate.orNull, h.followers.orNull)
}
