package graft.lianjia

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML/JS extraction primitives — the Spark-native equivalents of the
  * reference's parsel/CSS/XPath extraction surface (SURVEY §2.2 P1/P2,
  * §2.9 C1-C15).
  *
  * Design: pure built-in expressions (`regexp_extract`, `from_json`,
  * `regexp_extract_all`) plus the native one-parse XPath expressions
  * (`XPathStructExpr`/`XPathArrayExpr`) — codegen'd, or one parse per
  * page, null-safe (extraction miss → null/empty, the reference's
  * `extract_first() → None` semantics, F4), no UDFs. The XPath
  * expressions read every page through one parser, `HtmlSoup.parse`,
  * which builds the same tree for well-formed pages and broken
  * real-world markup (unclosed tags, bare `&`, HTML entities), so both
  * extract like parsel/lxml does in the reference. The struct form reads
  * every field whose path has `Pipeline`'s shapes from one walk of that
  * tree (`plans/XPathWalk`) and any other path through JAXP. CSS selectors
  * (`cssFirst`/`cssAll`) translate to XPath at plan time via
  * `Css.toXPath`.
  */
object Extract {

  /** All href targets in a page — the link fan-out primitive under
    * G1/G2/G3/G5/G7 (reference `css('a::attr(href)')`, lianjia.py:32,40,48).
    * Returns ARRAY<STRING>; explode downstream. */
  def hrefs(html: Column): Column =
    regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1))

  /** hrefs restricted to those matching a pattern (the reference selects
    * by container class; pattern-on-target is the robust equivalent). */
  def hrefsMatching(html: Column, urlPattern: String): Column =
    filter(hrefs(html), u => u.rlike(urlPattern))

  /** First text content of an element matched by XPath (reference's
    * label-sibling lookups, lianjia.py:131-153: `li[span="房屋户型"]`).
    * Backed by the struct expression (1 field) over `HtmlSoup.parse`, so
    * tag-soup pages extract instead of nulling out; built-in
    * `xpath_string` would die on the first unclosed tag. */
  def xpathFirst(html: Column, xpath: String): Column =
    graft.plans.XPathStructExpr.xpathStruct(html, Seq("v" -> xpath)).getField("v")

  /** First text/attr matched by a CSS selector (reference's
    * `css('.resultDes .total span::text').extract_first()`,
    * lianjia.py:77-88,105,127-130). The selector compiles to XPath at
    * plan time — P1 class-scoped extraction, not just href-regex. */
  def cssFirst(html: Column, selector: String): Column =
    xpathFirst(html, Css.toXPath(selector))

  /** ALL matches of a CSS selector (reference's `.extract()` list form,
    * lianjia.py:32,48,63,109) as ARRAY<STRING>; explode downstream. */
  def cssAll(html: Column, selector: String): Column =
    graft.plans.XPathStructExpr.xpathAll(html, Css.toXPath(selector))

  /** The `page-data='{"curPage":1,"totalPage":3}'` pagination descriptor
    * (lianjia.py:53-54,113-114,173-174): attribute regex + from_json →
    * STRUCT<curPage INT, totalPage INT> (C9). */
  def pageData(html: Column): Column =
    from_json(
      nullif(regexp_extract(html, "page-data='([^']*)'", 1), lit("")),
      org.apache.spark.sql.types.StructType.fromDDL("curPage INT, totalPage INT"))

  /** Geo coordinates embedded in JS (lianjia.py:66-73):
    * `resblockPosition:'lng,lat'` → (lng, lat) doubles, null on miss —
    * the try/except→null guard F4 as null-safe expressions (C4/C5/C6). */
  def geoLng(html: Column): Column = geoPart(html, 1)
  def geoLat(html: Column): Column = geoPart(html, 2)
  private def geoPart(html: Column, group: Int): Column =
    nullif(regexp_extract(regexp_replace(html, "\r", ""),
      "resblockPosition:'([0-9.]+),([0-9.]+)'", group), lit("")).cast("double")

  /** Total-listing-count guard input (F1: `total > 0`,
    * lianjia.py:105-107). */
  def totalCount(html: Column): Column =
    nullif(regexp_extract(html, "data-total-count=\"(\\d+)\"", 1), lit("")).cast("int")

  /** URL-derived key (C2): strip prefix/suffix from a URL to get the
    * entity id — reference `url.replace(...)`, lianjia.py:76,126,184. */
  def urlKey(url: Column, prefix: String, suffix: String): Column =
    regexp_replace(regexp_replace(url, java.util.regex.Pattern.quote(suffix) + "$", ""),
      "^" + java.util.regex.Pattern.quote(prefix), "")

  /** "1998年建成" / "12栋" / "500户" / "123.45㎡" → leading number (C7,
    * silver typing: FIXTURES A1/A2). */
  def leadingInt(s: Column): Column =
    nullif(regexp_extract(s, "(\\d+)", 1), lit("")).cast("int")
  def leadingDouble(s: Column): Column =
    nullif(regexp_extract(s, "(\\d+(?:\\.\\d+)?)", 1), lit("")).cast("double")

  /** 成交时间 "2021.03.15 成交" → DATE (C11/C12, lianjia.py:216). */
  def dealDate(s: Column): Column =
    to_date(regexp_extract(s, "(\\d{4}[.]\\d{1,2}[.]\\d{1,2})", 1), "yyyy.M.d")

  /** Breadcrumb zone list (C3 inverse: the reference flattens with
    * ','.join; we keep the array — stock `array_join(zone, ",")` gives
    * the joined form). */
  def zoneArray(html: Column): Column =
    filter(transform(
      regexp_extract_all(html, lit("<a[^>]*class=\"crumb\"[^>]*>([^<]+)</a>"), lit(1)),
      s => trim(s)), s => s =!= "")

  /** Scrape-time stamp (C10) — UTC where the reference used machine-local
    * time (documented divergence, SURVEY §7.4). */
  def scrapeTime(): Column = date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")
}
