package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.UrlFns
import graft.sources.Tables

/** URL/domain analytics — the frontier-accounting face of a crawler:
  * per-registrable-domain page counts, host fan-out, and depth profile
  * are what politeness budgeting and crawl scheduling key on.
  */
object WebQueries {

  /** Per-domain crawl-budget rollup. The corpus carries no URL column,
    * so the query derives a deterministic URL per document (subdomain,
    * TLD, path shape, and an optional ?page= all functions of doc_id /
    * source / lang), then decomposes it with Spark's `parse_url` family
    * (`UrlFns`). The DuckDB twin re-derives the same URLs and splits
    * them with anchored regexes — on well-formed URLs the java.net.URI
    * and regex decompositions must agree, and the hash check proves they
    * do. `nullif` mirrors parse_url's null-on-absent query param. */
  val q79DomainBudget = Q(
    "q79_domain_budget",
    """WITH urls AS (
      |  SELECT doc_id,
      |    'https://' ||
      |      CASE doc_id % 3 WHEN 0 THEN 'www' WHEN 1 THEN 'm' ELSE 'static' END ||
      |      '.' || source ||
      |      CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN '.com' ELSE '.org' END ||
      |      CASE WHEN doc_id % 4 = 0 THEN '/' || lang
      |           ELSE '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) END ||
      |      CASE WHEN doc_id % 5 = 0 THEN ''
      |           ELSE '?page=' || CAST(doc_id % 7 AS VARCHAR) END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id, url,
      |    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
      |    regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
      |    nullif(regexp_extract(url, '[?&]page=([^&#]*)', 1), '') AS page
      |  FROM urls)
      |SELECT
      |  string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] AS domain,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
      |  CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
      |  round(avg(len(string_split(path, '/')) - 1), 4) AS avg_depth,
      |  CAST(count(page) AS BIGINT) AS n_paged,
      |  CAST(sum(CAST(page AS INT)) AS BIGINT) AS page_total
      |FROM parts
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val url = concat(
      lit("https://"),
      element_at(array(lit("www"), lit("m"), lit("static")),
        (col("doc_id") % 3).cast("int") + 1),
      lit("."), col("source"),
      when(substring(col("source"), 4, 10).cast("int") % 2 === 0, ".com").otherwise(".org"),
      when(col("doc_id") % 4 === 0, concat(lit("/"), col("lang")))
        .otherwise(concat(lit("/"), col("lang"), lit("/doc/"), col("doc_id").cast("string"))),
      when(col("doc_id") % 5 === 0, "")
        .otherwise(concat(lit("?page="), (col("doc_id") % 7).cast("string"))))
    Tables.documents(spark, dir)
      .select(col("doc_id"), url.as("url"))
      .select(col("url"),
        UrlFns.host(col("url")).as("host"),
        UrlFns.registrableDomain(col("url")).as("domain"),
        UrlFns.path(col("url")).as("path"),
        UrlFns.pathDepth(col("url")).as("depth"),
        UrlFns.queryParam(col("url"), "page").as("page"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        countDistinct(col("path")).as("n_paths"),
        round(avg(col("depth")), 4).as("avg_depth"),
        count(col("page")).as("n_paged"),
        sum(col("page").cast("int")).as("page_total"))
      .orderBy(col("domain"))
  }

  /** The reference's core surface — multi-field house-page extraction
    * (`lianjia.py:121-159` on-sale, `59-92` village) — through the
    * DRIVER gate for the first time (r7 verdict missing-item #1: G4/G6/
    * G8 were verified only by ScalaTest golden fixtures, because jsoup
    * can't run in DuckDB). The q79 trick closes the gap: both engines
    * synthesize the IDENTICAL deterministic house-detail page per
    * order — title header, communityName anchor pair, data-hid
    * attribute, and the label-sibling `<li><span
    * class="label">LABEL</span>value</li>` block the reference's 34
    * fields ride on — then Spark extracts through the REAL path (ONE
    * XPathStructExpr parse for all fields: h1 text, positional a[1],
    * @attr, and four `//li[span='…']/text()` label-siblings, exactly
    * the registered house xpaths) while DuckDB replays the fields with
    * anchored regexes over its own copy of the same strings. Every 3rd
    * page gets a bare `<br>` — invalid XML — so the hash-checked gate,
    * not just the specs, checks HtmlSoup's one tree rule: an unclosed
    * void tag elsewhere on the page changes no field. Numeric
    * post-extraction (rooms from '3室2厅', area from '88.5平米') mirrors
    * the reference's F2 string→number guards. */
  val q136PageExtract = Q(
    "q136_page_extract",
    """WITH pages AS (
      |  SELECT o_orderkey AS okey,
      |    '<html><body><div class="sellDetailHeader"><h1 class="main">House '
      |      || CAST(o_orderkey AS VARCHAR) || '</h1></div>'
      |    || CASE WHEN o_orderkey % 3 = 0 THEN '<br>' ELSE '' END
      |    || '<div class="communityName"><a class="info">V'
      |      || CAST(o_custkey % 50 AS VARCHAR)
      |      || '</a><a class="sub">map</a></div>'
      |    || '<div class="houseRecord"><span class="info" data-hid="H'
      |      || CAST(o_orderkey AS VARCHAR)
      |      || '">record</span></div><div class="base"><ul>'
      |    || '<li><span class="label">房屋户型</span>'
      |      || CAST(o_orderkey % 5 + 1 AS VARCHAR) || '室'
      |      || CAST(o_orderkey % 3 + 1 AS VARCHAR) || '厅</li>'
      |    || '<li><span class="label">建筑面积</span>'
      |      || CAST(o_orderkey % 200 + 50 AS VARCHAR) || '.5平米</li>'
      |    || '<li><span class="label">所在楼层</span>中楼层(共'
      |      || CAST(o_orderkey % 30 + 2 AS VARCHAR) || '层)</li>'
      |    || '<li><span class="label">配备电梯</span>'
      |      || CASE WHEN o_orderkey % 2 = 0 THEN '有' ELSE '无' END || '</li>'
      |    || '</ul></div></body></html>' AS html
      |  FROM orders WHERE o_orderkey % 20 = 0),
      |x AS (
      |  SELECT okey,
      |    regexp_extract(html, '<h1 class="main">([^<]*)</h1>', 1) AS title,
      |    regexp_extract(html, '<div class="communityName"><a class="info">([^<]*)</a>', 1) AS village,
      |    regexp_extract(html, 'data-hid="([^"]*)"', 1) AS hid,
      |    regexp_extract(html, '<span class="label">房屋户型</span>([^<]*)</li>', 1) AS layout,
      |    regexp_extract(html, '<span class="label">建筑面积</span>([^<]*)</li>', 1) AS area_raw,
      |    regexp_extract(html, '<span class="label">所在楼层</span>([^<]*)</li>', 1) AS floor_info,
      |    regexp_extract(html, '<span class="label">配备电梯</span>([^<]*)</li>', 1) AS elevator
      |  FROM pages)
      |SELECT okey, title, village, hid, layout,
      |  CAST(regexp_extract(layout, '([0-9]+)室', 1) AS INT) AS rooms,
      |  CAST(regexp_extract(area_raw, '([0-9]+\.[0-9])平米', 1) AS DOUBLE) AS area_sqm,
      |  floor_info, elevator
      |FROM x ORDER BY okey""".stripMargin) { (spark, dir) =>
    val k = col("o_orderkey")
    val html = concat(
      lit("<html><body><div class=\"sellDetailHeader\"><h1 class=\"main\">House "),
      k.cast("string"), lit("</h1></div>"),
      when(k % 3 === 0, "<br>").otherwise(""),
      lit("<div class=\"communityName\"><a class=\"info\">V"),
      (col("o_custkey") % 50).cast("string"),
      lit("</a><a class=\"sub\">map</a></div>"),
      lit("<div class=\"houseRecord\"><span class=\"info\" data-hid=\"H"),
      k.cast("string"), lit("\">record</span></div><div class=\"base\"><ul>"),
      lit("<li><span class=\"label\">房屋户型</span>"),
      (k % 5 + 1).cast("string"), lit("室"), (k % 3 + 1).cast("string"), lit("厅</li>"),
      lit("<li><span class=\"label\">建筑面积</span>"),
      (k % 200 + 50).cast("string"), lit(".5平米</li>"),
      lit("<li><span class=\"label\">所在楼层</span>中楼层(共"),
      (k % 30 + 2).cast("string"), lit("层)</li>"),
      lit("<li><span class=\"label\">配备电梯</span>"),
      when(k % 2 === 0, "有").otherwise("无"), lit("</li>"),
      lit("</ul></div></body></html>"))
    Tables.orders(spark, dir)
      .filter(k % 20 === 0)
      .select(k.as("okey"), html.as("html"))
      .select(col("okey"),
        graft.plans.XPathStructExpr.xpathStruct(col("html"), Seq(
          "title" -> "//h1[@class='main']/text()",
          "village" -> "//div[@class='communityName']/a[1]/text()",
          "hid" -> "//div[@class='houseRecord']/span/@data-hid",
          "layout" -> "//li[span='房屋户型']/text()",
          "area_raw" -> "//li[span='建筑面积']/text()",
          "floor_info" -> "//li[span='所在楼层']/text()",
          "elevator" -> "//li[span='配备电梯']/text()")).as("x"))
      .select(col("okey"),
        col("x.title").as("title"), col("x.village").as("village"),
        col("x.hid").as("hid"), col("x.layout").as("layout"),
        regexp_extract(col("x.layout"), "([0-9]+)室", 1).cast("int").as("rooms"),
        regexp_extract(col("x.area_raw"), "([0-9]+\\.[0-9])平米", 1)
          .cast("double").as("area_sqm"),
        col("x.floor_info").as("floor_info"), col("x.elevator").as("elevator"))
      .orderBy(col("okey"))
  }

  /** robots.txt compliance filter (`operators/Robots`, RFC 9309
    * longest-match core — the reference's ROBOTSTXT_OBEY surface,
    * settings.py:22): a deterministic per-domain rule set (Disallow
    * /private, Allow /private/ok — longest-match precedence with an
    * Allow overriding its Disallow parent — plus a per-domain-parity
    * /tmp rule) evaluated over per-document URL paths; per-domain
    * allowed/blocked census. The oracle replays prefix-match +
    * (length DESC, allow-first) winner selection relationally. */
  val q156RobotsFilter = Q(
    "q156_robots_filter",
    """WITH src AS (SELECT DISTINCT source FROM documents),
      |rules AS (
      |  SELECT source, '/private' AS rp, false AS allow FROM src
      |  UNION ALL SELECT source, '/private/ok', true FROM src
      |  UNION ALL SELECT source, '/tmp',
      |    CAST(substr(source, 4) AS INT) % 2 = 1 FROM src),
      |urls AS (
      |  SELECT doc_id, source,
      |    CASE doc_id % 5
      |      WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
      |      WHEN 1 THEN '/private/ok/p' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN '/pub/p' || CAST(doc_id AS VARCHAR)
      |      WHEN 3 THEN '/tmp/t' || CAST(doc_id AS VARCHAR)
      |      ELSE '/' END AS path
      |  FROM documents),
      |cand AS (
      |  SELECT u.doc_id, r.allow,
      |    row_number() OVER (PARTITION BY u.doc_id
      |      ORDER BY length(r.rp) DESC,
      |        CASE WHEN r.allow THEN 0 ELSE 1 END) AS rn
      |  FROM urls u JOIN rules r
      |    ON u.source = r.source AND starts_with(u.path, r.rp)),
      |win AS (SELECT doc_id, allow FROM cand WHERE rn = 1),
      |verdict AS (
      |  SELECT u.source, coalesce(w.allow, true) AS allowed
      |  FROM urls u LEFT JOIN win w ON u.doc_id = w.doc_id)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
      |  CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT) AS n_blocked
      |FROM verdict GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import graft.operators.Robots
    val src = Tables.documents(spark, dir).select(col("source")).distinct()
    val rules = src.select(col("source").as("domain"), lit("/private").as("rp"),
        lit(false).as("allow"))
      .unionByName(src.select(col("source").as("domain"),
        lit("/private/ok").as("rp"), lit(true).as("allow")))
      .unionByName(src.select(col("source").as("domain"), lit("/tmp").as("rp"),
        (substring(col("source"), 4, 10).cast("int") % 2 === 1).as("allow")))
    val urls = Tables.documents(spark, dir).select(
      col("doc_id").as("url_id"), col("source").as("domain"),
      when(col("doc_id") % 5 === 0, concat(lit("/private/p"), col("doc_id").cast("string")))
        .when(col("doc_id") % 5 === 1, concat(lit("/private/ok/p"), col("doc_id").cast("string")))
        .when(col("doc_id") % 5 === 2, concat(lit("/pub/p"), col("doc_id").cast("string")))
        .when(col("doc_id") % 5 === 3, concat(lit("/tmp/t"), col("doc_id").cast("string")))
        .otherwise(lit("/")).as("path"))
    Robots.evaluate(urls, rules)
      .groupBy(col("domain").as("source"))
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
        sum(when(col("allowed"), 0L).otherwise(1L)).as("n_blocked"))
      .orderBy(col("source"))
  }

  /** Sitemap-driven frontier extraction — the crawl-scheduling face of
    * the reference's pagination fan-out: per-document sitemap XML
    * (urlset/url/loc+lastmod, the sitemaps.org schema) is scanned with
    * `regexp_extract_all` into POSITIONALLY PAIRED loc/lastmod lists
    * (posexplode + element_at) in BOTH dialects — the r13 A/B
    * (probe removed, see git history at 894f351) measured the regex
    * serving path 2.4× faster than the pooled-DOM `xpath` form for this
    * fixed two-element schema, so general-XML XPath coverage stays on
    * q136's attribute-struct contract.
    * Already-visited locs (portable-hash bucket) are anti-joined away
    * and the frontier is budgeted per source with its lastmod window. */
  val q157SitemapFrontier = Q(
    "q157_sitemap_frontier",
    """WITH sm AS (
      |  SELECT doc_id, source,
      |    '<urlset>'
      |    || '<url><loc>https://' || source || '.example.com/d'
      |      || CAST(doc_id * 3 AS VARCHAR) || '</loc><lastmod>2024-01-'
      |      || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod></url>'
      |    || '<url><loc>https://' || source || '.example.com/d'
      |      || CAST(doc_id * 3 + 1 AS VARCHAR) || '</loc><lastmod>2024-01-'
      |      || lpad(CAST((doc_id + 7) % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod></url>'
      |    || '<url><loc>https://' || source || '.example.com/d'
      |      || CAST(doc_id * 3 + 2 AS VARCHAR) || '</loc><lastmod>2024-01-'
      |      || lpad(CAST((doc_id + 14) % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod></url>'
      |    || '</urlset>' AS xml
      |  FROM documents),
      |ex AS (
      |  SELECT source,
      |    regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1) AS locs,
      |    regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1) AS mods
      |  FROM sm),
      |pairs AS (
      |  SELECT source, locs[i] AS loc, mods[i] AS lastmod
      |  FROM ex, unnest(range(1, len(locs) + 1)) AS u(i)),
      |flag AS (
      |  SELECT source, lastmod,
      |    ('0x' || substr(md5(loc), 1, 15))::BIGINT % 3 <> 0 AS onf
      |  FROM pairs)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(sum(CASE WHEN onf THEN 1 ELSE 0 END) AS BIGINT) AS n_frontier,
      |  min(CASE WHEN onf THEN lastmod END) AS min_lastmod,
      |  max(CASE WHEN onf THEN lastmod END) AS max_lastmod
      |FROM flag GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    def entry(mul: Int, add: Int, shift: Int) = concat(
      lit("<url><loc>https://"), col("source"), lit(".example.com/d"),
      (col("doc_id") * mul + add).cast("string"), lit("</loc><lastmod>2024-01-"),
      lpad(((col("doc_id") + shift) % 28 + 1).cast("string"), 2, "0"),
      lit("</lastmod></url>"))
    val sm = Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      concat(lit("<urlset>"), entry(3, 0, 0), entry(3, 1, 7), entry(3, 2, 14),
        lit("</urlset>")).as("xml"))
    // Serving path: regexp_extract_all, index-paired — the sitemap XML
    // is SYNTHESIZED well-formed, so the codegen'd regex scan is
    // semantically exact here and measures 2.4× the one-parse native
    // XPath form (r13: 1.04 s vs 0.43 s warm at sf0.1; probe removed,
    // see git history at 894f351 — even a pooled DOM parse pays
    // object-tree allocation per row that a linear regex scan doesn't). General tag-soup XML keeps going
    // through XPathStructExpr/XPathArrayExpr, exercised by q136; this
    // query's contract is sitemaps.org-schema extraction, where the
    // regex is the right 100 TB constant factor.
    val pairs = sm
      .select(col("source"),
        regexp_extract_all(col("xml"), lit("<loc>([^<]*)</loc>"), lit(1)).as("locs"),
        regexp_extract_all(col("xml"), lit("<lastmod>([^<]*)</lastmod>"), lit(1)).as("mods"))
      .select(col("source"), col("mods"),
        posexplode(col("locs")).as(Seq("i0", "loc")))
      .select(col("source"), col("loc"),
        element_at(col("mods"), col("i0") + 1).as("lastmod"))
    val visited = (conv(substring(md5(col("loc")), 1, 15), 16, 10)
      .cast("long") % 3) === 0
    pairs
      .withColumn("on_frontier", !visited)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("on_frontier"), 1L).otherwise(0L)).as("n_frontier"),
        min(when(col("on_frontier"), col("lastmod"))).as("min_lastmod"),
        max(when(col("on_frontier"), col("lastmod"))).as("max_lastmod"))
      .orderBy(col("source"))
  }

  /** URL canonicalization (`UrlFns.canonicalizeUrl`) — the frontier
    * dupe-filter normalizer: each document yields two spellings of the
    * SAME resource (case-shuffled scheme/host, explicit :443, reordered
    * query params, fragment, trailing slash) plus, for even ids, one
    * genuinely distinct resource; after canonicalization the distinct
    * count must collapse to resources, not spellings. The oracle
    * replays the identical RE2 regex pipeline + sorted-query rebuild,
    * so the canonical STRINGS (not just counts — the distinct counts
    * gate them) agree byte-for-byte. */
  val q158UrlCanonical = Q(
    "q158_url_canonical",
    """WITH raw AS (
      |  SELECT source,
      |    'https://' || source || '.example.com/d' || CAST(doc_id AS VARCHAR)
      |      || '/?b=2&a=1#sec' AS url
      |  FROM documents
      |  UNION ALL
      |  SELECT source,
      |    'HTTPS://' || upper(source) || '.EXAMPLE.COM:443/d'
      |      || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS url
      |  FROM documents
      |  UNION ALL
      |  SELECT source,
      |    'https://' || source || '.example.com/other' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents WHERE doc_id % 2 = 0),
      |parts0 AS (
      |  SELECT source, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hp,
      |    regexp_replace(
      |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |      '/$', '') AS p0,
      |    coalesce(array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '&'),
      |      p -> p <> '')), '&'), '') AS sq
      |  FROM raw),
      |parts AS (
      |  SELECT source, url, sch,
      |    CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |         WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |         ELSE hp END AS h,
      |    p0, sq
      |  FROM parts0),
      |canon AS (
      |  SELECT source, url,
      |    sch || '://' || h || CASE WHEN p0 = '' THEN '/' ELSE p0 END
      |      || CASE WHEN sq = '' THEN '' ELSE '?' || sq END AS c
      |  FROM parts)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
      |  CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
      |  CAST(count(DISTINCT c) AS BIGINT) AS n_distinct_canonical
      |FROM canon GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val a = docs.select(col("source"),
      concat(lit("https://"), col("source"), lit(".example.com/d"),
        col("doc_id").cast("string"), lit("/?b=2&a=1#sec")).as("url"))
    val b = docs.select(col("source"),
      concat(lit("HTTPS://"), upper(col("source")), lit(".EXAMPLE.COM:443/d"),
        col("doc_id").cast("string"), lit("?a=1&b=2")).as("url"))
    val c = docs.filter(col("doc_id") % 2 === 0).select(col("source"),
      concat(lit("https://"), col("source"), lit(".example.com/other"),
        col("doc_id").cast("string")).as("url"))
    a.unionByName(b).unionByName(c)
      .withColumn("c", UrlFns.canonicalizeUrl(col("url")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("url")).as("n_distinct_raw"),
        countDistinct(col("c")).as("n_distinct_canonical"))
      .orderBy(col("source"))
  }

  /** Politeness-constrained crawl scheduling — the reference's
    * DOWNLOAD_DELAY/per-domain-concurrency surface (settings.py) as a
    * relational plan: at most ONE fetch per registrable domain per
    * wave, so wave k is each domain's k-th URL (row_number per domain)
    * and all of wave k fetches in parallel. The schedule length is
    * max(per-domain load) — the politeness bottleneck made visible —
    * and a per-domain budget cap (30) trims crawl-trap tails (q79's
    * budget story applied to ordering). One domain-partitioned window
    * at URL grain; the wave census is O(max load) rows. */
  val q178PolitenessWaves = Q(
    "q178_politeness_waves",
    """WITH urls AS (
      |  SELECT doc_id,
      |    string_split(regexp_extract(
      |      'https://' ||
      |        CASE doc_id % 3 WHEN 0 THEN 'www' WHEN 1 THEN 'm' ELSE 'static' END ||
      |        '.' || source ||
      |        CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
      |             THEN '.com' ELSE '.org' END ||
      |        '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR),
      |      '^[a-z]+://([^/?#]+)', 1), '.') AS hp
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, hp[-2] || '.' || hp[-1] AS domain FROM urls),
      |r AS (
      |  SELECT domain, doc_id,
      |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS wave,
      |    count(*) OVER (PARTITION BY domain) AS tot
      |  FROM d)
      |SELECT CAST(wave AS BIGINT) AS wave,
      |  CAST(count(*) AS BIGINT) AS n_scheduled,
      |  CAST(sum(CASE WHEN wave = least(tot, 30) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_domains_finishing
      |FROM r WHERE wave <= 30
      |GROUP BY wave ORDER BY wave""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val url = concat(
      lit("https://"),
      element_at(array(lit("www"), lit("m"), lit("static")),
        (col("doc_id") % 3).cast("int") + 1),
      lit("."), col("source"),
      when(substring(col("source"), 4, 10).cast("int") % 2 === 0, ".com")
        .otherwise(".org"),
      lit("/"), col("lang"), lit("/doc/"), col("doc_id").cast("string"))
    val byDomain = Window.partitionBy(col("domain"))
    val r = Tables.documents(spark, dir)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), UrlFns.registrableDomain(col("url")).as("domain"))
      .withColumn("wave",
        row_number().over(byDomain.orderBy(col("doc_id"))))
      .withColumn("tot", count(lit(1)).over(byDomain))
    r.filter(col("wave") <= 30)
      .groupBy(col("wave").cast("long").as("wave"))
      .agg(count(lit(1)).as("n_scheduled"),
        sum(when(col("wave") === least(col("tot"), lit(30)), 1L).otherwise(0L))
          .as("n_domains_finishing"))
      .orderBy(col("wave"))
  }

  val all: Seq[Q] = Seq(q79DomainBudget, q136PageExtract, q156RobotsFilter,
    q157SitemapFrontier, q158UrlCanonical, q178PolitenessWaves)
}
