package graft

class GraftSessionSpec extends SparkSpec {

  test("the shared test session is built by GraftSession.local, the one session builder") {
    // production session config and function registry, with no
    // explicit register* call in this case
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
    val c = spark.sql(
      "SELECT graft_cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val builder = "SparkSession\\.builder".r
    val builders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        builder.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSeq
    assert(builders === Seq("GraftSession.scala"))
  }

  test("registered SQL function graft_simhash64 matches the Column API") {
    GraftSession.registerFunctions(spark)
    import spark.implicits._
    val df = Seq("spark window join filter").toDF("text")
    df.createOrReplaceTempView("t")
    val viaSql = spark.sql(
      "SELECT graft_simhash64(split(lower(text), '\\\\s+')) AS h FROM t")
      .as[Long].head()
    val viaCol = df.select(
      graft.functions.TextFns.simhash64(
        graft.functions.TextFns.tokens(org.apache.spark.sql.functions.col("text"))).as("h"))
      .as[Long].head()
    assert(viaSql === viaCol)
  }

  test("registered SQL function graft_winnow matches the Column API") {
    GraftSession.registerFunctions(spark)
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("norm")
    df.createOrReplaceTempView("tw")
    val viaSql = spark.sql("SELECT graft_winnow(norm, 8, 4) AS fp FROM tw")
      .head.getSeq[Long](0)
    val viaCol = df.select(graft.plans.WinnowExpr.winnow(
      org.apache.spark.sql.functions.col("norm"), 8, 4).as("fp"))
      .head.getSeq[Long](0)
    assert(viaSql === viaCol && viaSql.nonEmpty)
  }

  test("registered SQL function graft_hilbert matches the Column API") {
    GraftSession.registerFunctions(spark)
    import spark.implicits._
    val df = Seq((7L, 11L)).toDF("x", "y")
    df.createOrReplaceTempView("th")
    val viaSql = spark.sql("SELECT graft_hilbert(x, y) AS d FROM th")
      .as[Long].head()
    assert(viaSql === graft.plans.HilbertExpr.index(7, 11))
  }

  test("extraction surface from pure SQL: css/xpath first + all") {
    GraftSession.registerFunctions(spark)
    import spark.implicits._
    // tag soup on purpose — the lenient parse rides along into SQL
    Seq("""<div class=resultDes><h2 class="total">共<span> 42 </span>套 & more""")
      .toDF("html").createOrReplaceTempView("pages")
    assert(spark.sql(
      "SELECT graft_css_first(html, '.resultDes .total span::text') v FROM pages")
      .as[String].head() === "42")
    assert(spark.sql(
      "SELECT graft_xpath_first(html, '//h2/span/text()') v FROM pages")
      .as[String].head() === "42")
    assert(spark.sql(
      "SELECT graft_css_all(html, '.resultDes span::text') v FROM pages")
      .as[Seq[String]].head() === Seq("42"))
    // non-literal selector is a planning error, not a per-row surprise
    intercept[Exception](spark.sql(
      "SELECT graft_css_first(html, html) FROM pages").collect())
  }

  test("GraftExtensions installs the same functions at session build time") {
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val c = s2.sql(
        "SELECT graft_cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c")
        .head().getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("registerTables exposes the whole surface to pure SQL, custom exprs included") {
    GraftSession.registerFunctions(spark)
    GraftSession.registerTables(spark, "/root/testdata/sf0.001")
    // events routed through the nanos conversion: ts is a usable TIMESTAMP
    val hours = spark.sql(
      "SELECT count(DISTINCT date_trunc('hour', ts)) FROM events").head().getLong(0)
    assert(hours > 0)
    // custom expression over a registered table from SQL alone
    val sims = spark.sql(
      """SELECT graft_cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                        CAST(b.embedding AS ARRAY<DOUBLE>)) AS s
        |FROM embeddings a JOIN embeddings b ON b.vec_id = 0
        |WHERE a.vec_id < 5""".stripMargin)
    assert(sims.count() === 5)
    assert(!sims.filter("s > 1.0000001 OR s < -1.0000001").take(1).nonEmpty)
  }

  test("registered SQL aggregates: graft_topk3 equals the window top-3") {
    GraftSession.registerAggregates(spark)
    GraftSession.registerTables(spark, "/root/testdata/sf0.001")
    val viaAgg = spark.sql(
      """SELECT o_orderpriority, t.i AS k, t.s AS v
        |FROM (SELECT o_orderpriority,
        |        graft_topk3(CAST(o_totalprice AS DOUBLE), o_orderkey) AS top
        |      FROM orders GROUP BY o_orderpriority)
        |LATERAL VIEW explode(top) AS t
        |ORDER BY o_orderpriority, v DESC, k""".stripMargin)
      .collect().map(_.toString).toSeq
    val viaWindow = spark.sql(
      """SELECT o_orderpriority, o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, v DESC, k""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(viaAgg === viaWindow)
  }

  test("registered SQL aggregates: graft_qsketch_cents matches the typed aggregator") {
    GraftSession.registerAggregates(spark)
    GraftSession.registerTables(spark, "/root/testdata/sf0.001")
    import spark.implicits._
    val viaSql = spark.sql(
      """SELECT graft_qsketch_cents(CAST(round(o_totalprice * 100) AS BIGINT))
        |FROM orders""".stripMargin)
      .as[Seq[Long]].head()
    val cents = spark.sql(
      "SELECT CAST(round(o_totalprice * 100) AS BIGINT) FROM orders")
      .as[Long].collect()
    val a = graft.functions.QuantileSketch.agg(0L, 100000L, 128)
    val ref = cents.foldLeft(a.zero)((b, x) => a.reduce(b, x)).toSeq
    assert(viaSql === ref)
    assert(viaSql.sum === cents.length.toLong)
  }

  test("registered SQL aggregates: graft_hll64 matches the relational register table") {
    import graft.functions.PortableHll
    GraftSession.registerAggregates(spark)
    GraftSession.registerTables(spark, "/root/testdata/sf0.001")
    import spark.implicits._
    val viaSql = spark.sql(
      "SELECT lang, graft_hll64(CAST(doc_id AS STRING)) FROM documents GROUP BY lang")
      .as[(String, Seq[Int])].collect().toMap
    // relational registers (sparse) densified must equal the aggregator's
    val rel = PortableHll.registers(
        spark.table("documents"), "lang",
        org.apache.spark.sql.functions.col("doc_id")
          .cast(org.apache.spark.sql.types.StringType))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt) -> r.getInt(2)).toMap
    viaSql.foreach { case (lang, regs) =>
      assert(regs.length === 64)
      regs.zipWithIndex.foreach { case (m, b) =>
        assert(m === rel.getOrElse((lang, b), 0), s"$lang register $b")
      }
    }
    // and the driver-side estimate tracks the exact count
    val exact = spark.sql(
      "SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents GROUP BY lang")
      .as[(String, Long)].collect().toMap
    viaSql.foreach { case (lang, regs) =>
      val est = PortableHll.estimateFromRegisters(regs)
      assert(math.abs(est - exact(lang)) <= 0.55 * exact(lang), s"$lang: $est vs ${exact(lang)}")
    }
  }

  test("the status store keeps at most StatusStoreCap finished jobs") {
    val sc = spark.sparkContext
    (1 to GraftSession.StatusStoreCap + 20).foreach(i => sc.parallelize(Seq(i), 1).count())
    // the store trims asynchronously after a job ends: poll
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(null).length > GraftSession.StatusStoreCap &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup(null).length <= GraftSession.StatusStoreCap)
  }
}
