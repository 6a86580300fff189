package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.lianjia.Pipeline
import graft.operators.Iterate
import graft.sources.Sinks

/** What one pass of a workload did. `build` and `action` hold the traced
  * run's listener counts for the construction and action windows. */
final class Pass(val index: Int) {
  val opTimes = mutable.ArrayBuffer[Double]()
  val opTimesAdj = mutable.ArrayBuffer[Double]()
  var buildS = 0.0
  var actionS = 0.0
  var buildAdj = 0.0
  var actionAdj = 0.0
  var attempted = 0
  var failed = 0
  val build = new Counters
  val action = new Counters
  val layer = new Counters
  var heapLiveMb = 0.0
  def wall: Double = buildS + actionS
  def wallAdj: Double = buildAdj + actionAdj
}

/** The closed-loop client: one operation at a time, each timed as
  * construction (building the DataFrame) then action, followed by an
  * untimed check of its output and an untimed cleanup. */
final class Harness(val spark: SparkSession, val tracer: Tracer, val probe: Option[Probe]) {
  def traced: Boolean = probe.isDefined

  /** A call into the program, as a span; returns its result and its
    * steal-adjusted seconds (see [[Host]]). */
  def call[T](layer: String, name: String)(body: => T): (T, Double) = {
    val (r, _, adj) = Host.timed(tracer.span(layer, name)(body))
    (r, adj)
  }

  private def window[T](into: Counters)(body: => T): T =
    probe.fold(body)(_.measure(into)(body))

  def op[D, R](pass: Pass, name: String, cleanup: Boolean = true)(build: => D)(action: D => R)(
      check: R => Boolean): Unit = {
    pass.attempted += 1
    val ok = try {
      val result = tracer.span("query", name) {
        val (d, b, bAdj) = Host.timed(tracer.span("build", name)(window(pass.build)(build)))
        pass.buildS += b; pass.buildAdj += bAdj
        val (r, a, aAdj) = Host.timed(tracer.span("action", name)(window(pass.action)(action(d))))
        pass.actionS += a; pass.actionAdj += aAdj
        pass.opTimes += b + a
        pass.opTimesAdj += bAdj + aAdj
        r
      }
      check(result) || { System.err.println(s"[perfbench] $name: wrong output"); false }
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      false
    }
    if (!ok) pass.failed += 1
    if (cleanup) this.cleanup(pass)
  }

  /** Blocks still cached when an operation ends are counted (traced run),
    * then dropped, so every operation starts from the same state. */
  private def cleanup(pass: Pass): Unit = {
    val sc = spark.sparkContext
    if (traced) sc.getRDDStorageInfo.filter(_.isCached).foreach { i =>
      pass.layer.add("leaked_blocks", i.numCachedPartitions.toDouble)
      pass.layer.add("leaked_bytes", (i.memSize + i.diskSize).toDouble)
    }
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

trait Workload {
  /** Input generation: untimed and not part of set-up. */
  def prepare(h: Harness): Unit
  def pass(h: Harness, p: Pass, rng: Random): Unit
}

/** A fixed list of registered queries, run in a seed-permuted order;
  * each query's collected result is checked against its stored digest. */
final class QueryWorkload(ids: Seq[String], dataDir: String, expected: Map[String, String],
    record: Option[mutable.Map[String, String]]) extends Workload {
  private lazy val queries = ids.map { id =>
    graft.SparkEntry.registry.find(_.name.startsWith(id + "_"))
      .getOrElse(sys.error(s"no registered query $id"))
  }

  def prepare(h: Harness): Unit = {
    val missing = queries.map(_.name).filterNot(expected.contains)
    if (missing.nonEmpty && record.isEmpty) sys.error(s"no expected digest for ${missing.mkString(" ")}")
  }

  def pass(h: Harness, p: Pass, rng: Random): Unit =
    rng.shuffle(queries).foreach { q =>
      h.op(p, q.name)(h.tracer.span("queries", "Q.run")(q.run(h.spark, dataDir))) { df =>
        (df.columns.toSeq, df.collect())
      } { case (cols, rows) =>
        val d = Digest.of(cols, rows)
        record.fold(expected.get(q.name).contains(d)) { r => r(q.name) = d; true }
      }
    }
}

/** The reference spider's dataflow over a generated site: crawl with
  * `Iterate.fixpoint` over the `Pipeline` link operators, extract and type
  * villages and houses, write the houses partitioned by 状态, read the
  * tables back and query them joined on 小区ID. */
final class CrawlWorkload(seed: Long, workDir: String) extends Workload {
  private val B = Site.Base
  private lazy val site = Site.generate(seed)
  private val pagesDir = s"$workDir/pages"
  private val outDir = s"$workDir/out"

  def prepare(h: Harness): Unit = {
    import h.spark.implicits._
    site.pages.toDF("url", "html").repartition(4).write.mode("overwrite").parquet(pagesDir)
  }

  /** One crawl round: the spider's callbacks as a rule table over the
    * fetched frontier pages. */
  private def step(pages: DataFrame, rounds: () => Unit)(frontier: DataFrame): DataFrame = {
    rounds()
    val fetched = frontier.select("url").join(pages, Seq("url"))
    def at(rx: String) = fetched.filter(col("url").rlike(rx))
    val districts = Pipeline.regionLinks(fetched.filter(col("url") === s"$B/xiaoqu/"), "^/xiaoqu/[a-z]+/$")
    val villages = Pipeline.detailLinks(at("/xiaoqu/[a-z]+/(pg\\d+)?$"),
      "^https://sh\\.lianjia\\.com/xiaoqu/\\d+/$")
    val villageLists = Pipeline.paginationLinks(at("/xiaoqu/[a-z]+/$"))
    val listings = Pipeline.villageChildLinks(at("/xiaoqu/\\d+/$"))
      .select(col("village_id").as("ref"), col("url"))
    val houses = Pipeline.detailLinks(at("/(ershoufang|chengjiao)/c\\d+(pg\\d+)?$"),
      "^https://sh\\.lianjia\\.com/(ershoufang|chengjiao)/\\d+\\.html$")
    val houseLists = Pipeline.paginationLinks(at("/(ershoufang|chengjiao)/c\\d+$"))
    Seq(villages, villageLists, listings, houses, houseLists)
      .foldLeft(districts)(_ unionByName _).select("url")
  }

  private def extract(h: Harness, visited: DataFrame): (DataFrame, DataFrame) =
    h.tracer.span("lianjia", "Pipeline.*") {
      val pages = visited.join(h.spark.read.schema("url STRING, html STRING").parquet(pagesDir), Seq("url"))
      val villages = Pipeline.typedVillages(Pipeline.villageItems(pages.filter(col("url").rlike("/xiaoqu/\\d+/$"))))
      val houses = Pipeline.typedHouses(Pipeline.unionHouses(
        Pipeline.onsaleHouseItems(pages.filter(col("url").rlike("/ershoufang/\\d+\\.html$"))),
        Pipeline.soldHouseItems(pages.filter(col("url").rlike("/chengjiao/\\d+\\.html$")))))
      (villages, houses)
    }

  private def digest(df: DataFrame, cols: Seq[String]): String =
    Digest.of(cols, df.select(cols.map(c => col(s"`$c`")): _*).collect())

  private def expectedDigest(cols: Seq[String], rows: Seq[Seq[Any]]): String =
    Digest.of(cols, rows.map(Row.fromSeq))

  def pass(h: Harness, p: Pass, rng: Random): Unit = {
    val spark = h.spark
    var visited: DataFrame = null
    var rounds = 0
    // the crawl's cut lineage feeds extraction: it is cleaned up after that
    h.op(p, "crawl", cleanup = false) {
      val pages = spark.read.schema("url STRING, html STRING").parquet(pagesDir)
      val seedUrl = spark.createDataFrame(java.util.List.of(Row(s"$B/xiaoqu/")),
        new org.apache.spark.sql.types.StructType().add("url", "string"))
      val (v, s) = h.call("lianjia", "Iterate.fixpoint")(
        Iterate.fixpoint(seedUrl, step(pages, () => rounds += 1), Seq("url"), maxIter = 20))
      p.layer.add("crawl_s", s)
      v
    } { v => visited = v; v.select("url").collect() } { urls =>
      p.layer.add("crawl_rounds", rounds.toDouble)
      p.layer.add("pages_visited", urls.length.toDouble)
      Digest.of(Seq("url"), urls) == expectedDigest(Seq("url"), site.pages.map(x => Seq(x._1)))
    }
    if (visited == null) return

    if (h.traced) h.tracer.span("lianjia", "extract") {
      // traced run only: extraction alone, its typed tables to a noop sink
      val (vs, hs) = extract(h, visited)
      val (_, s) = h.call("lianjia", "extract.noop") {
        vs.write.format("noop").mode("overwrite").save()
        hs.write.format("noop").mode("overwrite").save()
      }
      p.layer.add("extract_s", s)
      p.layer.add("extract_pages", (site.villages.size + site.houses.size).toDouble)
    }

    h.op(p, "extract+write")(extract(h, visited)) { case (vs, hs) =>
      val (_, s) = h.call("sources", "Sinks.writeCollection") {
        Sinks.writeCollection(vs, s"$outDir/villages")
        Sinks.writeCollection(hs, s"$outDir/houses", Seq("状态"))
      }
      p.layer.add("write_s", s)
      val files = Seq("villages", "houses").flatMap { t =>
        val dir = java.nio.file.Paths.get(s"$outDir/$t")
        scala.util.Using.resource(java.nio.file.Files.walk(dir))(_.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".parquet")).toList)
      }
      p.layer.add("write_files", files.size.toDouble)
    } { _ =>
      digest(spark.read.parquet(s"$outDir/villages"), Site.VillageColumns) ==
        expectedDigest(Site.VillageColumns, site.villages.map(Site.villageRow)) &&
      digest(spark.read.parquet(s"$outDir/houses"), Site.HouseColumns) ==
        expectedDigest(Site.HouseColumns, site.houses.map(Site.houseRow))
    }

    val (_, analytics) = h.call("lianjia", "analytics") {
      // fixed order: the seed's part in this workload is the site; a
      // permuted order would change which query's broadcast relation is
      // still reachable when the pass ends, and so heap_live_mb
      CrawlWorkload.analytics.foreach { case (name, query, expect) =>
        h.op(p, name) {
          query(spark.read.parquet(s"$outDir/houses"), spark.read.parquet(s"$outDir/villages"))
        } { df => (df.columns.toSeq, df.collect()) } { case (cols, rows) =>
          Digest.of(cols, rows) == expectedDigest(cols, expect(site))
        }
      }
    }
    p.layer.add("analytics_s", analytics)
  }

}

object CrawlWorkload {
  import Site.{House, Generated, money}

  private def dec(xs: Seq[java.math.BigDecimal]) =
    xs.foldLeft(java.math.BigDecimal.ZERO.setScale(2))(_ add _)
  private def status(h: House) = if (h.sold) "成交" else "在售"

  /** Read-back queries over the written tables, each with its expected
    * rows computed from the generator. */
  val analytics: Seq[(String, (DataFrame, DataFrame) => DataFrame, Generated => Seq[Seq[Any]])] = Seq(
    ("village_stats",
      (hs, vs) => hs.join(vs, hs("小区ID") === vs("id")).groupBy(vs("id"), vs("name"))
        .agg(count(lit(1)).as("houses"), sum(when(col("状态") === "在售", 1).otherwise(0)).as("onsale"),
          sum("售价").as("listed_total"), max("成交价").as("max_deal")),
      g => g.houses.groupBy(_.village).toSeq.map { case (v, xs) =>
        Seq(v.id, v.name, xs.size.toLong, xs.count(!_.sold).toLong, dec(xs.map(x => money(x.price))),
          xs.flatMap(_.dealPrice).map(money).maxOption.orNull)
      }),
    ("district_status",
      (hs, vs) => hs.join(vs, hs("小区ID") === vs("id"))
        .groupBy(element_at(col("zone"), 1).as("district"), col("状态"))
        .agg(count(lit(1)).as("houses"), sum("售价").as("listed_total")),
      g => g.houses.groupBy(h => (h.village.district, status(h))).toSeq.map { case ((d, s), xs) =>
        Seq(d, s, xs.size.toLong, dec(xs.map(x => money(x.price))))
      }),
    ("layout_mix",
      (hs, _) => hs.groupBy(col("房屋户型"), col("状态"))
        .agg(count(lit(1)).as("houses"), min("建筑面积").as("min_area"), max("建筑面积").as("max_area")),
      g => g.houses.groupBy(h => (h.layout, status(h))).toSeq.map { case ((l, s), xs) =>
        Seq(l, s, xs.size.toLong, xs.map(_.area.toDouble).min, xs.map(_.area.toDouble).max)
      }),
    ("deal_months",
      (hs, _) => hs.filter(col("状态") === "成交")
        .groupBy(date_format(col("成交时间"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("deals"), sum("成交价").as("deal_total")),
      g => g.houses.filter(_.sold).groupBy(_.dealDate.get.toString.take(7)).toSeq.map { case (m, xs) =>
        Seq(m, xs.size.toLong, dec(xs.flatMap(_.dealPrice).map(money)))
      }))
}
