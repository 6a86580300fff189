package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

class IterateSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Runs `body` while a QueryExecutionListener sees every successful
    * query; returns the result and the cuts' query executions in order,
    * once `until` holds of them (the listener bus is asynchronous). */
  private def withCuts[T](until: Seq[QueryExecution] => Boolean)(
      body: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "localCheckpoint") seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      def all = seen.toArray(Array.empty[QueryExecution]).toSeq
      val deadline = System.nanoTime() + 10000000000L
      while (!until(all) && System.nanoTime() < deadline) Thread.sleep(20)
      (result, all)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The call sites (stage names) of every job `body` starts. */
  private def jobCallSites(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(st => sites.add(st.name))
    }
    val marker = "IterateSpec marker job"
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the marker job is seen, so is every job before it
      sc.setCallSite(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.nanoTime() + 10000000000L
      while (!sites.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sites.contains(marker), "the marker job never reached the listener")
      sites.toArray(Array.empty[String]).toSeq.filter(_ != marker)
    } finally sc.removeSparkListener(listener)
  }

  /** `visited`'s slices, seed first: each round's cut is one leaf. */
  private def slices(visited: DataFrame): Seq[LogicalRDD] =
    visited.queryExecution.optimizedPlan.collectLeaves().map {
      case r: LogicalRDD => r
      case other => fail(s"a visited slice is not a cut: ${other.nodeName}")
    }

  // a→b,c; b→d,e; c→d; d→a: slices {a}, {b,c}, {d,e}, then an empty round
  private val fanEdges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("b", "e"),
    ("c", "d"), ("d", "a"))

  private def fanCrawl(maxIter: Int): DataFrame = {
    val edges = fanEdges.toDF("src", "dst")
    Iterate.fixpoint(Seq("a").toDF("url"),
      f => f.join(edges, f("url") === edges("src")).select(edges("dst").as("url")),
      keyCols = Seq("url"), maxIter = maxIter)
  }

  test("fixpoint traverses a link graph once per node, terminates on drain") {
    // page graph: a→b,c; b→d; c→d; d→a (cycle back)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val seed = Seq("a").toDF("url")
    val visited = Iterate.fixpoint(
      seed,
      frontier => frontier.join(edges, frontier("url") === edges("src"))
        .select(edges("dst").as("url")),
      keyCols = Seq("url"),
      maxIter = 10)
    assert(visited.orderBy("url").as[String].collect().toSeq === Seq("a", "b", "c", "d"))
  }

  test("fixpoint respects maxIter on an infinite chain") {
    // infinite chain: n → n+1
    val seed = Seq(0L).toDF("n")
    val visited = Iterate.fixpoint(
      seed,
      f => f.select(($"n" + 1).as("n")),
      keyCols = Seq("n"),
      maxIter = 3)
    assert(visited.count() === 4) // 0,1,2,3
  }

  // a graph with a cycle, a diamond (two same-length paths to d), an
  // unreachable island (x→y), and a node reachable at two different
  // depths via different paths (e: a→b→e at 2, a→c→d→e at 3)
  private val bfsEdges = Seq(
    ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a"),
    ("b", "e"), ("d", "e"), ("x", "y"))

  test("fixpoint over a 30-link chain: every node once, at most one plan leaf per round") {
    val n = 30
    val edges = (0 until n).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    var rounds = 0
    val visited = Iterate.fixpoint(
      Seq(0L).toDF("n"),
      f => { rounds += 1; f.join(edges, f("n") === edges("src")).select(edges("dst").as("n")) },
      keyCols = Seq("n"),
      maxIter = 100)
    assert(visited.as[Long].collect().sorted.toSeq === (0L to n))
    assert(rounds === n + 1) // the last round finds nothing and drains
    // visited is the union of the seed's and each round's cut slice:
    // the plan never grows past one leaf per round, and no leaf
    // re-reads the edges
    val leaves = visited.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size <= rounds + 1)
    assert(leaves.forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
  }

  test("bfsDepth: local (gated) ≡ distributed (gate disabled), depths exact") {
    val edges = bfsEdges.toDF("src", "dst")
    val seeds = Seq(("a", 0)).toDF("node", "depth")
    for (maxIter <- Seq(1, 2, 3, 10)) {
      val local = Iterate.bfsDepth(seeds, edges, maxIter)
        .orderBy("node").collect().toSeq
      val dist = LocalGate.withOverride(0)(Iterate.bfsDepth(seeds, edges, maxIter)
        .orderBy("node").collect().toSeq)
      assert(local === dist, s"maxIter=$maxIter")
    }
    // exact depths at full expansion: e is 2 (via b), not 3 (via d)
    val full = Iterate.bfsDepth(seeds, edges, 10)
      .as[(String, Int)].collect().toMap
    assert(full === Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2, "e" -> 2))
  }

  test("bfsDepth: multi-source seeds, long node ids") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, 0), (10L, 0)).toDF("node", "depth")
    val local = Iterate.bfsDepth(seeds, edges, 5)
      .as[(Long, Int)].collect().toMap
    val dist = LocalGate.withOverride(0)(Iterate.bfsDepth(seeds, edges, 5)
      .as[(Long, Int)].collect().toMap)
    assert(local === dist)
    assert(local === Map(1L -> 0, 10L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("relaxMin: local (gated) ≡ distributed (gate disabled), long costs") {
    // cheaper-but-longer path: a→d direct costs 10, a→b→c→d costs 3
    val edges = Seq(
      ("a", "d", 10L), ("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("d", "e", 5L), ("x", "y", 1L)).toDF("src", "dst", "w")
    val seeds = Seq(("a", 0L)).toDF("node", "cost")
    for (maxIter <- Seq(1, 2, 3, 10)) {
      val local = Iterate.relaxMin(seeds, edges, maxIter)
        .orderBy("node").collect().toSeq
      val dist = LocalGate.withOverride(0)(Iterate.relaxMin(seeds, edges, maxIter)
        .orderBy("node").collect().toSeq)
      assert(local === dist, s"maxIter=$maxIter")
    }
    // bounded-hop semantics: at 1 round d costs 10; at 3 rounds, 3
    val r1 = Iterate.relaxMin(seeds, edges, 1).as[(String, Long)].collect().toMap
    assert(r1 === Map("a" -> 0L, "d" -> 10L, "b" -> 1L))
    val r3 = Iterate.relaxMin(seeds, edges, 3).as[(String, Long)].collect().toMap
    assert(r3 === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 15L))
  }

  test("relaxMin: double costs and duplicate seeds min-merge") {
    val edges = Seq((1L, 2L, 0.5), (2L, 3L, 0.25)).toDF("src", "dst", "w")
    val seeds = Seq((1L, 5.0), (1L, 1.0), (3L, 0.0)).toDF("node", "cost")
    val local = Iterate.relaxMin(seeds, edges, 4)
      .as[(Long, Double)].collect().toMap
    val dist = LocalGate.withOverride(0)(Iterate.relaxMin(seeds, edges, 4)
      .as[(Long, Double)].collect().toMap)
    assert(local === dist)
    assert(local === Map(1L -> 1.0, 2L -> 1.5, 3L -> 0.0))
  }

  test("bfsDepth / relaxMin: NULL endpoints and weights dropped on both paths; empty edges") {
    val seeds = Seq(("a", 0)).toDF("node", "depth")
    val bfsNulls = bfsEdges ++ Seq(("b", null: String), (null: String, "c"))
    def bfs(e: Seq[(String, String)]): Set[(Any, Any)] =
      Iterate.bfsDepth(seeds, e.toDF("src", "dst"), 10)
        .collect().map(r => (r.get(0), r.get(1))).toSet
    val bl = bfs(bfsNulls)
    assert(bl === LocalGate.withOverride(0)(bfs(bfsNulls)))
    assert(bl === bfs(bfsEdges))
    assert(bfs(Nil) === Set(("a", 0)))
    assert(LocalGate.withOverride(0)(bfs(Nil)) === Set(("a", 0)))

    val costSeeds = Seq(("a", 0L)).toDF("node", "cost")
    val weighted = Seq[(String, String, Option[Long])](
      ("a", "b", Some(1L)), ("b", "c", Some(1L)), ("a", "c", None),
      ("c", "d", None), ("c", null, Some(1L)))
    val cleanW = weighted.collect { case (s, d, Some(w)) if d != null => (s, d, w) }
    def relax(e: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
      Iterate.relaxMin(costSeeds, e, 5).collect().map(r => (r.get(0), r.get(1))).toSet
    val rl = relax(weighted.toDF("src", "dst", "w"))
    assert(rl === LocalGate.withOverride(0)(relax(weighted.toDF("src", "dst", "w"))))
    assert(rl === relax(cleanW.toDF("src", "dst", "w")))
    assert(rl === Set(("a", 0L), ("b", 1L), ("c", 2L)))
    val noEdges = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    assert(relax(noEdges) === Set(("a", 0L)))
    assert(LocalGate.withOverride(0)(relax(noEdges)) === Set(("a", 0L)))
  }

  test("bfsDepth / relaxMin: a NULL seed depth or cost is refused by name on both paths; a NULL seed node reaches nothing") {
    def failure(body: => Any): String =
      Iterator.iterate(intercept[Exception](body): Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val nullDepth = Seq[(Long, Option[Int])]((1L, None), (2L, Some(0)))
      .toDF("node", "depth")
    def bfsOf(seeds: org.apache.spark.sql.DataFrame) =
      Iterate.bfsDepth(seeds, chain, 5).collect()
        .map(r => (Option(r.get(0)), r.get(1))).toSet
    assert(failure(bfsOf(nullDepth)).contains("NULL `depth`"))
    assert(failure(LocalGate.withOverride(0)(bfsOf(nullDepth))).contains("NULL `depth`"))

    val weighted = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val nullCost = Seq[(Long, Option[Long])]((1L, None), (2L, Some(0L)))
      .toDF("node", "cost")
    def relaxOf(seeds: org.apache.spark.sql.DataFrame) =
      Iterate.relaxMin(seeds, weighted, 5).collect()
        .map(r => (Option(r.get(0)), r.get(1))).toSet
    assert(failure(relaxOf(nullCost)).contains("NULL `cost`"))
    assert(failure(LocalGate.withOverride(0)(relaxOf(nullCost))).contains("NULL `cost`"))

    // a NULL seed node keeps its seed value and, with no edge keeping a
    // NULL endpoint, reaches nothing — the same answer on both paths
    val nullNodeDepth = Seq[(Option[Long], Int)]((None, 0), (Some(1L), 0))
      .toDF("node", "depth")
    val depths = Set[(Option[Any], Any)](
      (None, 0), (Some(1L), 0), (Some(2L), 1), (Some(3L), 2))
    assert(bfsOf(nullNodeDepth) === depths)
    assert(LocalGate.withOverride(0)(bfsOf(nullNodeDepth)) === depths)
    val nullNodeCost = Seq[(Option[Long], Long)]((None, 5L), (Some(1L), 0L))
      .toDF("node", "cost")
    val costs = Set[(Option[Any], Any)](
      (None, 5L), (Some(1L), 0L), (Some(2L), 1L), (Some(3L), 2L))
    assert(relaxOf(nullNodeCost) === costs)
    assert(LocalGate.withOverride(0)(relaxOf(nullNodeCost)) === costs)
  }

  test("fixpoint: every visited slice carries its actual row count as its statistics") {
    val cuts = slices(fanCrawl(10))
    assert(cuts.map(_.rdd.count()) === Seq(1L, 2L, 2L, 0L))
    cuts.foreach(c => assert(c.stats.rowCount === Some(BigInt(c.rdd.count())), c))
  }

  test("fixpoint: each frontier's size is its round's graft.* observed metric") {
    val (visited, cuts) = withCuts(_.size >= 4)(fanCrawl(10))
    val logged = cuts.flatMap(_.observedMetrics.get(Iterate.FrontierMetric)).map(_.getLong(0))
    assert(logged === slices(visited).map(_.rdd.count()))
  }

  test("fixpoint: a crawl-shaped step over a parquet page table broadcasts no file scan in any round") {
    // a chain of pages p0 ⇄ p1 ⇄ … ⇄ p7, one new page per round (each
    // back link is deduplicated against `visited`); even and odd pages
    // are read by two extraction branches, as the crawl's page types are
    val n = 8
    val dir = java.nio.file.Files.createTempDirectory("iterate-pages").toString
    (0 until n).map { i =>
      (s"/p$i", Seq(i - 1, i + 1).filter(j => j >= 0 && j < n)
        .map(j => s"""<a href="/p$j">$j</a>""").mkString)
    }.toDF("url", "html").repartition(2).write.mode("overwrite").parquet(dir)
    val pages = spark.read.parquet(dir)
    def links(fetched: DataFrame) =
      fetched.select(explode(regexp_extract_all(col("html"), lit("href=\"([^\"]+)\""), lit(1))).as("url"))
    def step(frontier: DataFrame): DataFrame = {
      val fetched = frontier.select("url").join(pages, Seq("url"))
      links(fetched.filter(col("url").rlike("[02468]$")))
        .unionByName(links(fetched.filter(col("url").rlike("[13579]$"))))
    }
    val (visited, rounds) = withCuts(_.size >= n + 1)(
      Iterate.fixpoint(Seq("/p0").toDF("url"), step, Seq("url"), maxIter = 20))
    assert(visited.as[String].collect().sorted.toSeq === (0 until n).map(i => s"/p$i").sorted)
    assert(rounds.size === n + 1) // the seed's cut, then one per round
    def scans(p: SparkPlan) = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    rounds.zipWithIndex.foreach { case (qe, round) =>
      val broadcastScans = collectWithSubqueries(qe.executedPlan) {
        case b: BroadcastExchangeExec if scans(b).nonEmpty => b
      }
      assert(broadcastScans.isEmpty, s"round $round broadcasts the page table:\n${qe.executedPlan}")
    }
  }

  test("fixpoint and the distributed relaxMin decide emptiness without an isEmpty job") {
    val sites = jobCallSites {
      fanCrawl(10).collect()
      val edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("a", "c", 5L)).toDF("src", "dst", "w")
      LocalGate.withOverride(0)(
        Iterate.relaxMin(Seq(("a", 0L)).toDF("node", "cost"), edges, 10).collect())
    }
    assert(sites.exists(_.startsWith("localCheckpoint at Iterate.scala")), sites)
    assert(!sites.exists(_.startsWith("isEmpty at Iterate.scala")), sites)
  }

  test("fixpoint: an empty seed calls the step zero times and returns an empty frame") {
    var calls = 0
    val visited = Iterate.fixpoint(Seq.empty[String].toDF("url"),
      f => { calls += 1; f }, keyCols = Seq("url"), maxIter = 5)
    assert(calls === 0)
    assert(visited.count() === 0)
    assert(visited.columns.toSeq === Seq("url"))
  }
}
