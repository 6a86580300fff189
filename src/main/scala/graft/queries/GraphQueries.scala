package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Baskets, Hits, Iterate, KCore, LinkPredict, PageRank, Triangles}
import graft.sources.Tables

/** Graph analytics over the order graph (customer ↔ supplier via
  * lineitem) — the link-analysis face of the crawl engine: a crawler's
  * frontier IS a link graph, and ranking it (reference: the listing →
  * detail-page fan-out of `lianjia.py`) is PageRank's home turf.
  */
object GraphQueries {

  private val Iters = 8
  private val SinceDate = "1997-01-01"

  /** Minimum distinct shared customers for a supplier co-purchase edge
    * (q80/q132/q161/q189/q190 all project the same graph). */
  private val CoMinShared = 4

  /** Per-customer distinct-supplier cap for the co-purchase edge build.
    * Pair generation is quadratic in basket size, so one Zipfian
    * mega-customer would emit C(n,2) rows from a single task at scale —
    * the market-basket skew bomb [[Baskets]] exists to defuse. Standard
    * frequent-itemset practice drops mega-baskets (a customer buying
    * from half the suppliers co-occurs with everything and carries no
    * pair signal); the drop is observable as
    * `graft.copurchase.n_dropped_baskets`. */
  private val CoBasketCap = Baskets.DefaultMaxItems

  /** The (customer, supplier) bipartite incidence the co-purchase graph
    * projects: nation-1 customers' recent orders, distinct pairs. */
  private def coPurchaseIncidence(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(SinceDate).cast("date"))
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).filter(col("c_nationkey") === 1),
        col("c_custkey") === col("o_custkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()

  /** Supplier co-purchase edges (a < b, ≥ [[CoMinShared]] shared
    * customers) from a (c, s) incidence frame — the ONE shared edge
    * build behind the whole graph-statistics family. Baskets above
    * [[CoBasketCap]] distinct suppliers are dropped before pair
    * generation (observed metric, see [[CoBasketCap]]), then each
    * surviving basket emits its C(n,2) pairs narrowly via two codegen'd
    * explodes — pair volume is bounded by C(cap, 2) per customer
    * REGARDLESS of input skew, where the old per-key self-join emitted
    * unbounded C(n,2) rows from a single task. */
  private[queries] def coPurchaseEdges(cs: DataFrame): DataFrame =
    Baskets.pairCounts(
        Baskets.baskets(cs, "c", "s", CoBasketCap, "graft.copurchase"))
      .filter(col("n_ab") >= CoMinShared)
      .select(col("part_a").as("a"), col("part_b").as("b"))

  /** r15 perf: every graph query consumes the edge list several times
    * (degree table + triangle/wedge self-joins), and each consumer
    * re-planned the orders⋈lineitem⋈customer incidence build plus the
    * basket pair fan-out (q161's executed plan carried ~27 scans). The
    * edge list is supplier-pair grain bounded by CoMinShared — tiny
    * against the fact tables it summarizes — so ONE lineage cut makes
    * the incidence build run exactly once per query (q142/q143
    * checkpointed-stage discipline; guide §2.4). */
  private[queries] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    coPurchaseEdges(coPurchaseIncidence(spark, dir)).localCheckpoint()

  /** Shared DuckDB CTE prefix mirroring [[coPurchaseEdges]]: incidence
    * `cs`, the capped projection `csf` (baskets over [[CoBasketCap]]
    * suppliers dropped — SAME spec as the engine side), and the edge
    * list `e`. */
  private def coEdgesCte: String =
    s"""cs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  WHERE c_nationkey = 1 AND o_orderdate >= DATE '$SinceDate'),
       |bok AS (SELECT c FROM cs GROUP BY c HAVING count(*) <= $CoBasketCap),
       |csf AS (SELECT cs.c, cs.s FROM cs JOIN bok ON bok.c = cs.c),
       |e AS (
       |  SELECT a.s AS a, b.s AS b FROM csf a JOIN csf b ON a.c = b.c AND a.s < b.s
       |  GROUP BY 1, 2 HAVING count(*) >= $CoMinShared)""".stripMargin

  /** Personalized teleport: customer 1 (parity-encoded node 2). */
  private val SeedNode = 2L
  /** Personalized rank localizes around the seed in a few rounds —
    * half q76's budget reaches the same 7-dp-stable neighborhood. */
  private val PprIters = 4

  /** The trade graph's order lines: recent-window orders joined to their
    * lineitems — the one input of q76/q112/q126/q127/q131. */
  private def tradeLines(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(SinceDate).cast("date"))
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))

  /** Distinct customer–supplier trade pairs on parity-encoded LONG ids
    * (customer k → 2k, supplier k → 2k + 1 — no collisions at any key
    * range), cached: the caller unpersists once its operator has
    * materialized. [[tradePairsCte]] is the DuckDB twin. */
  private def tradePairs(spark: SparkSession, dir: String): DataFrame =
    tradeLines(spark, dir)
      .select((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
      .cache()

  private def tradePairsCte: String =
    s"""pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= DATE '$SinceDate')""".stripMargin

  /** The symmetrized edge list (src, dst, `extra`…): every (cn, sn)
    * pair in both directions. [[bothWaysCte]] is the DuckDB twin. */
  private def bothWays(pairs: DataFrame, extra: String*): DataFrame = {
    val ex = extra.map(col)
    pairs.select(col("cn").as("src") +: col("sn").as("dst") +: ex: _*)
      .unionAll(pairs.select(col("sn").as("src") +: col("cn").as("dst") +: ex: _*))
  }

  private def bothWaysCte(extra: String = ""): String =
    s"""edges AS (
       |  SELECT cn AS src, sn AS dst$extra FROM pairs
       |  UNION ALL
       |  SELECT sn AS src, cn AS dst$extra FROM pairs)""".stripMargin

  /** A parity-encoded `node` decoded to its label: customer k → "ck",
    * supplier k → "sk". [[nodeLabelSql]] is the DuckDB twin. */
  private def nodeLabel: org.apache.spark.sql.Column =
    concat(when(col("node") % 2 === 0, "c").otherwise("s"),
      expr("node div 2").cast("string")).as("node")

  private def nodeLabelSql: String =
    """CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
      |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node""".stripMargin

  /** DuckDB twin of `PageRank.run` (no `seed`) and
    * `PageRank.runPersonalized` (`seed`): the identical power iteration,
    * unrolled one CTE per round (DuckDB's recursive CTEs cannot
    * re-aggregate per round). The personalized form replaces the
    * uniform teleport with a seed indicator. The teleport constant is
    * the Scala-computed double rendered exactly, so both dialects
    * iterate with bit-identical coefficients. */
  private def rankOracle(iters: Int, seed: Option[Long]): String = {
    val damping = PageRank.Damping
    val tele = 1.0 - damping
    val (r0, rank) = seed match {
      case None => (
        """nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
          |r0 AS (SELECT d.src AS node, 1.0 / nn.n AS pr FROM deg d CROSS JOIN nn)""",
        s"""  SELECT d.src AS node, $tele / nn.n + $damping * coalesce(m.mass, 0.0) AS pr
           |  FROM deg d CROSS JOIN nn LEFT JOIN (""")
      case Some(sd) => (
        s"""r0 AS (SELECT src AS node,
           |  CASE WHEN src = $sd THEN 1.0 ELSE 0.0 END AS pr FROM deg)""",
        s"""  SELECT d.src AS node,
           |    (CASE WHEN d.src = $sd THEN $tele ELSE 0.0 END)
           |      + $damping * coalesce(m.mass, 0.0) AS pr
           |  FROM deg d LEFT JOIN (""")
    }
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         |$rank
         |    SELECT e.dst AS dst, sum(r.pr / d2.deg) AS mass
         |    FROM edges e JOIN r${k - 1} r ON r.node = e.src JOIN deg d2 ON d2.src = e.src
         |    GROUP BY e.dst) m ON m.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradePairsCte,
       |${bothWaysCte()},
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |$r0,
       |$rounds
       |SELECT $nodeLabelSql,
       |  round(pr, 7) AS pr
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Personalized PageRank seeded at customer 1: ranks are proximity to
    * that customer in the trade graph — the "similar users / related
    * items" graph feature, on the identical per-round plan as q76 (only
    * the two rank expressions change; see PageRank.runPersonalized). */
  val q112PersonalizedPagerank = Q(
    "q112_personalized_pagerank",
    rankOracle(PprIters, Some(SeedNode))) { (spark, dir) =>
    val pairs = tradePairs(spark, dir)
    val edges = bothWays(pairs)
    val pr = PageRank.runPersonalized(edges, PprIters, Seq(SeedNode))
    pairs.unpersist(false)
    pr.select(nodeLabel, round(col("pr"), 7).as("pr"))
      .orderBy(col("node"))
  }

  /** PageRank over the symmetrized customer↔supplier purchase graph
    * (who-trades-with-whom importance), scoped to the recent-order
    * window. Symmetrizing removes dangling nodes, so rank mass is
    * conserved and the oracle needs no leakage term. The iteration runs
    * on parity-encoded LONG node ids (customer 2k, supplier 2k+1 — no
    * collisions at any key range); labels are stringified only at
    * output, so every shuffle of the loop moves 8-byte keys. All ~N
    * nodes are emitted — no top-k, so near-tie ordering noise can't
    * flake the row set. */
  val q76Pagerank = Q(
    "q76_pagerank",
    rankOracle(Iters, None)) { (spark, dir) =>
    val pairs = tradePairs(spark, dir)
    val edges = bothWays(pairs)
    val pr = PageRank.run(edges, Iters) // eager: computed here
    pairs.unpersist(false)
    pr.select(nodeLabel, round(col("pr"), 7).as("pr"))
      .orderBy(col("node"))
  }

  /** Triangle census of the supplier co-purchase graph (suppliers
    * linked when ≥ 4 recent customers of nation 1 bought from both) —
    * community structure in a trade graph. The engine side enumerates
    * via `Triangles.triangles` (degree-ordered, O(m^1.5) wedge bound);
    * the oracle counts id-ordered edge triples — two different
    * enumeration orders that must land on the same census. */
  val q80TriangleCensus = Q(
    "q80_triangle_census",
    s"""WITH $coEdgesCte,
       |deg AS (
       |  SELECT n, count(*) AS deg
       |  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
       |tri AS (
       |  SELECT count(*) AS t FROM e e1
       |  JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
       |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg)
       |SELECT n_nodes, n_edges, n_wedges, CAST(t AS BIGINT) AS n_triangles,
       |  round(3.0 * t / n_wedges, 4) AS global_cc
       |FROM s CROSS JOIN tri""".stripMargin) { (spark, dir) =>
    val e = coPurchaseEdges(spark, dir)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum((col("deg") * (col("deg") - 1) / 2).cast("long")).as("n_wedges"))
    // size-gated census: driver-local forward counting under the gate,
    // the distributed wedge enumerator above (TrianglesSpec parity)
    val tri = Triangles.triangleCount(e)
    stats.join(broadcast(tri)) // both single-row
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4).as("global_cc"))
  }

  /** HITS rounds for q126. Three is safe against the long-overflow
    * bound in [[graft.operators.Hits]] scaladoc at every graded SF. */
  private val HitsIters = 3

  /** DuckDB twin of the integer-exact HITS recurrence: one pair of CTEs
    * per round, sums cast back to BIGINT each half-step to mirror
    * Spark's LongType (DuckDB widens sum(BIGINT) to HUGEINT). Because
    * every intermediate is an exact integer in both engines, the only
    * floats are the two final max-normalizations — deterministic given
    * identical integer inputs, so round(…, 7) cannot flake. */
  private def hitsOracle(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""a$k AS (
         |  SELECT sn AS node, CAST(sum(h.s) AS BIGINT) AS s
         |  FROM pairs JOIN h${k - 1} h ON h.node = cn GROUP BY sn),
         |h$k AS (
         |  SELECT cn AS node, CAST(sum(a.s) AS BIGINT) AS s
         |  FROM pairs JOIN a$k a ON a.node = sn GROUP BY cn)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradePairsCte,
       |h0 AS (SELECT DISTINCT cn AS node, CAST(1 AS BIGINT) AS s FROM pairs),
       |$rounds,
       |nodes AS (
       |  SELECT cn AS node FROM pairs UNION SELECT sn FROM pairs),
       |mx AS (
       |  SELECT (SELECT CAST(max(s) AS DOUBLE) FROM h$iters) AS mh,
       |         (SELECT CAST(max(s) AS DOUBLE) FROM a$iters) AS ma)
       |SELECT
       |  CASE WHEN n.node % 2 = 0 THEN 'c' || CAST(n.node // 2 AS VARCHAR)
       |       ELSE 's' || CAST(n.node // 2 AS VARCHAR) END AS node,
       |  round(coalesce(h.s, 0) / mx.mh, 7) AS hub,
       |  round(coalesce(a.s, 0) / mx.ma, 7) AS auth
       |FROM nodes n CROSS JOIN mx
       |LEFT JOIN h$iters h ON h.node = n.node
       |LEFT JOIN a$iters a ON a.node = n.node
       |ORDER BY node""".stripMargin
  }

  /** HITS over the DIRECTED customer→supplier purchase graph: customers
    * are pure hubs (they only point), suppliers pure authorities — the
    * bipartite reading of Kleinberg's mutual reinforcement, ranking
    * buyers by the popularity of what they buy and suppliers by the
    * reach of who buys from them. Scores are the raw integer
    * endorsement counts of `Hits.run` max-normalized per role; all ~N
    * nodes are emitted (no top-k near-tie flake). */
  val q126HitsAuthorities = Q(
    "q126_hits_authorities",
    hitsOracle(HitsIters)) { (spark, dir) =>
    val edges = tradeLines(spark, dir)
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val scores = Hits.run(edges, HitsIters)
    val mx = scores.agg(
      max(col("hub")).cast("double").as("mh"),
      max(col("auth")).cast("double").as("ma"))
    scores.crossJoin(broadcast(mx)) // 1-row normalizer
      .select(nodeLabel,
        round(col("hub") / col("mh"), 7).as("hub"),
        round(col("auth") / col("ma"), 7).as("auth"))
      .orderBy(col("node"))
  }

  /** Expansion rounds for q127 — the co-purchase graph is an expander,
    * so 3 hops from any seed set reaches nearly everything; unreached
    * nodes simply have no row (both dialects agree on that). */
  private val BfsDepth = 3

  /** Multi-source BFS crawl depth over the symmetrized trade graph:
    * hop distance from a fixed 3-supplier seed set (the "seed frontier" of
    * SURVEY §2.1-S1) to every node they reach within [[BfsDepth]] hops.
    * The engine side is `Iterate.fixpoint` — the crawl scheduler loop
    * itself — carrying a depth column through the frontier expansion:
    * level-order expansion + the visited anti-join IS Dijkstra on unit
    * weights, so the first depth a node arrives with is its minimum.
    * Depths are exact integers (no float in the whole query), and every
    * reached node is emitted — the same no-flake shape as q76/q126.
    *
    * The oracle is a bounded recursive CTE: expand ≤ [[BfsDepth]] hops
    * with UNION-distinct on (node, depth) states, then take each node's
    * min depth — a different evaluation order (breadth-first frontier
    * vs all-bounded-paths-then-min) that must land on the same map. */
  val q127CrawlDepth = Q(
    "q127_crawl_depth",
    s"""WITH RECURSIVE $tradePairsCte,
       |${bothWaysCte()},
       |seeds AS (
       |  SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey <= 3),
       |reach(node, depth) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, r.depth + 1
       |  FROM reach r JOIN edges e ON e.src = r.node
       |  WHERE r.depth < $BfsDepth)
       |SELECT $nodeLabelSql,
       |  CAST(min(depth) AS INTEGER) AS depth
       |FROM reach GROUP BY node ORDER BY node""".stripMargin) { (spark, dir) =>
    val pairs = tradePairs(spark, dir)
    val edges = bothWays(pairs).cache()
    val seeds = Tables.supplier(spark, dir)
      .filter(col("s_suppkey") <= 3)
      .select((col("s_suppkey") * 2 + 1).as("node"), lit(0).as("depth"))
    // bfsDepth is size-gated: under LocalGate.EdgeLimit the hops run
    // driver-local over the one-job-collected edge list (the distributed
    // fixpoint paid ~4 scheduler-synchronized jobs PER HOP — bench #1 in
    // r6 at 8.6 s for a graph the local path walks in milliseconds);
    // above the gate it is the same Iterate.fixpoint crawl loop as before
    val reached = Iterate.bfsDepth(seeds, edges, maxIter = BfsDepth)
    // reached is already materialized (a union of per-round cut slices
    // on the distributed path, a local relation under the gate), so the
    // caches can drop now and the final sort needs no forced
    // materialization
    edges.unpersist(false); pairs.unpersist(false)
    reached.select(nodeLabel, col("depth").cast("int").as("depth"))
      .orderBy(col("node"))
  }

  /** Hop bound for q131 — same expander argument as [[BfsDepth]]. */
  private val RelaxRounds = 3

  /** DuckDB twin of the min-relaxation rounds: one CTE per round,
    * d_k = min(d_{k-1}, d_{k-1} relaxed over edges) — the textbook
    * Bellman-Ford recurrence, which the delta-frontier loop in
    * `Iterate.relaxMin` provably equals (relaxing an unimproved node
    * reproduces candidates that already lost a min). Unrolled like the
    * PageRank/HITS oracles; costs are CENTS AS BIGINT end to end, so
    * there is no float to disagree on. */
  private def relaxOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""d$k AS (
         |  SELECT node, min(cost) AS cost FROM (
         |    SELECT node, cost FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst, d.cost + e.w FROM d${k - 1} d
         |    JOIN edges e ON e.src = d.node) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn,
       |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= DATE '$SinceDate'
       |  GROUP BY 1, 2),
       |${bothWaysCte(", w")},
       |d0 AS (
       |  SELECT s_suppkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS cost
       |  FROM supplier WHERE s_suppkey <= 3),
       |$steps
       |SELECT $nodeLabelSql,
       |  cost
       |FROM d$rounds ORDER BY node""".stripMargin
  }

  /** Cheapest-path cost (bounded hops) from the q127 seed suppliers to
    * every node of the symmetrized trade graph, edge weight = cheapest
    * lineitem (in cents) ever shipped on that customer–supplier lane —
    * the weighted sibling of q127's BFS: same seeds, same graph, but the
    * frontier refines a VALUE per node (`Iterate.relaxMin`) instead of
    * setting a visited bit, because a longer path can be cheaper.
    * Integer-exact cents, every reached node emitted — no float, no
    * top-k tie to flake. */
  val q131CheapestPaths = Q(
    "q131_cheapest_paths",
    relaxOracle(RelaxRounds)) { (spark, dir) =>
    val pairs = tradeLines(spark, dir)
      .groupBy((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("w"))
      .cache()
    val edges = bothWays(pairs, "w").cache()
    val seeds = Tables.supplier(spark, dir)
      .filter(col("s_suppkey") <= 3)
      .select((col("s_suppkey") * 2 + 1).as("node"), lit(0L).as("cost"))
    // relaxMin is size-gated like bfsDepth above (driver-local
    // Bellman-Ford under LocalGate.EdgeLimit, distributed delta
    // rounds above); its output is already materialized either way
    val dist = Iterate.relaxMin(seeds, edges, maxIter = RelaxRounds)
    edges.unpersist(false); pairs.unpersist(false)
    dist.select(nodeLabel, col("cost"))
      .orderBy(col("node"))
  }

  /** Peel parameters for q132: k = 3 with 3 rounds is non-degenerate at
    * every testdata SF (probed: sf0.1 cascades 869 → 366 → 228 → 159
    * edges; sf0.01/0.001 are denser and mostly survive — both readings
    * are correct peels). */
  private val CoreK = 3
  private val PeelRounds = 3

  /** Unrolled peel oracle: one (degree, survivors, restricted-edges)
    * CTE triple per round — the same bounded-round semantics as
    * `KCore.peel`, evaluated by a different engine. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""d${r - 1} AS (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT a AS n FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) GROUP BY n),
         |n$r AS (SELECT n FROM d${r - 1} WHERE d >= $k),
         |e$r AS (
         |  SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT n FROM n$r) AND b IN (SELECT n FROM n$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH $coEdgesCte,
       |e0 AS (SELECT a, b FROM e),
       |$steps
       |SELECT n AS node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY n ORDER BY node""".stripMargin
  }

  /** Bounded k-core peel of q80's supplier co-purchase graph: delete
    * nodes of degree < [[CoreK]] for [[PeelRounds]] rounds, emit the
    * surviving subgraph's (node, degree) — the loosely-attached fringe
    * peels off (tendrils first), the dense trading community survives.
    * Same graph as the triangle census so the two community views
    * compose; the peel itself is `KCore.peel`, size-gated driver-local
    * under `LocalGate.EdgeLimit` exactly like the other graph
    * loops, with the distributed semi-join rounds above the gate.
    * Integer degrees end to end — nothing to flake. */
  val q132KcorePeel = Q(
    "q132_kcore_peel",
    kcoreOracle(CoreK, PeelRounds)) { (spark, dir) =>
    KCore.peel(coPurchaseEdges(spark, dir), CoreK, PeelRounds).orderBy(col("node"))
  }

  /** Degree cap for Adamic–Adar wedge middles (q161): hubs above this
    * emit O(d²) wedges while contributing 1/ln(d) ≈ nothing per pair. */
  private val AaDegCap = 64

  /** Adamic–Adar link prediction (`operators/LinkPredict`) over q80's
    * supplier co-purchase graph: the top unlinked pairs by
    * Σ_z 1/ln(deg z) over common neighbors z — "who should be trading
    * but isn't", the classic missing-edge primitive. Wedge middles are
    * degree-capped (wedge volume ≤ cap·2m) and the per-wedge 1/ln(deg)
    * weights are quantized to a 1e-7 integer grid BEFORE the sum, so
    * the score aggregate is an order-independent BIGINT sum — float
    * summation order can't flake the hash. The oracle replays adjacency
    * → capped middles → wedge self-join → anti-join relationally. */
  val q161LinkPredict = Q(
    "q161_link_predict",
    s"""WITH $coEdgesCte,
       |adj AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY z),
       |mid AS (
       |  SELECT z, CAST(round(10000000.0 / ln(deg)) AS BIGINT) AS w_units
       |  FROM deg WHERE deg BETWEEN 2 AND $AaDegCap),
       |w AS (
       |  SELECT u.n AS u, v.n AS v, m.w_units
       |  FROM mid m JOIN adj u ON u.z = m.z JOIN adj v ON v.z = m.z
       |  WHERE u.n < v.n),
       |s AS (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
       |    CAST(sum(w_units) AS BIGINT) AS aa_units
       |  FROM w GROUP BY 1, 2),
       |p AS (
       |  SELECT s.u, s.v, s.n_common, s.aa_units
       |  FROM s LEFT JOIN e ON s.u = e.a AND s.v = e.b WHERE e.a IS NULL)
       |SELECT u, v, n_common, aa_units,
       |  round(CAST(aa_units AS DOUBLE) / 10000000, 7) AS aa_score
       |FROM p ORDER BY aa_units DESC, u, v LIMIT 20""".stripMargin) { (spark, dir) =>
    LinkPredict.adamicAdar(coPurchaseEdges(spark, dir), AaDegCap)
      .withColumn("aa_score",
        round(col("aa_units").cast("double") / LinkPredict.Scale, 7))
      .orderBy(col("aa_units").desc, col("u"), col("v"))
      .limit(20)
  }

  /** Per-node local clustering coefficient over the q80 supplier
    * co-purchase graph — "how clique-ish is each hub's neighborhood",
    * the node-grain refinement of q80's single global_cc number (a hub
    * can have huge degree and zero closure; the global ratio can't see
    * that). Per-node triangle counts come from exploding the
    * degree-ordered enumerator's triple rows to their three corners —
    * still the O(m^1.5) oriented-wedge bound, one extra narrow explode
    * + count — while the oracle re-enumerates id-ordered triples
    * relationally. lcc = 2·tri/(deg·(deg−1)) is one double expression
    * over exact integers. Top-20 by (degree, id) keeps the output
    * bounded and the order total. */
  val q189LocalClustering = Q(
    "q189_local_clustering",
    s"""WITH $coEdgesCte,
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
       |  JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pt AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS n_tri
       |  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
       |        UNION ALL SELECT z FROM tri) GROUP BY n)
       |SELECT d.n AS supplier, d.deg, coalesce(pt.n_tri, 0) AS n_tri,
       |  round(CASE WHEN d.deg >= 2
       |    THEN 2.0 * coalesce(pt.n_tri, 0) / (d.deg * (d.deg - 1))
       |    ELSE 0 END, 6) AS lcc
       |FROM deg d LEFT JOIN pt ON pt.n = d.n
       |ORDER BY d.deg DESC, supplier LIMIT 20""".stripMargin) { (spark, dir) =>
    val e = coPurchaseEdges(spark, dir)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val pt = Triangles.triangles(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    deg.join(pt.withColumnRenamed("n_tri", "pt_tri"), Seq("n"), "left")
      .select(col("n").as("supplier"), col("deg"),
        coalesce(col("pt_tri"), lit(0L)).as("n_tri"),
        round(when(col("deg") >= 2,
          lit(2.0) * coalesce(col("pt_tri"), lit(0L))
            / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)), 6).as("lcc"))
      .orderBy(col("deg").desc, col("supplier"))
      .limit(20)
  }

  /** Degree assortativity (Newman 2002) of the same co-purchase graph:
    * do high-degree suppliers trade alongside other high-degree
    * suppliers (r > 0, social-network-like) or with the periphery
    * (r < 0, hub-and-spoke-like)? Over the symmetrized edge list the
    * Pearson correlation of endpoint degrees collapses to
    * r = (M·Σjk − (Σj)²)/(M·Σj² − (Σj)²) with every Σ an exact
    * integer — accumulated in DECIMAL(38,0)/HUGEINT so degree⁴-scale
    * sums can't overflow at any graph size — and one final double
    * division. Two joins of the edge list against the degree table
    * (both shuffle equi-joins on node id) and a single-row aggregate;
    * no per-pair float ever exists. */
  val q190Assortativity = Q(
    "q190_assortativity",
    s"""WITH $coEdgesCte,
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
       |de AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
       |j AS (
       |  SELECT d1.deg AS ju, d2.deg AS jv
       |  FROM de JOIN deg d1 ON d1.n = de.u JOIN deg d2 ON d2.n = de.v),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    sum(CAST(ju AS HUGEINT)) AS sj,
       |    sum(CAST(ju AS HUGEINT) * ju) AS sj2,
       |    sum(CAST(ju AS HUGEINT) * jv) AS sjk
       |  FROM j),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT n_nodes, m // 2 AS n_edges,
       |  round((CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
       |      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
       |    / (CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE)
       |      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)), 6) + 0.0 AS assortativity
       |FROM s CROSS JOIN nn""".stripMargin) { (spark, dir) =>
    val e = coPurchaseEdges(spark, dir)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val de = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val j = de
      .join(deg.select(col("n").as("u"), col("deg").as("ju")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("jv")), "v")
    val s = j.agg(count(lit(1)).as("m"),
      sum(col("ju").cast("decimal(38,0)")).as("sj"),
      sum(col("ju").cast("decimal(38,0)") * col("ju")).as("sj2"),
      sum(col("ju").cast("decimal(38,0)") * col("jv")).as("sjk"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    s.crossJoin(broadcast(nn))
      .select(col("n_nodes"), expr("m div 2").as("n_edges"),
        Q.noNegZero(round((col("m").cast("double") * col("sjk").cast("double")
            - col("sj").cast("double") * col("sj").cast("double"))
          / (col("m").cast("double") * col("sj2").cast("double")
            - col("sj").cast("double") * col("sj").cast("double")), 6))
          .as("assortativity"))
  }

  val all: Seq[Q] = Seq(q76Pagerank, q80TriangleCensus,
    q112PersonalizedPagerank, q126HitsAuthorities, q127CrawlDepth,
    q131CheapestPaths, q132KcorePeel, q161LinkPredict,
    q189LocalClustering, q190Assortativity)
}
