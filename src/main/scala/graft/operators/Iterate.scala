package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CutStats
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** The whole-crawl fixpoint (SURVEY §2.3 G9): the reference's Scrapy
  * scheduler loop — frontier → expand → dedup against visited → repeat —
  * as a driver-side loop of DataFrame ops.
  *
  * Scale notes:
  *  - `visited` dedup is a `left_anti` join, the distributed form of
  *    the RFPDupeFilter fingerprint set: `visited` is broadcast while
  *    its measured size fits Spark's broadcast threshold, and the join
  *    shuffles on the key above it;
  *  - each round's accepted frontier is cut (rule (a) below) and
  *    `visited` is the union of those slices — a flat plan with one
  *    leaf per round that is never copied again;
  *  - `maxIter` bounds the loop (SURVEY §7.4 watch-list).
  *
  * Lineage cuts — the one rule for every `localCheckpoint` in graft
  * (LINEAGE_CUTS.md measures each call; LineageCutsSpec keeps it in
  * step with the code). A cut stays only when it
  *  (a) cuts loop state that references itself: without it the plan
  *      grows with the round count;
  *  (b) materializes an intermediate read at least twice that
  *      ReuseExchange does not share, and a with/without timing shows
  *      the cut pays; or
  *  (c) materializes a result before its operator releases the caches
  *      it was computed from (`Hits.finish`, the `PageRank` loop).
  * Every other cut is deleted. Kept cuts are plain eager calls, with no
  * option to choose another kind (ROADMAP direction 4). A kept cut here
  * carries its measured row count as its plan statistics ([[sized]]),
  * counted in the cut's own job, so joins over it are planned from its
  * true size and the loops take emptiness from that count, not from a
  * job of its own.
  *
  * Size gating: a k-round DataFrame loop pays k× scheduler/checkpoint
  * latency that dwarfs the compute for small graphs (the
  * [[LocalGate]] lesson — r5 measured the identical graph's rank loop
  * collapsing from 130+ s to ~1 s through the gate).
  * [[fixpoint]] takes an OPAQUE step function (the crawl pipeline's
  * fan-out is arbitrary DataFrame code), so it cannot be localized
  * generically — but its two edge-list specializations can and are:
  * [[bfsDepth]] (unit-weight reachability with hop depth) and
  * [[relaxMin]] (weighted min-cost relaxation) both collect an
  * under-gate edge list in ONE take-job and iterate primitive arrays,
  * keeping the distributed loop for edge sets that don't fit a driver.
  * Both paths are property-tested equal (IterateSpec).
  */
object Iterate {

  /** Iterate `step` from `seed` until the frontier drains or `maxIter`.
    *
    * @param seed    initial frontier
    * @param step    frontier → newly generated candidate rows
    * @param keyCols identity columns for visited-set dedup
    * @return all rows ever visited (seed ∪ every accepted frontier)
    */
  def fixpoint(seed: DataFrame, step: DataFrame => DataFrame,
      keyCols: Seq[String], maxIter: Int): DataFrame = {
    var (frontier, rows) = sized(seed.dropDuplicates(keyCols), FrontierMetric)(
      _.localCheckpoint())
    var visited = frontier
    var i = 0
    while (i < maxIter && rows > 0) {
      val (next, n) = sized(step(frontier)
        .dropDuplicates(keyCols)
        .join(visited, keyCols, "left_anti"), FrontierMetric)(
        _.localCheckpoint()) // (a): the next round reads it
      frontier = next
      rows = n
      visited = visited.unionByName(frontier)
      i += 1
    }
    visited
  }

  /** The observed metric that carries each [[fixpoint]] frontier's size
    * (the seed's, then each round's): one line per round from
    * [[graft.GraftSession]]'s logger. */
  val FrontierMetric = "graft.fixpoint.frontier"

  /** A kept cut that knows its size. `cut` is the site's literal
    * `localCheckpoint`; the row count is observed as `metric` in the
    * cut's own job (no second job), and the cut's leaf then carries it
    * as its statistics ([[CutStats]]). Returns the cut and its count. */
  private def sized(df: DataFrame, metric: String)(
      cut: DataFrame => DataFrame): (DataFrame, Long) = {
    val observed = df.observe(metric, count(lit(1)).as("rows"))
    val c = cut(observed)
    val rows = observed.queryExecution.observedMetrics(metric).getLong(0)
    (CutStats.withRowCount(c, rows), rows)
  }

  /** Multi-source BFS with hop depth — [[fixpoint]] specialized to an
    * explicit edge list, which is what makes it size-gateable: the step
    * is known to be "join the frontier to `edges`, depth + 1", so under
    * [[LocalGate.EdgeLimit]] the loop runs driver-local over the
    * take-collected edges instead of paying ~4 scheduler-synchronized
    * jobs per hop. Above the gate it delegates to [[fixpoint]] with
    * exactly that step (the distributed crawl-scheduler shape: visited
    * anti-join = the RFPDupeFilter analog).
    *
    * Semantics (both paths): a node's depth is fixed at FIRST arrival —
    * level-order expansion, so with uniform seed depths every node gets
    * its minimum hop distance. Seed rows should be distinct per node
    * and same-round arrivals tie-break arbitrarily on the distributed
    * path (the local path keeps the round minimum) — callers wanting
    * determinism seed every node at one depth, as q127 does. Edges
    * with a NULL endpoint are dropped ([[LocalGate]]'s NULL rule). A
    * seed with a NULL `depth` raises an error naming the column on both
    * paths; a NULL seed `node` is kept at its seed depth and reaches
    * nothing (no edge keeps a NULL endpoint).
    *
    * @param seeds (node, depth) initial frontier; depth integral
    * @param edges (src, dst) directed edges
    * @return (node, depth) for every node within `maxIter` hops
    */
  def bfsDepth(seeds: DataFrame, edges: DataFrame, maxIter: Int): DataFrame = {
    val depthType = seeds.schema("depth").dataType
    val cols = Seq("src", "dst")
    val path =
      if (depthType == IntegerType || depthType == LongType)
        LocalGate(edges, cols, LocalGate.EdgeLimit, "bfs")
      else LocalGate.Distributed(LocalGate.nonNull(edges, cols))
    path match {
      case LocalGate.Local(es) => bfsLocal(seeds, es, maxIter)
      case LocalGate.Distributed(e) => fixpoint(
        seeds.withColumn("depth", nonNullSeed("bfsDepth", "depth")),
        frontier => e.join(frontier, e("src") === frontier("node"))
          .select(e("dst").as("node"), (frontier("depth") + 1).as("depth")),
        keyCols = Seq("node"), maxIter = maxIter)
    }
  }

  /** Driver-local BFS twin: CSR adjacency over the collected edges,
    * level-order frontier queue. One seed-collect job; everything else
    * is array work. */
  private def bfsLocal(seeds: DataFrame, es: Array[Row], maxIter: Int): DataFrame = {
    val spark = seeds.sparkSession
    val nodeType = seeds.schema("node").dataType
    val depthType = seeds.schema("depth").dataType
    val seedRows = seeds.select(col("node"), col("depth").cast("long")).collect()
    requireSeeds(seedRows, "bfsDepth", "depth")
    // dense-index every node mentioned anywhere (seeds first, then edges)
    val ix = new LocalGate.NodeIndex
    seedRows.foreach(r => ix.id(r.get(0)))
    val (srcIdx, dstIdx) = ix.endpoints(es)
    val n = ix.size
    // CSR adjacency (out-edges per node)
    val offs = new Array[Int](n + 1)
    var k = 0; while (k < es.length) { offs(srcIdx(k) + 1) += 1; k += 1 }
    k = 0; while (k < n) { offs(k + 1) += offs(k); k += 1 }
    val adj = new Array[Int](es.length)
    val fill = java.util.Arrays.copyOf(offs, n)
    k = 0
    while (k < es.length) {
      adj(fill(srcIdx(k))) = dstIdx(k); fill(srcIdx(k)) += 1; k += 1
    }
    val visited = new Array[Boolean](n)
    val depth = new Array[Long](n)
    val seenRound = Array.fill(n)(-1)
    var frontier = scala.collection.mutable.ArrayBuffer.empty[Int]
    seedRows.foreach { r =>
      val i = ix.id(r.get(0))
      if (!visited(i)) { visited(i) = true; depth(i) = r.getLong(1); frontier += i }
    }
    var round = 0
    while (round < maxIter && frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        val d = depth(u) + 1
        var e = offs(u)
        while (e < offs(u + 1)) {
          val v = adj(e)
          if (!visited(v)) {
            visited(v) = true; depth(v) = d; seenRound(v) = round; next += v
          } else if (seenRound(v) == round && d < depth(v)) depth(v) = d
          e += 1
        }
      }
      frontier = next
      round += 1
    }
    val rows = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) {
      if (visited(i)) rows.add(Row(ix.node(i),
        if (depthType == IntegerType) depth(i).toInt else depth(i)))
      i += 1
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("node", nodeType), StructField("depth", depthType))))
  }

  /** Bounded-round MIN-VALUE relaxation (Bellman-Ford / delta-stepping
    * family): the VALUE-refining sibling of [[fixpoint]]. `fixpoint`'s
    * visited anti-join is right when a node, once reached, is final
    * (unit-weight BFS); with weighted edges a later path can be CHEAPER,
    * so the state per node is a value to be min-merged, not a visited
    * bit.
    *
    * Per round: candidates = frontier ⋈ edges (cost + w), min-combined
    * per node map-side BEFORE the merge; dist' = min(dist, candidates);
    * the next frontier is only the STRICTLY IMPROVED nodes (delta
    * iteration — relaxing an unimproved node reproduces candidates that
    * already lost a min, so dropping them changes nothing but the work).
    * Terminates early when a round improves nothing.
    *
    * Scale: each round shuffles candidate rows (edge fan-out of the
    * improved set, pre-combined) + the dist merge on node — the same
    * per-round shape as PageRank's edge-form rounds; each round's
    * candidates, merged distances and improved frontier are cut (the
    * lineage-cut rule above). Under
    * [[LocalGate.EdgeLimit]] the rounds run driver-local on
    * primitive arrays (relaxing EVERY edge from d_{k-1} each round —
    * provably the same map as the delta-frontier form, since a
    * non-improved source's candidates already lost a min). Edges with
    * a NULL src, dst or w are dropped ([[LocalGate]]'s NULL rule). A
    * seed with a NULL `cost` raises an error naming the column on both
    * paths; a NULL seed `node` is kept at its seed cost and reaches
    * nothing.
    *
    * @param seed  (node, cost) initial distances (need not be distinct)
    * @param edges (src, dst, w) directed weighted edges; w ≥ 0
    * @return (node, cost) minimum cost within `maxIter` hops of any seed
    */
  def relaxMin(seed: DataFrame, edges: DataFrame, maxIter: Int): DataFrame = {
    val costType = seed.schema("cost").dataType
    // localize only when the local kernel reproduces Spark's arithmetic
    // exactly: cost and w the same type, long (long kernel) or double
    // (double kernel); anything else takes the distributed loop.
    // IntegerType is deliberately NOT localizable: the long kernel would
    // compute exact sums where the distributed loop adds in Int (silent
    // wrap in non-ANSI Spark), so near-overflow int costs could diverge
    // between paths — int-cost callers cast to long for the local path.
    val localizable = costType == edges.schema("w").dataType &&
      (costType == LongType || costType == DoubleType)
    val cols = Seq("src", "dst", "w")
    val path =
      if (localizable) LocalGate(edges, cols, LocalGate.EdgeLimit, "relaxmin")
      else LocalGate.Distributed(LocalGate.nonNull(edges, cols))
    path match {
      case LocalGate.Local(es) => relaxLocal(seed, es, maxIter)
      case LocalGate.Distributed(e) => relaxDistributed(
        seed.withColumn("cost", nonNullSeed("relaxMin", "cost")), e, maxIter)
    }
  }

  private def nullSeedMessage(op: String, column: String): String =
    s"Iterate.$op: a seed row has a NULL `$column`; every seed needs a $column"

  /** The distributed paths' seed guard: `column` as is, or a raised
    * error for a NULL, evaluated in the seed projection. */
  private def nonNullSeed(op: String, column: String): Column =
    when(col(column).isNull, raise_error(lit(nullSeedMessage(op, column))))
      .otherwise(col(column))

  /** The local paths' seed guard, over the seed rows they collect anyway
    * (value in column 1). */
  private def requireSeeds(rows: Array[Row], op: String, column: String): Unit =
    require(!rows.exists(_.isNullAt(1)), nullSeedMessage(op, column))

  private def relaxDistributed(seed: DataFrame, edges: DataFrame,
      maxIter: Int): DataFrame = {
    var dist = seed.groupBy("node").agg(min("cost").as("cost"))
    var frontier = dist
    var rows = -1L // the seed is not cut, so its size is unknown: round 1 runs
    var i = 0
    while (i < maxIter && rows != 0) {
      // checkpoint: `cand` feeds both the merge and the improved-frontier
      // join below — without it the edges-join + min-aggregate executes
      // twice per round
      val (cand, _) = sized(edges.join(frontier, edges("src") === frontier("node"))
        .select(edges("dst").as("node"), (frontier("cost") + edges("w")).as("cost"))
        .groupBy("node").agg(min("cost").as("cost")), "graft.relaxmin.candidates")(
        _.localCheckpoint())
      val (merged, _) = sized(dist.unionByName(cand)
        .groupBy("node").agg(min("cost").as("cost")), "graft.relaxmin.dist")(
        _.localCheckpoint())
      val (improved, n) = sized(cand
        .join(dist.withColumnRenamed("cost", "__old"), Seq("node"), "left")
        .filter(col("__old").isNull || col("cost") < col("__old"))
        .select("node", "cost"), "graft.relaxmin.frontier")(
        _.localCheckpoint())
      frontier = improved
      rows = n
      dist = merged
      i += 1
    }
    dist
  }

  /** Driver-local Bellman-Ford twin: d_k from d_{k-1} over two arrays
    * (never in-place — in-place relaxation would admit longer-than-k-hop
    * paths and diverge from the DataFrame recurrence), early exit when a
    * round improves nothing. Long kernel for integral costs (exact, like
    * Spark's ANSI long arithmetic), double kernel for doubles. */
  private def relaxLocal(seed: DataFrame, es: Array[Row], maxIter: Int): DataFrame = {
    val spark = seed.sparkSession
    val nodeType = seed.schema("node").dataType
    val costType = seed.schema("cost").dataType
    val isLong = costType != DoubleType
    val seedRows = seed.select(col("node"),
      (if (isLong) col("cost").cast("long") else col("cost")).as("cost")).collect()
    requireSeeds(seedRows, "relaxMin", "cost")
    val ix = new LocalGate.NodeIndex
    seedRows.foreach(r => ix.id(r.get(0)))
    val (srcIdx, dstIdx) = ix.endpoints(es)
    val wL = if (isLong) es.map(_.getAs[Number](2).longValue()) else null
    val wD = if (isLong) null else es.map(_.getDouble(2))
    val n = ix.size
    var has = new Array[Boolean](n)
    var dL = if (isLong) new Array[Long](n) else null
    var dD = if (isLong) null else new Array[Double](n)
    seedRows.foreach { r =>
      val i = ix.id(r.get(0))
      if (isLong) {
        val c = r.getLong(1)
        if (!has(i) || c < dL(i)) { has(i) = true; dL(i) = c }
      } else {
        val c = r.getDouble(1)
        if (!has(i) || c < dD(i)) { has(i) = true; dD(i) = c }
      }
    }
    var round = 0
    var changed = true
    while (round < maxIter && changed) {
      changed = false
      val nh = has.clone()
      val nL = if (isLong) dL.clone() else null
      val nD = if (isLong) null else dD.clone()
      var e = 0
      while (e < es.length) {
        val s = srcIdx(e)
        if (has(s)) {
          val d = dstIdx(e)
          if (isLong) {
            val c = Math.addExact(dL(s), wL(e))
            if (!nh(d) || c < nL(d)) { nh(d) = true; nL(d) = c; changed = true }
          } else {
            val c = dD(s) + wD(e)
            if (!nh(d) || c < nD(d)) { nh(d) = true; nD(d) = c; changed = true }
          }
        }
        e += 1
      }
      has = nh; dL = nL; dD = nD
      round += 1
    }
    val rows = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) {
      if (has(i)) rows.add(Row(ix.node(i),
        if (costType == LongType) dL(i) else dD(i)))
      i += 1
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("node", nodeType), StructField("cost", costType))))
  }
}
