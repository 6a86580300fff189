package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** PageRank by power iteration over an edge list — the standard
  * importance measure for crawl/link graphs (Page et al. 1999), here as
  * a pure DataFrame loop so Catalyst plans every step.
  *
  * Scale design:
  *  - the edge relation is joined ONCE with out-degrees and cached
  *    hash-partitioned by `src` — the layout every iteration's rank
  *    join then streams from, so no round ever exchanges or sorts
  *    edge-scale data. (An earlier adjacency-array variant collapsed
  *    edges into `(src, dsts: array)` rows; the arrays bought nothing —
  *    the per-round gather's map-side partial aggregation on `dst`
  *    yields the same shuffle reduction either way — and cost an
  *    ObjectHashAggregate + explode that break whole-stage codegen.
  *    Plain rows keep the whole round codegen'd.)
  *  - the per-round join STRATEGY is pinned by construction, not left
  *    to statistics: after `localCheckpoint` the rank relation is a
  *    `LogicalRDD` that keeps its origin plan's size estimate, which
  *    the join-size rule multiplies through every round's joins, so a
  *    stats-driven planner can pick `SortMergeJoin` and re-sort the
  *    cached edges EVERY round (r3 verdict measured erratic edge-scale
  *    rounds from exactly this). Instead the node-sized side is hinted:
  *    `broadcast` when the node count fits an executor (zero exchange,
  *    zero sort), else `shuffle_hash` (the exchange is rank-sized and
  *    the edges stream unsorted from their cached layout into the hash
  *    join). PlanSpec pins the round plan: no SortMergeJoin, at most
  *    the one rank-sized exchange beyond the gather.
  *  - the per-round shuffle is the mass gather on `dst`: partial
  *    aggregation collapses each partition's contribution before the
  *    exchange, so shuffle bytes are bounded by distinct-dst-per-
  *    partition, never raw edge count;
  *  - ranks are `localCheckpoint`ed every [[CheckpointEvery]] rounds:
  *    lineage stays bounded and the optimizer replans a small tree
  *    instead of a 2^k-join tree (the connected-components lesson — see
  *    `Dedup.connectedComponents`).
  *  - at or below [[LocalGate.EdgeLimit]] edges the whole iteration
  *    runs driver-local: the gate's one take-job collects the edge
  *    list and [[runLocal]] power-iterates primitive arrays.
  *
  * Dangling nodes (out-degree 0) are not produced by symmetric graphs;
  * for directed input the caller symmetrizes or accepts rank leakage —
  * both standard formulations.
  */
object PageRank {

  /** Above this node count the rank relation stops being broadcast and
    * the per-round joins fall back to shuffled-hash (rank-sized
    * exchange, edges still never sorted). ~4M (node, double) rows
    * ≈ 100 MB serialized — the conventional broadcast ceiling. */
  val BroadcastNodeLimit: Long = 4L << 20

  /** Brin–Page damping (follow an out-edge, else teleport); the rank oracles cite it. */
  val Damping = 0.85

  /** @param edges directed edges, columns (src, dst); duplicates
    *              count as parallel edges (weight = multiplicity);
    *              edges with a NULL endpoint are dropped on both paths
    *              ([[LocalGate]]'s NULL rule).
    * @return      one row per node with out-edges: (node, pr)
    */
  def run(edges: DataFrame, iterations: Int): DataFrame = {
    import edges.sparkSession.implicits._
    LocalGate(edges, Seq("src", "dst"), LocalGate.EdgeLimit, "pagerank") match {
      case LocalGate.Local(es) => runLocal(edges.sparkSession,
        edges.schema("src").dataType, es, iterations, Damping, seeds = None)
      case LocalGate.Distributed(e) => loop(e, iterations, Damping,
        init = lit(1.0) / $"n_nodes",
        teleport = lit(1.0 - Damping) / $"n_nodes")
    }
  }

  /** Personalized PageRank: the teleport mass restarts at `seeds`
    * instead of everywhere, so ranks measure proximity to the seed set
    * (the "related items / similar users" graph feature). Identical
    * one-join-per-round plan; only the two rank expressions differ. */
  def runPersonalized(edges: DataFrame, iterations: Int, seeds: Seq[Long]): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs a seed set")
    import edges.sparkSession.implicits._
    LocalGate(edges, Seq("src", "dst"), LocalGate.EdgeLimit, "pagerank") match {
      case LocalGate.Local(es) => runLocal(edges.sparkSession,
        edges.schema("src").dataType, es, iterations, Damping, seeds = Some(seeds))
      case LocalGate.Distributed(e) =>
        val seedMass = 1.0 / seeds.size
        loop(e, iterations, Damping,
          init = when($"node".isin(seeds: _*), lit(seedMass)).otherwise(lit(0.0)),
          teleport = when($"node".isin(seeds: _*), lit((1.0 - Damping) * seedMass))
            .otherwise(lit(0.0)))
    }
  }

  /** Rounds between the distributed loop's rank checkpoints. */
  private val CheckpointEvery = 2

  /** Driver-local power iteration for edge sets under the gate. Same
    * formulation as the distributed loop round-for-round: mass gathers
    * as Σ pr(src)/deg(src) per dst, then pr' = teleport + damping·mass;
    * destinations with no out-edges hold no rank (exactly the
    * distributed gather's inner join on the src-derived node set), and
    * parallel edges contribute once each. Node ids stay whatever type
    * the caller used — the output column keeps the input's `src` type. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      nodeType: org.apache.spark.sql.types.DataType, es: Array[Row],
      iterations: Int, damping: Double, seeds: Option[Seq[Long]]): DataFrame = {
    // dense-index the node set (distinct srcs, first-seen order)
    val ix = new LocalGate.NodeIndex
    es.foreach(r => ix.id(r.get(0)))
    val n = ix.size
    val srcIdx = new Array[Int](es.length)
    val dstIdx = new Array[Int](es.length)
    val deg = new Array[Double](n)
    var k = 0
    while (k < es.length) {
      val si = ix.find(es(k).get(0))
      srcIdx(k) = si
      dstIdx(k) = ix.find(es(k).get(1))
      deg(si) += 1.0
      k += 1
    }
    val teleport = new Array[Double](n)
    var pr = new Array[Double](n)
    seeds match {
      case None =>
        java.util.Arrays.fill(pr, 1.0 / n)
        java.util.Arrays.fill(teleport, (1.0 - damping) / n)
      case Some(ss) =>
        val set = ss.toSet
        val isSeed: Any => Boolean = {
          case l: java.lang.Long    => set(l.longValue)
          case i: java.lang.Integer => set(i.longValue)
          case s: java.lang.Short   => set(s.longValue)
          case _                    => false
        }
        val m = 1.0 / ss.size
        var i = 0
        while (i < n) {
          if (isSeed(ix.node(i))) { pr(i) = m; teleport(i) = (1.0 - damping) * m }
          i += 1
        }
    }
    var next = new Array[Double](n)
    val contrib = new Array[Double](n)
    var it = 0
    while (it < iterations) {
      var i = 0
      while (i < n) { contrib(i) = pr(i) / deg(i); next(i) = 0.0; i += 1 }
      var e = 0
      while (e < es.length) {
        val d = dstIdx(e)
        if (d >= 0) next(d) += contrib(srcIdx(e))
        e += 1
      }
      i = 0
      while (i < n) { next(i) = teleport(i) + damping * next(i); i += 1 }
      val tmp = pr; pr = next; next = tmp
      it += 1
    }
    val rows = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) { rows.add(Row(ix.node(i), pr(i))); i += 1 }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("node", nodeType), StructField("pr", DoubleType))))
  }

  /** The prepared graph a rank loop iterates over: cached degree-
    * annotated edges (partitioned by `src`), cached node relation (with
    * `n_nodes`), the driver-known node count, and the join-strategy
    * hint every node-sized relation gets (`broadcast` below
    * [[BroadcastNodeLimit]], `shuffle_hash` above). */
  private[graft] final case class Graph(adj: DataFrame, nodes: DataFrame,
      nNodes: Long, hintNodeSized: DataFrame => DataFrame) {
    /** Drop both working caches. `loop` calls this when its checkpoints
      * have materialized the result; any other `prepare()` caller
      * (PlanSpec) must call it too or the session's CacheManager pins
      * adj+nodes until shutdown. */
    def release(): Unit = { adj.unpersist(false); nodes.unpersist(false) }
  }

  /** Annotate edges with out-degree and pick the per-round join
    * strategy. `deg` is node-sized, so its join gets a shuffle-hash
    * hint: the edge relation is exchanged by `src` exactly once (the
    * layout the cache preserves and every round reuses) and never
    * sorted. The one driver-side action is a node-sized `count` that
    * both populates the caches and supplies `n_nodes` without a second
    * aggregate job. */
  private[graft] def prepare(edges: DataFrame,
      broadcastNodeLimit: Long = BroadcastNodeLimit): Graph = {
    val spark = edges.sparkSession
    import spark.implicits._
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val adj = edges.join(deg.hint("shuffle_hash"), "src").cache()
    val nNodes = adj.select($"src").distinct().count() // populates adj cache
    val nodes = adj.select($"src".as("node")).distinct()
      .withColumn("n_nodes", lit(nNodes.toDouble))
      .cache()
    val hint: DataFrame => DataFrame =
      if (nNodes <= broadcastNodeLimit) broadcast else _.hint("shuffle_hash")
    Graph(adj, nodes, nNodes, hint)
  }

  /** One power-iteration round: scatter rank mass along the edges,
    * gather per destination, apply teleport. Both joins carry the
    * node-sized-side hint so the edge relation is never sorted or
    * re-exchanged (PlanSpec pins this shape). */
  private[graft] def round(g: Graph, ranks: DataFrame, damping: Double,
      teleport: Column): DataFrame = {
    import g.adj.sparkSession.implicits._
    val inbound = g.adj.join(g.hintNodeSized(ranks), g.adj("src") === ranks("node"))
      .select($"dst", ($"pr" / $"deg").as("w"))
      .groupBy($"dst")
      .agg(sum($"w").as("mass"))
    g.nodes
      .join(g.hintNodeSized(inbound), g.nodes("node") === inbound("dst"), "left")
      .select($"node",
        (teleport + lit(damping) * coalesce($"mass", lit(0.0))).as("pr"))
  }

  /** Shared power-iteration loop. `init` and `teleport` are expressions
    * over the node relation's columns (`node`, `n_nodes`); uniform
    * values give classic PageRank, seed-indicator values give the
    * personalized variant. */
  private def loop(edges: DataFrame, iterations: Int, damping: Double,
      init: Column, teleport: Column): DataFrame = {
    import edges.sparkSession.implicits._
    val g = prepare(edges)
    var ranks = g.nodes.select($"node", init.as("pr"))
    for (i <- 1 to iterations) {
      ranks = round(g, ranks, damping, teleport)
      // checkpoint every CheckpointEvery rounds (and the last):
      // lineage stays bounded (≤ a CheckpointEvery-round plan tree)
      // while paying a fraction of the eager materializations —
      // per-round checkpointing dominated the wall-clock of small-graph
      // runs
      if (i % CheckpointEvery == 0 || i == iterations) {
        ranks = ranks.localCheckpoint()
      }
    }
    // the eager checkpoints above fully materialized the result, so the
    // working caches can be released before handing the ranks back
    g.release()
    ranks
  }
}
