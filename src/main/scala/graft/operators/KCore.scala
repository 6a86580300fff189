package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Bounded k-core peeling (Seidman 1983 cores; the bounded-round form
  * of the standard peel): repeatedly delete every node whose degree in
  * the CURRENT surviving subgraph is < k, `rounds` times. The k-core is
  * the fixpoint; bounded rounds give the deterministic prefix of the
  * peel that an unrolled SQL oracle can replay round-for-round, and in
  * a data pipeline the early rounds already identify the loosely-
  * attached fringe (tendrils peel first, dense communities survive).
  *
  * Scale design: one round = a degree aggregation (map-side partial on
  * the endpoint key) + two semi-joins restricting the edge list to the
  * survivors — all keyed shuffles, lineage cut per round with
  * `localCheckpoint` (the [[Iterate]] pattern). Under
  * [[LocalGate.EdgeLimit]] the whole peel runs driver-local on
  * primitive arrays behind the same one-take-job gate as the other
  * graph loops ([[LocalGate]]); both paths are property-tested equal
  * (KCoreSpec).
  */
object KCore {

  /** @param edges  undirected edges, columns (a, b); duplicates and
    *               self-loops are dropped (degree = distinct neighbors)
    * @param k      minimum surviving degree
    * @param rounds peel rounds (the fixpoint needs at most the graph's
    *               degeneracy ordering length; callers bound it like
    *               every other iterative op here)
    * @return       (node, deg) for every node of the peeled subgraph,
    *               deg = its degree in that subgraph
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, s"need k >= 1, rounds >= 0; got k=$k rounds=$rounds")
    LocalGate(edges, Seq("a", "b"), LocalGate.EdgeLimit, "kcore") match {
      case LocalGate.Local(es) => peelLocal(edges.sparkSession,
        edges.schema("a").dataType, es, k, rounds)
      case LocalGate.Distributed(e) => peelDistributed(e, k, rounds)
    }
  }

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  private def peelDistributed(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = edges
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    var i = 0
    while (i < rounds) {
      val keep = degrees(e).filter(col("deg") >= k).select(col("n"))
      e = e
        .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint() // cut lineage; peeling is monotone, so extra
                           // rounds after stability are exact no-ops and
                           // the loop needs no per-round emptiness probe
      i += 1
    }
    degrees(e).select(col("n").as("node"), col("deg"))
  }

  /** Driver-local twin: canonical-dedup into arrays, then alternate
    * degree counting over the alive edge set with the < k kill sweep —
    * early exit when a round kills nobody (same result as running the
    * remaining no-op rounds). */
  private def peelLocal(spark: org.apache.spark.sql.SparkSession,
      nodeType: org.apache.spark.sql.types.DataType,
      es: Array[Row], k: Int, rounds: Int): DataFrame = {
    val ix = new LocalGate.NodeIndex
    val (ea, eb) = ix.undirected(es)
    val m = ea.length
    val n = ix.size
    val alive = Array.fill(n)(true)
    val deg = new Array[Int](n)
    var round = 0
    var changed = true
    while (round < rounds && changed) {
      java.util.Arrays.fill(deg, 0)
      var e = 0
      while (e < m) {
        if (alive(ea(e)) && alive(eb(e))) { deg(ea(e)) += 1; deg(eb(e)) += 1 }
        e += 1
      }
      changed = false
      var v = 0
      while (v < n) {
        if (alive(v) && deg(v) < k) { alive(v) = false; changed = true }
        v += 1
      }
      round += 1
    }
    // final degrees over the surviving edge set
    java.util.Arrays.fill(deg, 0)
    var e = 0
    while (e < m) {
      if (alive(ea(e)) && alive(eb(e))) { deg(ea(e)) += 1; deg(eb(e)) += 1 }
      e += 1
    }
    val rows = new java.util.ArrayList[Row]()
    var v = 0
    while (v < n) {
      if (deg(v) > 0) rows.add(Row(ix.node(v), deg(v).toLong))
      v += 1
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("node", nodeType), StructField("deg", LongType))))
  }
}
