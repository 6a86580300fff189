package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree-ordered triangle enumeration (the compact-forward algorithm:
  * Latapy 2008). Orienting every edge from its lower-(degree, id)
  * endpoint to the higher one makes each triangle countable exactly
  * once AND bounds every node's out-degree by O(√m), so the wedge
  * self-join — the only superlinear step — generates O(m^1.5) rows
  * worst-case instead of Σdeg² (a hub of degree d contributes C(d,2)
  * wedges unoriented but only C(√m,2) oriented). All joins are shuffle
  * equi-joins on node keys; nothing is collected to the driver.
  */
object Triangles {

  /** @param edges undirected edges, columns (a, b); duplicates and
    *              self-loops tolerated (dropped)
    * @return      one row per triangle (a, b, c) in orientation order
    *
    * Node ids and degrees must fit in 31 bits — the (deg, id)
    * orientation key is packed into one long for a single-column
    * comparison; beyond that range, widen to a struct comparison.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val und = edges
      .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
      .where($"a" =!= $"b")
      .distinct()
    val deg = und.select($"a".as("n")).unionAll(und.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val keyed = und
      .join(deg.select($"n".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"n".as("b"), $"deg".as("db")), "b")
      .select($"a", $"b",
        ($"da" * lit(1L << 32) + $"a").as("ka"),
        ($"db" * lit(1L << 32) + $"b").as("kb"))
    val oriented = keyed.select(
        when($"ka" < $"kb", $"a").otherwise($"b").as("src"),
        when($"ka" < $"kb", $"b").otherwise($"a").as("dst"),
        when($"ka" < $"kb", $"kb").otherwise($"ka").as("kdst"))
      // read three times (two wedge sides, the closing probe) but not
      // cut — it cost q189 17% at sf0.1 (LINEAGE_CUTS.md) — nor cached:
      // the lazy result could never unpersist it
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    wedges.join(oriented.select($"src".as("b"), $"dst".as("c")), Seq("b", "c"))
      .select($"a", $"b", $"c")
  }

  /** Triangle COUNT with the [[LocalGate.EdgeLimit]] size gate:
    * under the gate the census runs driver-local (same one-take-job
    * gate-and-collect as the other graph operators) with the forward
    * algorithm over a CSR of the degree-oriented DAG — a stamp array
    * per source, O(m^1.5) like the distributed wedge join, but zero
    * shuffles and zero materialized wedge rows. Above the gate it is
    * `triangles(edges).agg(count)` unchanged. The gate returns only a
    * COUNT (one row), never the triangle list — a dense under-gate
    * graph can hold orders of magnitude more triangles than edges, and
    * those belong to the distributed enumerator. Edges with a NULL
    * endpoint are dropped on both paths ([[LocalGate]]'s NULL rule).
    *
    * @return one row, column `n_triangles` (long)
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    LocalGate(edges, Seq("a", "b"), LocalGate.EdgeLimit, "triangles") match {
      case LocalGate.Local(es) => countLocal(edges.sparkSession, es)
      case LocalGate.Distributed(e) => triangles(e).agg(count(lit(1)).as("n_triangles"))
    }
  }

  private def countLocal(spark: org.apache.spark.sql.SparkSession,
      es: Array[org.apache.spark.sql.Row]): DataFrame = {
    val ix = new LocalGate.NodeIndex
    val (ea, eb) = ix.undirected(es)
    val m = ea.length
    val n = ix.size
    val deg = new Array[Int](n)
    var k = 0; while (k < m) { deg(ea(k)) += 1; deg(eb(k)) += 1; k += 1 }
    // orient each edge from the lower (deg, idx) endpoint — the same
    // packed-key total order as the distributed enumerator
    def key(v: Int): Long = deg(v).toLong << 32 | v
    val offs = new Array[Int](n + 1)
    k = 0
    while (k < m) {
      offs((if (key(ea(k)) < key(eb(k))) ea(k) else eb(k)) + 1) += 1; k += 1
    }
    k = 0; while (k < n) { offs(k + 1) += offs(k); k += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(offs, n)
    k = 0
    while (k < m) {
      val (s, d) = if (key(ea(k)) < key(eb(k))) (ea(k), eb(k)) else (eb(k), ea(k))
      adj(fill(s)) = d; fill(s) += 1
      k += 1
    }
    // forward counting: stamp u's out-set, probe each out-neighbor's
    // out-set against the stamps
    val stamp = Array.fill(n)(-1)
    var tri = 0L
    var u = 0
    while (u < n) {
      var e = offs(u)
      while (e < offs(u + 1)) { stamp(adj(e)) = u; e += 1 }
      e = offs(u)
      while (e < offs(u + 1)) {
        val v = adj(e)
        var f = offs(v)
        while (f < offs(v + 1)) { if (stamp(adj(f)) == u) tri += 1; f += 1 }
        e += 1
      }
      u += 1
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](1)
    rows.add(org.apache.spark.sql.Row(tri))
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_triangles",
        org.apache.spark.sql.types.LongType))))
  }
}
