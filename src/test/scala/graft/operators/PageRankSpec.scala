package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  // LocalGate.withOverride(0) forces the distributed loop; the default
  // gate sends these tiny graphs down the driver-local path, so the
  // semantic battery below runs against BOTH implementations
  private def ranks(edges: Seq[(String, String)], iters: Int = 20): Map[String, Double] =
    PageRank.run(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("local and distributed paths agree on every rank") {
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a", "a" -> "c",
      "e" -> "a", "e" -> "b")
    val sym = pairs ++ pairs.map(_.swap)
    val local = ranks(sym, iters = 8)
    val dist = LocalGate.withOverride(0)(ranks(sym, iters = 8))
    assert(local.keySet == dist.keySet)
    local.keys.foreach(k => assert(math.abs(local(k) - dist(k)) < 1e-12,
      s"node $k: local=${local(k)} dist=${dist(k)}"))
  }

  test("personalized paths agree and localize mass around the seed") {
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L, 5L -> 4L)
    val sym = pairs ++ pairs.map(_.swap)
    def ppr(): Map[Long, Double] =
      PageRank.runPersonalized(sym.toDF("src", "dst"), 6, Seq(1L))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = ppr()
    val dist = LocalGate.withOverride(0)(ppr())
    assert(local.keySet == dist.keySet)
    local.keys.foreach(k => assert(math.abs(local(k) - dist(k)) < 1e-12))
    // teleport restarts only at the seed, so the seed dominates
    assert(local(1L) == local.values.max)
  }

  test("the distributed loop passes the semantic battery too") {
    val cycle = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    val r = LocalGate.withOverride(0)(ranks(cycle))
    r.values.foreach(v => assert(math.abs(v - 0.25) < 1e-9))
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a", "a" -> "c")
    val sym = pairs ++ pairs.map(_.swap)
    assert(math.abs(LocalGate.withOverride(0)(ranks(sym)).values.sum - 1.0) < 1e-9)
  }

  test("rank mass is conserved (sums to 1) on a symmetric graph") {
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a", "a" -> "c")
    val sym = pairs ++ pairs.map(_.swap)
    val r = ranks(sym)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("every node of a cycle gets the uniform rank") {
    val cycle = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    val r = ranks(cycle)
    r.values.foreach(v => assert(math.abs(v - 0.25) < 1e-9))
  }

  test("the hub of a symmetric star outranks the spokes") {
    val spokes = (1 to 6).map(i => "hub" -> s"s$i")
    val r = ranks(spokes ++ spokes.map(_.swap))
    assert(r("hub") > r("s1") * 3)
    (1 to 6).foreach(i => assert(math.abs(r(s"s$i") - r("s1")) < 1e-12))
  }

  test("parallel edges weight the walk") {
    // b is reachable twice from a; c once — b must outrank c
    val edges = Seq("a" -> "b", "a" -> "b", "a" -> "c",
      "b" -> "a", "b" -> "a", "c" -> "a")
    val r = ranks(edges)
    assert(r("b") > r("c"))
  }

  test("iteration converges at the damping rate") {
    // consecutive-round delta contracts by the damping factor, so the
    // bound after k rounds is O(0.85^k): ~2.6e-5 headroom at k=20
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "d" -> "a")
    val sym = pairs ++ pairs.map(_.swap)
    val r19 = ranks(sym, 19)
    val r20 = ranks(sym, 20)
    val r21 = ranks(sym, 21)
    val d20 = r20.keys.map(k => math.abs(r20(k) - r21(k))).max
    val d19 = r19.keys.map(k => math.abs(r19(k) - r20(k))).max
    assert(d20 < 1e-4)
    assert(d20 < 0.9 * d19)
  }

  test("NULL endpoints are dropped on both paths; an empty edge set ranks nothing") {
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d")
    val sym = pairs ++ pairs.map(_.swap)
    val withNulls = sym ++ Seq((null: String) -> "a", "b" -> (null: String))
    val local = ranks(withNulls, iters = 6)
    val dist = LocalGate.withOverride(0)(ranks(withNulls, iters = 6))
    val clean = ranks(sym, iters = 6)
    assert(local.keySet === clean.keySet && dist.keySet === clean.keySet)
    clean.keys.foreach { k =>
      assert(math.abs(local(k) - clean(k)) < 1e-12, s"local node $k")
      assert(math.abs(dist(k) - clean(k)) < 1e-12, s"distributed node $k")
    }
    assert(ranks(Seq.empty, iters = 3) === Map.empty)
    assert(LocalGate.withOverride(0)(ranks(Seq.empty, iters = 3)) === Map.empty)
  }
}
