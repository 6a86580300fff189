package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HitsSpec extends SparkSpec {
  import spark.implicits._

  // LocalGate.withOverride(0) forces the distributed loop; the default
  // gate sends these tiny graphs down the driver-local path, so every
  // test below exercises whichever side it names explicitly
  private def scores(edges: Seq[(String, String)], iters: Int): Map[String, (Long, Long)] =
    Hits.run(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("hand-computed Fibonacci graph: a→x, a→y, b→x") {
    // h0=1: a1(x)=2, a1(y)=1; h1(a)=3, h1(b)=2; a2(x)=5, a2(y)=3;
    // h2(a)=8, h2(b)=5 — the raw counts are exact integers
    val r = scores(Seq("a" -> "x", "a" -> "y", "b" -> "x"), iters = 2)
    assert(r("a") === (8L, 0L))
    assert(r("b") === (5L, 0L))
    assert(r("x") === (0L, 5L))
    assert(r("y") === (0L, 3L))
  }

  test("local and distributed paths agree on every score") {
    val edges = Seq("a" -> "x", "a" -> "y", "b" -> "x", "c" -> "y", "c" -> "z",
      "x" -> "a", "y" -> "c", "b" -> "z", "a" -> "z")
    val local = scores(edges, iters = 3)
    val dist = LocalGate.withOverride(0)(scores(edges, iters = 3))
    assert(local === dist)
  }

  test("local and distributed paths agree on pseudo-random graphs") {
    // deterministic LCG so the case is reproducible without Math.random
    var s = 12345L
    def next(m: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m).toInt + m) % m }
    for (trial <- 1 to 3) {
      val edges = Seq.fill(40)(s"n${next(12)}" -> s"n${next(12)}")
      val local = scores(edges, iters = 3)
      val dist = LocalGate.withOverride(0)(scores(edges, iters = 3))
      assert(local === dist, s"trial $trial diverged")
    }
  }

  test("parallel edges count as weight") {
    val once = scores(Seq("a" -> "x", "b" -> "y"), iters = 1)
    val twice = scores(Seq("a" -> "x", "a" -> "x", "b" -> "y"), iters = 1)
    assert(twice("x")._2 === 2 * once("x")._2)
    assert(twice("a")._1 === 4 * once("a")._1) // both half-steps double
  }

  test("mutual reinforcement: the broader hub outranks, its targets gain") {
    // a points at 3 nodes, b at 1 of them; shared target x outranks y
    val r = scores(Seq("a" -> "x", "a" -> "y", "a" -> "z", "b" -> "x"), iters = 3)
    assert(r("a")._1 > r("b")._1)
    assert(r("x")._2 > r("y")._2)
    assert(r("y") === r("z")) // symmetric targets tie exactly
  }

  test("integer overflow fails fast instead of wrapping (local path)") {
    // a complete bipartite 30×30 graph squares values each round:
    // by round 8 the worst chain exceeds 2^63 and must throw, not wrap
    val edges = for (i <- 1 to 30; j <- 1 to 30) yield s"h$i" -> s"t$j"
    intercept[ArithmeticException] {
      scores(edges, iters = 8)
    }
  }

  test("NULL endpoints are dropped on both paths; an empty edge set scores nothing") {
    val withNulls = Seq("a" -> "x", "a" -> "y", "b" -> "x", "c" -> "y",
      (null: String) -> "x", (null: String) -> "y")
    val clean = withNulls.filter(_._1 != null)
    val local = scores(withNulls, iters = 2)
    assert(local === LocalGate.withOverride(0)(scores(withNulls, iters = 2)))
    assert(local === scores(clean, iters = 2))
    assert(!local.contains(null))
    val empty = Seq.empty[(String, String)]
    assert(scores(empty, iters = 2) === Map.empty)
    assert(LocalGate.withOverride(0)(scores(empty, iters = 2)) === Map.empty)
  }
}
