package graft.operators

import org.apache.spark.sql.functions.col
import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def peel(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
    KCore.peel(edges.toDF("a", "b"), k, rounds)
      .select(col("node"), col("deg")).as[(Long, Long)].collect().toMap

  // K4 core (1-4) with a pendant chain 4-5-6 and an isolated edge 7-8
  private val graph = Seq(
    1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
    4L -> 5L, 5L -> 6L, 7L -> 8L)

  test("2-core peels the pendant chain one hop per round") {
    // round 1 kills 6, 7, 8 (degree 1); round 2 kills 5 (its neighbor
    // 6 is gone); the K4 — where 4's degree drops from 4 to 3 — stays
    val r1 = peel(graph, k = 2, rounds = 1)
    assert(r1.keySet === Set(1L, 2L, 3L, 4L, 5L))
    val r2 = peel(graph, k = 2, rounds = 2)
    assert(r2 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixpoint reached: more rounds change nothing
    assert(peel(graph, k = 2, rounds = 10) === r2)
  }

  test("k above the densest core empties the graph") {
    assert(peel(graph, k = 4, rounds = 5) === Map.empty)
  }

  test("duplicates, reversed edges and self-loops do not change the peel") {
    val noisy = graph ++ Seq(2L -> 1L, 1L -> 2L, 3L -> 3L)
    assert(peel(noisy, 2, 10) === peel(graph, 2, 10))
  }

  test("local (gated) ≡ distributed (gate disabled) on fixed and random graphs") {
    for (k <- Seq(1, 2, 3); rounds <- Seq(1, 2, 5))
      assert(peel(graph, k, rounds) === LocalGate.withOverride(0)(peel(graph, k, rounds)),
        s"k=$k rounds=$rounds")
    var s = 98765L
    def nxt(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    for (trial <- 1 to 3) {
      val edges = (1 to 250).map { _ =>
        (math.floorMod(nxt(), 35), math.floorMod(nxt(), 35))
      }.filter(e => e._1 != e._2)
      assert(peel(edges, 3, 4) === LocalGate.withOverride(0)(peel(edges, 3, 4)),
        s"trial $trial")
    }
  }

  test("NULL endpoints are dropped on both paths; an empty edge set peels to nothing") {
    // triangle 1-2-3 plus pendant 3-4, and two edges with a NULL source
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), Some(1L)),
      (Some(3L), Some(4L)), (None, Some(1L)), (None, Some(2L)))
    val clean = withNulls.collect { case (Some(a), Some(b)) => (a, b) }
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
      KCore.peel(df, 2, 3).collect().map(r => (r.get(0), r.get(1))).toSet
    val local = rows(withNulls.toDF("a", "b"))
    assert(local === LocalGate.withOverride(0)(rows(withNulls.toDF("a", "b"))))
    assert(local === rows(clean.toDF("a", "b")))
    assert(local === Set((1L, 2L), (2L, 2L), (3L, 2L)))
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(rows(empty) === Set.empty)
    assert(LocalGate.withOverride(0)(rows(empty)) === Set.empty)
  }
}
