package graft.operators

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def count(edges: Seq[(Long, Long)]): Long =
    Triangles.triangles(edges.toDF("a", "b")).count()

  test("one triangle, counted once regardless of edge direction/duplication") {
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 1L, 1L -> 2L)
    assert(count(e) === 1)
  }

  test("K4 has 4 triangles") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val e = for (a <- nodes; b <- nodes if a < b) yield a -> b
    assert(count(e) === 4)
  }

  test("stars and paths have none; self-loops ignored") {
    assert(count(Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 1L)) === 0)
    assert(count(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)) === 0)
  }

  test("two triangles sharing an edge") {
    assert(count(Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L, 3L -> 4L)) === 2)
  }

  private def localCount(edges: Seq[(Long, Long)]): Long = {
    import org.apache.spark.sql.functions.col
    Triangles.triangleCount(edges.toDF("a", "b"))
      .select(col("n_triangles")).as[Long].head()
  }

  test("triangleCount local (gated) ≡ distributed enumerator on fixed graphs") {
    val cases = Seq(
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 1L, 1L -> 2L),
      (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield a -> b).toSeq,
      Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 1L),
      Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L, 3L -> 4L))
    cases.foreach { e => assert(localCount(e) === count(e), e) }
  }

  test("triangleCount local ≡ distributed on pseudo-random graphs") {
    // deterministic LCG so the graphs are reproducible
    var s = 12345L
    def nxt(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    for (trial <- 1 to 3) {
      val edges = (1 to 300).map { _ =>
        (math.floorMod(nxt(), 40), math.floorMod(nxt(), 40))
      }.filter(e => e._1 != e._2)
      val localT = localCount(edges)
      val distT = LocalGate.withOverride(0)(localCount(edges))
      assert(localT === distT, s"trial $trial")
    }
  }

  test("triangleCount: NULL endpoints dropped on both paths; empty edge set counts 0") {
    // one triangle 1-2-3 plus pendant 3-4; the NULL-source edges would
    // close a second "triangle" through a NULL node
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), Some(1L)),
      (Some(3L), Some(4L)), (None, Some(1L)), (None, Some(2L)))
    val clean = withNulls.collect { case (Some(a), Some(b)) => (a, b) }
    def n(df: org.apache.spark.sql.DataFrame): Long =
      Triangles.triangleCount(df).head().getLong(0)
    val local = n(withNulls.toDF("a", "b"))
    assert(local === LocalGate.withOverride(0)(n(withNulls.toDF("a", "b"))))
    assert(local === localCount(clean))
    assert(local === 1L)
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(n(empty) === 0L)
    assert(LocalGate.withOverride(0)(n(empty)) === 0L)
  }
}
