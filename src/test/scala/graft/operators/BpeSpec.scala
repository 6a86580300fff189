package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE merge learning vs a from-scratch in-memory reference
  * implementation (the Sennrich et al. 2016 algorithm with the
  * (count DESC, pair ASC) tie rule), on a hand-built corpus — the
  * correctness check the DuckDB oracle cannot provide, since the
  * oracle replays the same generated rounds rather than an
  * independent algorithm. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: word-frequency dict, exact pair counts, greedy
    * left-to-right merge apply. */
  private def naive(words: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
    var dict: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.Buffer[(Int, String, String, Long)]()
    for (step <- 1 to rounds) {
      val pc = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      for ((syms, c) <- dict; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) += c
      if (pc.nonEmpty) {
        val ((l, r), c) = pc.toSeq.minBy { case ((pl, pr), pcN) => (-pcN, pl, pr) }
        out += ((step, l, r, c))
        dict = dict.map { case (syms, cnt) =>
          val b = scala.collection.mutable.Buffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.toVector, cnt)
        }
      }
    }
    out.toSeq
  }

  private val sennrich = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
  private def sennrichDocs = sennrich.toSeq.sortBy(_._1)
    .map { case (w, c) => (w + " ") * c.toInt }.toDF("text")

  test("learnMerges replays the reference algorithm on the classic corpus") {
    val rounds = 12
    val got = Bpe.learnMerges(sennrichDocs, "text", rounds)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val want = naive(sennrich, rounds)
    assert(got === want)
    // sanity on the shape of what it learned: the classic corpus'
    // first merges build the 'est' suffix (e+s at 9, then es+t at 9)
    assert(got.take(2).map(m => m._2 + m._3) === Seq("es", "est"))
  }

  test("merge argmax counts are non-increasing (new pairs inherit ≤ their creator's count)") {
    val got = Bpe.learnMerges(sennrichDocs, "text", 10)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._4 <= a._4, s"step ${b._1} count rose above step ${a._1}")
    }
  }

  test("no learned pair survives as an adjacency after segment()") {
    val rounds = 8
    val merges = Bpe.learnMerges(sennrichDocs, "text", rounds)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      .map(m => (m._2, m._3))
    val seg = Bpe.segment(Bpe.wordDict(sennrichDocs, "text"), merges)
    val remaining = Bpe.pairCounts(seg)
      .select(col("lhs"), col("rhs")).as[(String, String)].collect().toSet
    assert(remaining.intersect(merges.toSet).isEmpty)
  }

  test("compressionCurve: strictly decreasing totals, step-0 = char baseline, drop = pair_count") {
    val rounds = 10
    val curve = Bpe.compressionCurve(sennrichDocs, "text", rounds)
      .as[(Int, Option[String], Option[String], Option[Long], Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(curve.map(_._1) === (0 to rounds))
    // step 0 is the per-character baseline: sum over words of len * freq
    val baseline = sennrich.map { case (w, c) => w.length * c }.sum
    assert(curve.head._5 === baseline)
    // a merge of a pair with lhs != rhs removes exactly pair_count
    // symbols; a self-pair (lhs == rhs) can remove fewer (overlapping
    // occurrences in a letter run merge greedily)
    curve.sliding(2).foreach { case Seq(a, b) =>
      if (b._2.get != b._3.get)
        assert(b._5 === a._5 - b._4.get,
          s"step ${b._1}: total ${b._5} != ${a._5} - ${b._4.get}")
      else {
        assert(b._5 < a._5, s"step ${b._1}: total did not decrease")
        assert(b._5 >= a._5 - b._4.get, s"step ${b._1}: drop exceeds pair count")
      }
    }
  }

  test("overlapping self-pair: greedy apply and true recount (the aaa case)") {
    // "aaaa bb" x3 + "aaa" x2: pair (a,a) counts 3*3 + 2*2 = 13 but the
    // greedy merge only removes 2 per "aaaa" and 1 per "aaa" = 8 symbols
    val docs = Seq("aaaa bb aaaa bb aaaa bb aaa aaa").toDF("text")
    val curve = Bpe.compressionCurve(docs, "text", 1)
      .as[(Int, Option[String], Option[String], Option[Long], Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(curve(1)._2 === Some("a") && curve(1)._3 === Some("a"))
    assert(curve(1)._4 === Some(13L), "weighted pair count")
    assert(curve(0)._5 - curve(1)._5 === 8L, "greedy removes 8, not 13")
    // the distributed leg must agree exactly
    val dist = LocalGate.withOverride(0)(Bpe.compressionCurve(docs, "text", 1)
      .as[(Int, Option[String], Option[String], Option[Long], Long, Double)]
      .collect().toSeq.sortBy(_._1))
    assert(dist === curve)
  }

  test("local twin ≡ distributed leg (LocalGate.withOverride(0) forces the loop)") {
    val a = Bpe.learnMerges(sennrichDocs, "text", 10)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val b = LocalGate.withOverride(0)(Bpe.learnMerges(sennrichDocs, "text", 10)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1))
    assert(a === b)
    val ca = Bpe.compressionCurve(sennrichDocs, "text", 6)
      .as[(Int, Option[String], Option[String], Option[Long], Long, Double)]
      .collect().toSeq.sortBy(_._1)
    val cb = LocalGate.withOverride(0)(Bpe.compressionCurve(sennrichDocs, "text", 6)
      .as[(Int, Option[String], Option[String], Option[Long], Long, Double)]
      .collect().toSeq.sortBy(_._1))
    assert(ca === cb)
  }

  test("distributed rounds stop at dictionary exhaustion (no empty argmax jobs)") {
    // r15 advice close-out: one word "ab" admits exactly one merge;
    // rounds = 30 on the FORCED distributed leg must emit 1 step and
    // stop, not pay 29 further provably-empty distributed argmaxes
    val docs = Seq("ab ab ab").toDF("text")
    val steps = LocalGate.withOverride(0)(Bpe.learnMerges(docs, "text", rounds = 30)
      .as[(Int, String, String, Long)].collect().toSeq)
    assert(steps.map(s => (s._1, s._2, s._3)) === Seq((1, "a", "b")))
    // the curve form stops identically (its per-round total recount
    // would otherwise also keep running)
    val curve = LocalGate.withOverride(0)(Bpe.compressionCurve(docs, "text", 30)
      .as[(Int, Option[String], Option[String], Option[Long], Long, Double)]
      .collect().toSeq)
    assert(curve.map(_._1) === Seq(0, 1))
  }

  test("registered q235 learns 20 deterministic merges at the gate") {
    val df = graft.queries.TextQueries.q235BpeMerges.run(spark, "/root/testdata/sf0.001")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(df.map(_._1) === (1 to 20))
    assert(df.forall(_._4 > 0))
    df.sliding(2).foreach { case Seq(a, b) => assert(b._4 <= a._4) }
  }

  test("NULL word or count rows dropped on both legs; an empty dictionary learns nothing") {
    val counts = Seq[(String, Option[Long])](("low", Some(5L)), ("lower", Some(2L)),
      ("newest", Some(6L)), ("widest", Some(3L)), (null, Some(9L)), ("zzz", None))
    val clean = counts.collect { case (w, Some(c)) if w != null => (w, c) }
    def merges(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String, Long)] =
      Bpe.learnMergesFromCounts(df, 6).as[(Int, String, String, Long)]
        .collect().toSeq.sortBy(_._1)
    val local = merges(counts.toDF("word", "cnt"))
    assert(local === LocalGate.withOverride(0)(merges(counts.toDF("word", "cnt"))))
    assert(local === merges(clean.toDF("word", "cnt")))
    assert(local.size === 6)
    val empty = Seq.empty[(String, Long)].toDF("word", "cnt")
    assert(merges(empty) === Nil)
    assert(LocalGate.withOverride(0)(merges(empty)) === Nil)
  }
}
