package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "spark window join filter group table scan merge sort hash " +
    "batch stream row column value key order limit page data"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base),                                    // exact dup of 1
    (3L, base.replace("merge", "shuffle")),        // near dup of 1
    (4L, "totally different content about houses villages districts " +
         "prices areas floors years decoration elevators")
  ).toDF("doc_id", "text")

  test("exactGroups keeps min id and counts copies") {
    val got = Dedup.exactGroups(docs, col("text"), col("doc_id"))
      .orderBy("keep_id").select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("latestSnapshot keeps newest row per key") {
    val snaps = Seq(
      ("h1", "2024-01-01 00:00:00", "old"),
      ("h1", "2024-02-01 00:00:00", "new"),
      ("h2", "2024-01-15 00:00:00", "only")
    ).toDF("id", "ts", "state").withColumn("ts", col("ts").cast("timestamp"))
    val got = Dedup.latestSnapshot(snaps, Seq("id"), "ts", "state")
      .orderBy("id").select("id", "state").as[(String, String)].collect()
    assert(got.toSeq === Seq(("h1", "new"), ("h2", "only")))
  }

  test("jaccardPairs finds exact and near dups, not unrelated docs") {
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3, maxDocFreq = 10)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(got.find(t => (t._1, t._2) == ((1L, 2L))).get._3 === 1.0)
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("FromShingles variants reproduce the docs-path outputs exactly") {
    // r15: q143 builds the (id, sh) view once and feeds both screens —
    // pin that the shared-view path is bit-identical to the public
    // docs-path operators it delegates from
    val shv = Dedup.shingleSetView(docs, "doc_id", "text", n = 3)
    val jDocs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.3, maxDocFreq = 10)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    val jSh = Dedup.jaccardPairsFromShingles(shv, threshold = 0.3, maxDocFreq = 10)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    assert(jSh === jDocs)
    val mDocs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    val mSh = Dedup.minhashLshPairsFromShingles(shv,
        bands = 16, rowsPerBand = 4, threshold = 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    assert(mSh === mDocs)
  }

  test("containmentPairs finds an excerpt Jaccard misses") {
    // doc 2 = first 4 tokens of doc 1 (containment 1.0 for its 2
    // trigram shingles; Jaccard = 2/8 = 0.25); doc 3 unrelated
    val in = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val contained = Dedup.containmentPairs(in, "doc_id", "text",
        n = 3, threshold = 0.8, maxDocFreq = 10)
      .select("id_a", "id_b", "c_a", "c_b")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(contained === Seq((1L, 2L, 0.25, 1.0)))
    // the same pair is invisible to Jaccard at any threshold ≥ 0.3
    val jac = Dedup.jaccardPairs(in, "doc_id", "text",
      n = 3, threshold = 0.3, maxDocFreq = 10).count()
    assert(jac === 0L)
  }

  test("containmentPairs direction: c_a reads 'a inside b'") {
    // a (small) fully inside b (large) → c_a < 1, c_b = 1 when a is
    // the LARGER id? ids order the pair: id_a < id_b always, scores
    // attach to the ids, not the sizes
    val in = Seq(
      (5L, "p q r s"),
      (9L, "p q r s t u v w x y z aa bb cc")).toDF("doc_id", "text")
    val row = Dedup.containmentPairs(in, "doc_id", "text",
        n = 3, threshold = 0.8, maxDocFreq = 10)
      .select("id_a", "id_b", "n_inter", "c_a", "c_b")
      .as[(Long, Long, Long, Double, Double)].head()
    // doc 5 has 2 shingles, both inside doc 9's 12 → c_a = 1.0
    assert(row === ((5L, 9L, 2L, 1.0, round4(2.0 / 12))))
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("minhashLshPairs surfaces the exact-dup pair with est_jaccard 1.0") {
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val exact = got.find(t => t._1 == 1L && t._2 == 2L)
    assert(exact.nonEmpty && exact.get._3 === 1.0)
  }

  test("winnowFingerprints: dups share all fingerprints, count bounded by windows") {
    val got = Dedup.winnowFingerprints(docs, "doc_id", "text", w = 8, k = 4)
      .as[(Long, Long)].collect()
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact dup pair selects identical fingerprint sets
    assert(byDoc(1L) === byDoc(2L))
    // winnowing selects ≤ one hash per window start: n_grams - k + 1 windows
    val nGrams = base.trim.replaceAll("\\s+", " ").length - 8 + 1
    assert(byDoc(1L).nonEmpty && byDoc(1L).size <= nGrams - 4 + 1)
    // unrelated doc shares nothing with the dup cluster
    assert((byDoc(1L) & byDoc(4L)).isEmpty)
  }

  test("connectedComponents: chain, triangle, and pair resolve to min labels") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents refuses an unconverged labeling") {
    // a 40-node path needs several rounds of the distributed fixpoint
    // (LocalGate.withOverride(0) skips the driver-side union-find)
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      LocalGate.withOverride(0)(Dedup.connectedComponents(path, maxIter = 1).collect())
    }
    assert(e.getMessage.contains("maxIter=1"))
    // with the default round budget the same path converges to one label
    val got = LocalGate.withOverride(0)(Dedup.connectedComponents(path)
      .as[(Long, Long)].collect())
    assert(got.length === 40 && got.forall(_._2 == 1L))
  }

  test("dropNearDuplicates keeps one doc per cluster plus all singletons") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.dropNearDuplicates(docs, "doc_id", edges)
      .select("doc_id").as[Long].collect().sorted
    // cluster {1,2,3} → keep 1; doc 4 untouched
    assert(got.toSeq === Seq(1L, 4L))
  }

  test("editDistancePairs: exact dup at 0, near dup at word distance, unrelated absent") {
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        n = 3, maxDist = 10, maxDocFreq = 10)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect()
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair((1L, 2L)) === 0)
    // "merge" -> "shuffle": 6 edits (4 substitutions + 2 insertions)
    assert(byPair((1L, 3L)) === 6 && byPair((2L, 3L)) === 6)
    assert(!byPair.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("editDistancePairs: length-band prefilter excludes past-threshold pairs") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta " + ("pad " * 20))
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(d, "doc_id", "text",
      n = 3, maxDist = 10, maxDocFreq = 10)
    assert(got.count() === 0) // shares shingles, but 80 chars longer
  }

  test("duplicatedSpanCoverage union-merges overlapping spans") {
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e g"),
      (3L, "x y z w v u")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanCoverage(d, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    // shared 3-grams: "a b c","b c d","c d e" at s=1,2,3 → union [1,5]
    assert(got === Map(1L -> 5L, 2L -> 5L))
  }

  test("duplicatedSpanCoverage ignores docs shorter than the span") {
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "a b") // shorter than the span: must not error or appear
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanCoverage(d, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 6L, 2L -> 6L))
  }

  test("duplicatedSpanCoverage counts intra-doc repeats too") {
    val d = Seq((1L, "p q r x x p q r")).toDF("doc_id", "text")
    // "p q r" occurs twice inside one doc → spans [1,3] and [6,8]
    val got = Dedup.duplicatedSpanCoverage(d, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 6L))
  }

  test("removeDuplicatedSpans: shared run cut from both docs, rest reassembled in order") {
    val d = Seq(
      (1L, "a b c d e f"),   // shares "a b c","b c d","c d e" with doc 2
      (2L, "a b c d e g"),   // → union [1,5] removed from both
      (3L, "x y z w v u")    // untouched
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(d, "doc_id", "text", 3)
      .as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got === Map(
      1L -> (1L, "f"), 2L -> (1L, "g"), 3L -> (6L, "x y z w v u")))
  }

  test("removeDuplicatedSpans: fully duplicated doc empties; case/space normalize") {
    val d = Seq(
      (1L, "A b  C"),        // normalizes to "a b c" — exact dup of doc 2
      (2L, "a b c"),
      (3L, "a b")            // shorter than span: untouched, normalized
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(d, "doc_id", "text", 3)
      .as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got === Map(1L -> (0L, ""), 2L -> (0L, ""), 3L -> (2L, "a b")))
  }

  test("removeDuplicatedSpans: intra-doc repeat keeps the unshared middle") {
    val d = Seq((1L, "p q r x x p q r")).toDF("doc_id", "text")
    // "p q r" twice within one doc → positions [1,3] and [6,8] removed
    val got = Dedup.removeDuplicatedSpans(d, "doc_id", "text", 3)
      .as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got === Map(1L -> (2L, "x x")))
  }

  test("removeDuplicatedSpans agrees with duplicatedSpanCoverage on the corpus") {
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", 5)
      .withColumnRenamed("id", "cid")
    val nTok = docs.select(col("doc_id"),
      size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    val cov = Dedup.duplicatedSpanCoverage(docs, "doc_id", "text", 5)
    // removed token mass per doc = the coverage q83 reports
    val joined = out.join(nTok, col("cid") === col("doc_id"))
      .join(cov, col("cid") === col("id"), "left")
      .select(col("cid"), (col("n_tokens") - col("n_kept")).as("removed"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
    assert(joined.filter(col("removed") =!= col("dup_tokens")).count() === 0)
  }

  test("minhash signature slots stay within [0, P)") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 8)
      .select(explode(col("sig"))).as[Long].collect()
    assert(sigs.nonEmpty && sigs.forall(h => h >= 0 && h < Dedup.MinhashP))
  }

  test("minhashCrossCorpusDups: duplicate flagged with min ref id, novel doc NULL") {
    val ref = Seq((1L, base), (2L, base), (4L, docs.where("doc_id = 4")
      .select("text").as[String].head())).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                                   // dup of both 1 and 2 → dup_of = 1
      (11L, "completely novel words nothing shares any shingle here at all " +
            "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashCrossCorpusDups(incoming, ref, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(10L -> 1L, 11L -> -1L))
  }

  test("simhashPairs: exact dups at hamming 0; unrelated doc absent") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val exact = got.find(t => t._1 == 1L && t._2 == 2L)
    assert(exact.nonEmpty && exact.get._3 === 0)
    assert(!got.exists(t => t._1 == 4L || t._2 == 4L))
  }

  test("incrementalComponents(labels, delta) ≡ full recompute over all edges") {
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(oldEdges)
    // delta merges {1,2,3} with {10,11} and introduces a new component
    val delta = Seq((3L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val inc = Dedup.incrementalComponents(labels, delta)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
        (Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L), (20L, 21L)))
          .toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(inc === full)
    assert(inc(11L) === 1L) // merged component takes the global min id
  }

  test("incrementalComponents ≡ full recompute on random edge splits") {
    var s = 424242L
    def nxt(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    for (trial <- 1 to 3) {
      val edges = (1 to 120).map { _ =>
        (math.floorMod(nxt(), 50), math.floorMod(nxt(), 50))
      }.filter(e => e._1 != e._2)
      val (oldE, deltaE) = edges.splitAt(80)
      val labels = Dedup.connectedComponents(oldE.toDF("id_a", "id_b"))
      val inc = Dedup.incrementalComponents(labels, deltaE.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val full = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(inc === full, s"trial $trial")
    }
  }

  test("dropSharedSegments emits every input doc, including null-text ones") {
    val in = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),   // shares the first 4-token segment with 1
      (3L, null.asInstanceOf[String])) // no tokens → no segment rows
      .toDF("doc_id", "text")
    val got = Dedup.dropSharedSegments(in, "doc_id", "text",
        segTokens = 4, maxDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "e f g h", 1L),
      (2L, "x y z w", 1L),
      (3L, "", 0L))) // present with empty clean_text, not silently dropped
  }

  test("prefixFilterPairs is lossless at a pair sitting EXACTLY at t = 0.8") {
    // docs 1 and 2: 9 shingles each sharing 8 → J = 8/10 = 0.8 exactly —
    // the boundary pair the lossless guarantee must keep. 0.8's double
    // representation rounds ABOVE the decimal, the case where a raw
    // ceil(t·n) / t·max bound can over-prune; the epsilon-guarded bounds
    // must not. doc 3 shares ≤ 7 with each → below threshold, pruned.
    val words = (0 until 12).map(i => s"w$i")
    def doc(idxs: Seq[Int]) = idxs.map(words).mkString(" ")
    val in = Seq(
      (1L, doc(0 until 9)),
      (2L, doc((0 until 8) :+ 9)),
      (3L, doc((0 until 7) ++ Seq(10, 11))))
      .toDF("doc_id", "text")
    // unigram shingles so the set sizes are exactly the word counts
    val got = Dedup.prefixFilterPairs(in, "doc_id", "text", n = 1, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 0.8)))
  }

  test("connectedComponents: NULL endpoints dropped on both paths; empty edges") {
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(10L), Some(11L)),
      (None, Some(1L)), (Some(11L), None), (None, None))
    val clean = withNulls.collect { case (Some(a), Some(b)) => (a, b) }
    def cc(df: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
      Dedup.connectedComponents(df).collect().map(r => (r.get(0), r.get(1))).toSet
    val local = cc(withNulls.toDF("id_a", "id_b"))
    assert(local === LocalGate.withOverride(0)(cc(withNulls.toDF("id_a", "id_b"))))
    assert(local === cc(clean.toDF("id_a", "id_b")))
    assert(local === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(cc(empty) === Set.empty)
    assert(LocalGate.withOverride(0)(cc(empty)) === Set.empty)
  }
}
