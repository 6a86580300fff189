package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class VectorFnsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identical=1, orthogonal=0, opposite=-1; null-safe on floats") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f))
    ).toDF("a", "b").select(VectorFns.cosine(col("a"), col("b")).as("c"))
    val got = df.as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
  }

  test("dot and norm2 compute in double") {
    val (d, n) = Seq((Array(3.0f, 4.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(VectorFns.dot(col("a"), col("b")), VectorFns.norm2(col("a")))
      .as[(Double, Double)].head()
    assert(math.abs(d - 11.0) < 1e-12)
    assert(math.abs(n - 5.0) < 1e-12)
  }

  test("native cosine matches the HOF formulation bit-for-bit; null semantics agree") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(200)((Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f))).toDF("a", "b")
    val got = vecs.select(VectorFns.cosine(col("a"), col("b")).as("n"),
      VectorFns.cosineHof(col("a"), col("b")).as("h")).as[(Double, Double)].collect()
    assert(got.forall { case (n, h) => n == h })  // exact, not approx

    // length mismatch and null element → null, like zip_with+aggregate
    val weird = Seq(
      (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f)),
      (Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 2.0f))
    ).toDF("a", "b")
    val nulls = weird.select(VectorFns.cosine(col("a"), col("b"))).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("lshBucket is deterministic and within bit range") {
    val vecs = Seq.tabulate(20)(i => Tuple1(Array.tabulate(8)(j => (i * 8 + j).toFloat / 100 - 0.7f)))
      .toDF("v")
    val b1 = vecs.select(VectorFns.lshBucket(col("v"), 8, 6).as("b")).as[Long].collect()
    val b2 = vecs.select(VectorFns.lshBucket(col("v"), 8, 6).as("b")).as[Long].collect()
    assert(b1.toSeq === b2.toSeq)
    assert(b1.forall(b => b >= 0 && b < 64))
  }

  test("bitsForCorpusCol matches the driver-side bitsForCorpus on every regime") {
    // floor, interior, exact power-of-two boundaries, and the maxBits cap
    val ns = Seq(1L, 63L, 64L, 65L, 500L, 1024L, 1025L, 2000L, 2048L,
      1000000L, 64L << 24, (64L << 24) + 1)
    val got = ns.toDF("n")
      .select(VectorFns.bitsForCorpusCol(col("n"), 4, 24, 64).as("b"))
      .as[Int].collect()
    ns.zip(got).foreach { case (n, b) =>
      val want = math.min(24, VectorFns.bitsForCorpus(n, 64))
      assert(b === want, s"n=$n: col=$b driver=$want")
    }
  }

  test("lshBucketMasked at literal bits B equals lshBucket at nBits B") {
    // identical plane window 0..B-1, so the mask must be a pure width cut
    val vecs = Seq.tabulate(50)(i =>
      Tuple1(Array.tabulate(16)(j => ((i * 31 + j * 7) % 19).toFloat / 10 - 0.9f)))
      .toDF("v")
    for (b <- Seq(4, 7, 12)) {
      val masked = vecs.select(
        VectorFns.lshBucketMasked(col("v"), 16, lit(b), 24).as("k")).as[Long].collect()
      val fixed = vecs.select(
        VectorFns.lshBucket(col("v"), 16, b).as("k")).as[Long].collect()
      assert(masked.toSeq === fixed.toSeq, s"bits=$b")
    }
  }

  test("lshCoefs planes are pinned, and the native coef table is built from them") {
    // ±1 patterns recorded once: a change in the Scala runtime's
    // MurmurHash3.productHash would rebucket every LSH query (and
    // desynchronize driver and executors on mixed runtimes) — this
    // fails loudly instead of as an oracle mismatch
    val pinned = Map(
      0 -> "-++-+----+++-+++-----+--+++-++--++--++++++---+-+++--+-+-+---+-+-",
      977 -> "-++++--+++++------+-----+--+-+-+-+++--++----++-+---+++--+-++++-+",
      1871 -> "-+--++++----+---+++-+++-+----+---+-+++++++++--+------+-++-+++-++")
    pinned.foreach { case (plane, signs) =>
      assert(VectorFns.lshCoefs(plane, 64).map(c => if (c > 0) '+' else '-').mkString
        === signs, s"plane $plane")
    }
    // the serving near-dup table: 1871 is its last plane
    val (bands, stride) = (graft.queries.VectorQueries.NdMaxBands,
      graft.queries.VectorQueries.NdPlaneStride)
    val table = graft.plans.LshBandKeysMaskedExpr.coefTable(bands, stride, 64, 42L)
    assert(table.length === 1872)
    table.zipWithIndex.foreach { case (row, plane) =>
      assert(row.toDoubleArray().toSeq === VectorFns.lshCoefs(plane, 64), s"plane $plane")
    }
  }

  test("lshBandKeysMasked: prefix-stable growth and static plane windows") {
    val vecs = Seq.tabulate(40)(i =>
      Tuple1(Array.tabulate(16)(j => ((i * 13 + j * 5) % 23).toFloat / 12 - 0.9f)))
      .toDF("v")
    def keys(bits: Int) = vecs.select(
        VectorFns.lshBandKeysMasked(col("v"), 16, 4, lit(bits), 24).as("ks"))
      .as[Seq[Long]].collect()
    val k5 = keys(5); val k8 = keys(8)
    // growing the corpus only APPENDS sign bits: the 5-bit key is the
    // low-bit prefix of the 8-bit key, per band (index-epoch migration
    // can rebucket by masking, without recomputing planes)
    k5.zip(k8).foreach { case (a, b) =>
      (0 until 4).foreach { band =>
        assert((b(band) & 31L) === a(band), s"band $band not prefix-stable")
      }
    }
    // bands draw from disjoint static plane windows — keys must differ
    // across bands for at least one vector (else the windows collided)
    assert(k8.exists(ks => ks.distinct.size > 1))
  }

  test("lshBandKeysMaskedBands: native expr ≡ composed reference, exact live-band length") {
    val vecs = Seq.tabulate(30)(i =>
      Tuple1(Array.tabulate(16)(j => ((i * 17 + j * 3) % 29).toFloat / 14 - 0.9f)))
      .toDF("v")
    val maxBands = 8
    for (nb <- Seq(2, 5, 8, 11)) {
      // serving path: the fused native LshBandKeysMaskedExpr — as of
      // r15 the output is EXACT-LENGTH (min(nBands, maxBands) keys, no
      // padded NULL tail: at the epoch-derived static width 78 the
      // padding tripled posexplode volume at every corpus size)
      val gated = vecs.select(VectorFns.lshBandKeysMaskedBands(
          col("v"), 16, maxBands, lit(nb), lit(6), 24).as("ks"))
        .as[Seq[Option[Long]]].collect()
      // reference: the unfused CaseWhen composition (the form the
      // native expression replaced for codegen health), sliced to the
      // live-band count
      val composed = vecs.select(VectorFns.lshBandKeysMaskedBandsComposed(
          col("v"), 16, maxBands, lit(nb), lit(6), 24).as("ks"))
        .as[Seq[Option[Long]]].collect()
      val fixed = vecs.select(VectorFns.lshBandKeysMasked(
          col("v"), 16, maxBands, lit(6), 24).as("ks"))
        .as[Seq[Long]].collect()
      val live = math.min(nb, maxBands)
      gated.zip(composed).foreach { case (g, c) =>
        assert(g === c, s"native diverged from composed at nBands=$nb")
      }
      gated.zip(fixed).foreach { case (g, f) =>
        assert(g.length === live, s"not exact-length at nBands=$nb")
        (0 until live).foreach { b =>
          assert(g(b) === Some(f(b)), s"live band $b diverged at nBands=$nb")
        }
      }
    }
  }
}
