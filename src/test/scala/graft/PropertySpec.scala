package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextFns
import graft.operators.{Dedup, LocalGate}

/** ScalaCheck properties (SURVEY §5.2.3): algebraic laws the operators
  * must satisfy on arbitrary inputs, not just fixtures. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampler: the scalatest-scalacheck bridge isn't in the
    * offline cache, so drive Gen directly with fixed seeds. */
  private def forAll[A](g: Gen[A], n: Int = 15)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    (1 to 15).foreach { i =>
      for {
        a <- ga.apply(Gen.Parameters.default, Seed(i.toLong))
        b <- gb.apply(Gen.Parameters.default, Seed(i.toLong + 1000))
      } body(a, b)
    }

  private val word = Gen.oneOf("spark", "join", "filter", "scan", "merge",
    "sort", "hash", "row", "key", "value")
  private val doc = Gen.listOfN(12, word).map(_.mkString(" "))
  private val docsGen = Gen.listOfN(8, doc)

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    forAll(docsGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val once = df.dropDuplicates("text")
      val twice = once.dropDuplicates("text")
      assert(once.count() === twice.count())
      // and group counts are conserved: sum of n_copies == row count
      val groups = Dedup.exactGroups(df, col("text"), col("id"))
      assert(groups.agg(sum("n_copies")).as[Long].head() === texts.length.toLong)
    }
  }

  test("union row-count arithmetic: |A ∪all B| = |A| + |B|") {
    forAll(Gen.chooseNum(0, 20), Gen.chooseNum(0, 20)) { (a, b) =>
      val da = (0 until a).map(i => (i.toLong, "a")).toDF("id", "src")
      val db = (0 until b).map(i => (i.toLong, "b")).toDF("id", "src")
      assert(da.unionByName(db).count() === (a + b).toLong)
    }
  }

  test("guarded sequence(2, n) cardinality equals the reference's range(2, n+1) loop") {
    // the F3 guard (totalPage > 1) is load-bearing: without it Spark's
    // sequence(2, 1) generates DESCENDING [2, 1] instead of empty —
    // exactly why Pipeline.paginationLinks filters before exploding
    forAll(Gen.chooseNum(1, 30)) { n =>
      val got = Seq(n).toDF("n")
        .filter(col("n") > 1)
        .select(explode(sequence(lit(2), col("n"))).as("p"))
        .count()
      // lianjia.py:117: for page in range(2, totalPage+1) → max(n-1, 0) pages
      assert(got === math.max(n - 1, 0).toLong)
    }
  }

  test("shingle count law: |shingles(toks, k)| = max(|toks|-k+1, 0)") {
    forAll(Gen.nonEmptyListOf(word), Gen.chooseNum(1, 5)) { (toks, k) =>
      {
        val got = Seq(toks.mkString(" ")).toDF("text")
          .select(size(TextFns.shingles(TextFns.tokens(col("text")), k)).as("n"))
          .as[Int].head()
        assert(got === math.max(toks.length - k + 1, 0))
      }
    }
  }

  test("connectedComponents agrees with union-find on random graphs") {
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)).suchThat(p => p._1 != p._2))
    forAll(edgeGen, n = 5) { edges =>
      if (edges.nonEmpty) {
        // reference: driver-side union-find with min-label roots
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val expected = parent.keys.map(x => x -> find(x)).toMap
        // size-gated LOCAL path (threshold default covers 12 edges)
        val gotLocal = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(gotLocal === expected)
        // DISTRIBUTED fixpoint path, forced via a zero gate override —
        // both paths must produce the identical min-id labeling
        val gotDist = LocalGate.withOverride(0)(
          Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toMap)
        assert(gotDist === expected)
      }
    }
  }

  test("PageRank local and distributed paths agree on random symmetric graphs") {
    import graft.operators.PageRank
    val edgeGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)).suchThat(p => p._1 != p._2))
    forAll(edgeGen, n = 5) { pairs =>
      if (pairs.nonEmpty) {
        // symmetrize so every node has out-edges (no rank leakage)
        val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
        val local = PageRank.run(edges, 5)
          .as[(Long, Double)].collect().toMap
        val dist = LocalGate.withOverride(0)(PageRank.run(edges, 5)
          .as[(Long, Double)].collect().toMap)
        assert(local.keySet === dist.keySet)
        local.keys.foreach(k => assert(math.abs(local(k) - dist(k)) < 1e-12,
          s"node $k: local=${local(k)} dist=${dist(k)}"))
        // and mass is conserved on the symmetric graph either way
        assert(math.abs(local.values.sum - 1.0) < 1e-9)
      }
    }
  }

  test("approx_percentile brackets the exact percentile (SURVEY §2.5)") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val (apx, lo, hi) = li.select(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)),
        expr("percentile(l_extendedprice, 0.45)"),
        expr("percentile(l_extendedprice, 0.55)"))
      .as[(Double, Double, Double)].head()
    assert(apx >= lo && apx <= hi, s"approx median $apx outside [$lo, $hi]")
  }

  test("native winnow ≡ declarative transform chain on arbitrary docs") {
    val geom = for { w <- Gen.chooseNum(2, 9); k <- Gen.chooseNum(2, 6) } yield (w, k)
    forAll(docsGen, geom) { (texts, wk) =>
      val (w, k) = wk
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "norm")
        .filter(length(col("norm")) >= w + k - 1)
      val gh = transform(sequence(lit(1), length(col("norm")) - (w - 1)),
        i => conv(substring(md5(col("norm").substr(i, lit(w))), 1, 15), 16, 10)
          .cast("long"))
      val decl = array_distinct(transform(
        sequence(lit(1), size(gh) - (k - 1)), j => array_min(slice(gh, j, lit(k)))))
      df.select(graft.plans.WinnowExpr.winnow(col("norm"), w, k).as("a"), decl.as("b"))
        .collect()
        .foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"w=$w k=$k"))
    }
  }

  test("native PQ encode ≡ declarative argmin on arbitrary vectors") {
    val (m, sub, c) = (2, 3, 4) // dim 6, small enough to unroll declaratively
    val dim = m * sub
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-5, 5).map(_ / 2.0))
    val cbGen = Gen.listOfN(c * dim, Gen.chooseNum(-5, 5).map(_ / 2.0))
    forAll(Gen.listOfN(6, vecGen), cbGen) { (vecs, cbFlat) =>
      val cbRows = (for { j <- 0 until c; i <- 0 until dim }
        yield (j, i) -> cbFlat(j * dim + i)).toMap
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      def sqdistTo(m0: Int, j: Int) =
        (0 until sub).map { kk =>
          val diff = element_at(col("v"), m0 * sub + kk + 1) - lit(cbRows((j, m0 * sub + kk)))
          diff * diff
        }.reduce(_ + _)
      def codeCol(m0: Int) = {
        val dArr = array((0 until c).map(j => sqdistTo(m0, j)): _*)
        (array_position(dArr, array_min(dArr)) - 1).cast("int")
      }
      df.select(
          graft.plans.PqEncodeExpr.pqEncode(col("v"), cbRows, m, sub, c).as("a"),
          array((0 until m).map(codeCol): _*).as("b"))
        .collect()
        .foreach(r => assert(r.getSeq[Int](0) === r.getSeq[Int](1)))
    }
  }

  test("Ecdf.groupedCumsum ≡ naive window and totals on random grouped counts") {
    val rowGen = for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(0L, 40L)
      c <- Gen.chooseNum(1L, 9L)
    } yield (g, v, c)
    forAll(Gen.listOfN(30, rowGen)) { rows =>
      // collapse to value grain first — the operator's tie contract
      val d = rows.toDF("g", "v", "c").groupBy("g", "v").agg(sum("c").as("c"))
      val got = graft.operators.Ecdf.groupedCumsum(d, Seq("g"), "v", Seq("c"))
        .select("g", "v", "cum_c", "tot_c")
        .as[(String, Long, Long, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v"))
      val tw = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      val naive = d.select(col("g"), col("v"),
          sum(col("c")).over(w).as("cum"), sum(col("c")).over(tw).as("tot"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got === naive)
    }
  }

  test("Drift.ksAndW1 ≡ a pure reference; symmetric in the two sides") {
    val rowGen = for {
      g <- Gen.oneOf("a", "b")
      v <- Gen.chooseNum(0L, 25L)
      c1 <- Gen.chooseNum(0L, 5L)
      c2 <- Gen.chooseNum(0L, 5L)
    } yield (g, v, c1, c2)
    forAll(Gen.listOfN(25, rowGen), n = 6) { rows =>
      val d = rows.toDF("g", "v", "c1", "c2")
        .groupBy("g", "v").agg(sum("c1").as("c1"), sum("c2").as("c2"))
        // both sides must be nonempty distributions per group
        .filter(col("c1") + col("c2") > 0)
      val byG = rows.groupBy(_._1).map { case (g, rs) =>
        val vg = rs.groupBy(_._2).map { case (v, xs) =>
          (v, xs.map(_._3).sum, xs.map(_._4).sum) }.toSeq.sortBy(_._1)
        g -> vg
      }
      val ok = byG.values.forall(vg =>
        vg.map(_._2).sum > 0 && vg.map(_._3).sum > 0)
      if (ok) {
        val got = graft.operators.Drift.ksAndW1(d, Seq("g"), "v", "c1", "c2")
          .as[(String, Long, Long, Double, Double, Double)]
          .collect().map(r => r._1 -> r).toMap
        // pure sorted-walk reference
        byG.foreach { case (g, vg) =>
          val (n1, n2) = (vg.map(_._2).sum, vg.map(_._3).sum)
          var (a, b) = (0L, 0L)
          var (dmax, wsum, csum) = (BigInt(0), BigInt(0), BigInt(0))
          vg.zipWithIndex.foreach { case ((v, c1, c2), i) =>
            a += c1; b += c2
            val dev = (BigInt(a) * n2 - BigInt(b) * n1).abs
            dmax = dmax.max(dev)
            if (i + 1 < vg.length) wsum += dev * (vg(i + 1)._1 - v)
            csum += BigInt(c1 + c2) * dev * dev
          }
          val (gn1, gn2, ks, w1, cvm) =
            (got(g)._2, got(g)._3, got(g)._4, got(g)._5, got(g)._6)
          assert(gn1 === n1 && gn2 === n2, g)
          assert(math.abs(ks - dmax.toDouble / (n1.toDouble * n2)) <= 1e-6, g)
          assert(math.abs(w1 - wsum.toDouble / (n1.toDouble * n2)) <= 1e-6, g)
          assert(math.abs(cvm - csum.toDouble
            / (n1.toDouble * n2 * (n1 + n2).toDouble * (n1 + n2))) <= 1e-6, g)
        }
        // symmetry: |F_A−F_B| is invariant under side swap
        val swapped = graft.operators.Drift
          .ksAndW1(d.select(col("g"), col("v"),
            col("c2").as("c1"), col("c1").as("c2")), Seq("g"), "v", "c1", "c2")
          .as[(String, Long, Long, Double, Double, Double)]
          .collect().map(r => r._1 -> r).toMap
        byG.keys.foreach { g =>
          assert(swapped(g)._4 === got(g)._4 && swapped(g)._5 === got(g)._5
            && swapped(g)._6 === got(g)._6, s"$g not symmetric")
        }
      }
    }
  }

  test("Mixing.waterfill laws: caps respected, budget met, water level shared") {
    val availGen = Gen.listOfN(6, Gen.chooseNum(1L, 500L))
    forAll(availGen) { avails =>
      val a = avails.zipWithIndex.map { case (v, i) => (s"s$i", v) }
        .toDF("source", "avail")
      val got = graft.operators.Mixing.waterfill(a, 3, 5)
        .as[(String, Long, Long, Double, Int)].collect()
      val budget = avails.sum * 3 / 5
      got.foreach { case (s, av, al, ep, sat) =>
        assert(al >= 0 && al <= av, s"$s alloc out of cap")
        assert(ep <= 1.0 + 1e-9, s"$s oversampled")
        if (sat == 1) assert(al === av, s"$s saturated but capped short")
      }
      val gap = budget - got.map(_._3).sum
      val unsat = got.filter(_._5 == 0)
      assert(gap >= 0 && gap < math.max(unsat.length, 1), s"budget gap $gap")
      assert(unsat.map(_._3).distinct.length <= 1, "unsaturated allocs differ")
    }
  }

  test("date reformat roundtrip (C11): yyyy.M.d → DATE → ISO is stable") {
    val dateGen = for {
      y <- Gen.chooseNum(1995, 2024); m <- Gen.chooseNum(1, 12); d <- Gen.chooseNum(1, 28)
    } yield (y, m, d)
    forAll(dateGen) { (ymd: (Int, Int, Int)) =>
      val (y, m, d) = ymd
      val raw = f"$y%d.$m%d.$d%d 成交"
      val got = Seq(raw).toDF("s")
        .select(graft.lianjia.Extract.dealDate(col("s")).cast("string"))
        .as[String].head()
      assert(got === f"$y%04d-$m%02d-$d%02d")
    }
  }
}
