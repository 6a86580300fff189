package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cohen's kappa against textbook fixtures — the check the q238 oracle
  * cannot provide (it replays the same fold). */
class AgreementSpec extends SparkSpec {
  import spark.implicits._

  private def kappa(rows: Seq[(String, String, String)]) =
    Agreement.cohenKappa(rows.toDF("g", "a", "b"), "g", "a", "b")
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap

  test("the classic 2x2 textbook example: po=0.7, pe=0.58, kappa=2/7") {
    // Cohen's own worked shape: raters on 50 items — 20 yes/yes,
    // 15 no/no, 5 yes/no, 10 no/yes
    val rows =
      Seq.fill(20)(("g", "yes", "yes")) ++ Seq.fill(15)(("g", "no", "no")) ++
      Seq.fill(5)(("g", "yes", "no")) ++ Seq.fill(10)(("g", "no", "yes"))
    val r = kappa(rows)("g")
    assert(r._2 === 50L && r._3 === 35L)
    assert(r._4 === 0.7)
    // pe = (25*30 + 25*20)/2500 = 0.5
    assert(r._5 === 0.5)
    // kappa = (0.7 - 0.5)/(1 - 0.5) = 0.4
    assert(r._6 === Some(0.4))
  }

  test("perfect agreement gives kappa 1; constant raters give NULL") {
    val perfect = Seq(("p", "x", "x"), ("p", "y", "y"), ("p", "x", "x"))
    assert(kappa(perfect)("p")._6 === Some(1.0))
    // both raters constant: pe = 1, the correction is undefined
    val constant = Seq.fill(4)(("c", "x", "x"))
    assert(kappa(constant)("c")._6 === None)
  }

  test("independent raters sit near zero, disagreement goes negative") {
    // perfectly anti-correlated 2-class raters: po = 0, pe = 0.5 → -1
    val anti = Seq.fill(10)(("n", "x", "y")) ++ Seq.fill(10)(("n", "y", "x"))
    assert(kappa(anti)("n")._6 === Some(-1.0))
  }

  test("groups fold independently in one pass") {
    val rows = Seq(("g1", "x", "x"), ("g1", "y", "y"),
      ("g2", "x", "y"), ("g2", "y", "x"))
    val r = kappa(rows)
    assert(r("g1")._6 === Some(1.0))
    assert(r("g2")._6 === Some(-1.0))
  }

  test("the int64 headroom guard survives column pruning on every n²-bearing output") {
    // r15 advice close-out: the guard must not be prunable when a
    // caller selects only `kappa` (or only `pe`/`po`) — each of those
    // expressions computes an n² product, so each must carry the
    // raise_error through the optimizer's pruning
    val df = Agreement.cohenKappa(
      Seq(("g", "x", "y")).toDF("g", "a", "b"), "g", "a", "b")
    for (c <- Seq("po", "pe", "kappa")) {
      val plan = df.select(c).queryExecution.optimizedPlan.toString
      assert(plan.contains("raise_error"),
        s"selecting only '$c' must keep the int64 headroom guard:\n$plan")
    }
  }

  // ---- Krippendorff's alpha ----------------------------------------

  /** Independent textbook implementation (plain doubles, the
    * coincidence-matrix form of Krippendorff 2011) — the operator must
    * match it exactly after its own round(6). */
  private def refAlpha(votes: Seq[(Int, String)]): Option[Double] = {
    val byUnit = votes.groupBy(_._1).values.map(_.map(_._2))
      .filter(_.size >= 2).toSeq
    if (byUnit.isEmpty) return None
    val labels = byUnit.flatten.distinct.sorted
    var doSum = 0.0
    for (u <- byUnit) {
      val m = u.size
      val counts = labels.map(l => u.count(_ == l).toDouble)
      val offDiag = m.toDouble * m - counts.map(c => c * c).sum
      doSum += offDiag / (m - 1)
    }
    val nc = labels.map(l => byUnit.map(_.count(_ == l)).sum.toDouble)
    val n = nc.sum
    val deNum = n * n - nc.map(c => c * c).sum
    if (deNum == 0.0) None
    else Some(1.0 - (n - 1) * doSum / deNum)
  }

  private def alpha(rows: Seq[(String, Int, String)], maxRaters: Int = 8) =
    Agreement.krippendorffAlpha(
        rows.map(r => (r._1, r._2, "r", r._3)).toDF("g", "u", "rater", "lab")
          .select(col("g"), col("u"), col("lab")),
        "g", "u", "lab", maxRaters)
      .as[(String, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap

  test("Krippendorff 2011 worked example: 4 coders, 12 units, missing values -> 0.743") {
    // the paper's nominal-data example; '-' = missing (no row). Unit 12
    // has a single vote and must drop out.
    val a = Seq(1, 2, 3, 3, 2, 1, 4, 1, 2, -1, -1, -1)
    val b = Seq(1, 2, 3, 3, 2, 2, 4, 1, 2, 5, -1, 3)
    val c = Seq(-1, 3, 3, 3, 2, 3, 4, 2, 2, 5, 1, -1)
    val d = Seq(1, 2, 3, 3, 2, 4, 4, 1, 2, 5, 1, -1)
    val votes = for {
      (rater, vs) <- Seq("a" -> a, "b" -> b, "c" -> c, "d" -> d)
      (v, i) <- vs.zipWithIndex if v >= 0
    } yield (i + 1, v.toString)
    val ref = refAlpha(votes).get
    assert(math.abs(ref - 0.743) < 5e-4, s"reference impl got $ref")
    val got = alpha(votes.map { case (u, l) => ("g", u, l) }, maxRaters = 4)
    assert(got("g")._2 === 11L) // 12 units minus the single-vote unit
    assert(got("g")._4.get === math.rint(ref * 1e6) / 1e6 + 0.0)
  }

  test("alpha: perfect agreement gives 1, one-label pool gives NULL, ties go negative") {
    val strict = (1 to 10).flatMap(u =>
      Seq.fill(3)(("g", u, if (u % 2 == 0) "y" else "x")))
    assert(alpha(strict)("g")._4.get === 1.0)
    val constant = (1 to 10).flatMap(u => Seq.fill(3)(("g", u, "only")))
    assert(alpha(constant)("g")._4.isEmpty)
    // systematic 1-1 disagreement on every unit: alpha < 0 (worse than
    // chance), matching the independent implementation exactly
    val disagree = (1 to 10).flatMap(u => Seq(("g", u, "x"), ("g", u, "y")))
    val ref = refAlpha(disagree.map(r => (r._2, r._3))).get
    assert(alpha(disagree)("g")._4.get === math.rint(ref * 1e6) / 1e6 + 0.0)
    assert(alpha(disagree)("g")._4.get < 0.0)
  }

  test("alpha: random pools match the independent implementation exactly") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val labels = Seq("a", "b", "c")
      val votes = (1 to 40).flatMap { u =>
        val m = 1 + rnd.nextInt(4) // 1..4 votes; single-vote units drop
        Seq.fill(m)((u, labels(rnd.nextInt(labels.size))))
      }
      val ref = refAlpha(votes)
      val got = alpha(votes.map { case (u, l) => ("g", u, l) }, maxRaters = 4)
      assert(got("g")._4 === ref.map(r => math.rint(r * 1e6) / 1e6 + 0.0),
        s"trial $trial")
    }
  }

  test("alpha: a unit past maxRaters fails loudly") {
    val votes = (1 to 5).flatMap(u => Seq.fill(4)(("g", u, "x")))
    val e = intercept[Exception] { alpha(votes, maxRaters = 3) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("more than 3 votes")))
  }

  // ---- majority reliability ----------------------------------------

  test("majorityReliability: consensus, ties, and per-rater accuracy") {
    // unit 1: a,b say x; c says y -> consensus x
    // unit 2: a,b,c all say x -> consensus x
    // unit 3: a says x, b says y (1-1) -> no consensus
    // unit 4: only c votes -> no consensus
    val rows = Seq(
      ("g", 1, "a", "x"), ("g", 1, "b", "x"), ("g", 1, "c", "y"),
      ("g", 2, "a", "x"), ("g", 2, "b", "x"), ("g", 2, "c", "x"),
      ("g", 3, "a", "x"), ("g", 3, "b", "y"),
      ("g", 4, "c", "x"))
    val got = Agreement.majorityReliability(
        rows.toDF("g", "u", "r", "lab"), "g", "u", "r", "lab")
      .as[(String, String, Long, Long, Long, Option[Double])]
      .collect().map(r => r._2 -> r).toMap
    assert(got("a") === (("g", "a", 3L, 2L, 2L, Some(1.0))))
    assert(got("b") === (("g", "b", 3L, 2L, 2L, Some(1.0))))
    assert(got("c") === (("g", "c", 3L, 2L, 1L, Some(0.5))))
  }

  // ---- Dawid-Skene step --------------------------------------------

  test("dawidSkeneStep: reliable raters resolve what majority cannot") {
    // raters g1/g2 always vote the unit's true label; r3 always votes
    // "x" regardless. Units 1..8 have all three votes (consensus =
    // truth, 2-1); unit 9 has only g1 + r3 (1-1 tie -> no majority):
    // the learned confusion must weight g1 over the constant r3 and
    // label unit 9 by g1's vote.
    val truth = Map(1 -> "p", 2 -> "q", 3 -> "p", 4 -> "q", 5 -> "p",
      6 -> "q", 7 -> "p", 8 -> "q")
    val rows = truth.toSeq.flatMap { case (u, t) =>
      Seq((u, "g1", t), (u, "g2", t), (u, "r3", "x")) } ++
      Seq((9, "g1", "p"), (9, "r3", "x"))
    val got = Agreement.dawidSkeneStep(rows.toDF("u", "r", "lab"),
        "u", "r", "lab")
      .as[(Int, Option[String], String, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    truth.foreach { case (u, t) =>
      assert(got(u)._2 === Some(t), s"unit $u majority")
      assert(got(u)._3 === t, s"unit $u posterior must keep the consensus")
      assert(!got(u)._4)
    }
    assert(got(9)._2.isEmpty)
    assert(got(9)._3 === "p", "the reliable rater must win the tie")
    assert(got(9)._4)
  }

  test("dawidSkeneStep refuses a label domain past DsMaxLabels and accepts one at it") {
    // two raters agreeing on each unit: one label per unit
    def votes(labels: Int) = (0 until labels).flatMap { u =>
      Seq((u, "r1", s"l$u"), (u, "r2", s"l$u")) }.toDF("u", "r", "lab")
    assert(Agreement.dawidSkeneStep(votes(Agreement.DsMaxLabels), "u", "r", "lab")
      .count() === Agreement.DsMaxLabels.toLong)
    val e = intercept[IllegalArgumentException] {
      Agreement.dawidSkeneStep(votes(Agreement.DsMaxLabels + 1), "u", "r", "lab")
    }
    assert(e.getMessage.contains("label domain exceeds the documented bound"), e.getMessage)
  }
}
