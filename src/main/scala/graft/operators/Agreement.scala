package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inter-annotator agreement statistics — the labeling-QA layer of
  * training-data work: two raters (humans, model vs gold, or two
  * pipeline versions) label the same items; Cohen's kappa
  * (Cohen 1960) corrects their raw agreement for the agreement their
  * marginal label mixes would produce by chance. Krippendorff's alpha
  * (Krippendorff 2011, "Computing Krippendorff's Alpha-Reliability")
  * generalizes to ANY number of raters with missing ratings — the
  * real shape of labeling campaigns, where each item is seen by a
  * subset of the rater pool.
  *
  * Exactness: per group everything is exact integers until ONE final
  * division — agree = Σ diag of the confusion matrix, pe_num =
  * Σ_k row_k·col_k over classes present in BOTH marginals, and
  * kappa = (agree·n − pe_num)/(n² − pe_num). The n² terms carry a
  * loud int64 guard, folded into EVERY output that computes an n²
  * product so column pruning can never drop it; a degenerate group
  * whose chance agreement is total (n² = pe_num, e.g. both raters
  * constant) yields NULL, identically in any engine.
  *
  * Scale: one item-grain scan into a (group × classes²) confusion
  * aggregate; the fold is confusion-grain. Alpha never materializes
  * the per-unit label PAIRS: the off-diagonal coincidence mass of a
  * unit is mu² − Σ_c n_uc² — two unit-grain aggregates, no self-join. */
object Agreement {

  /** [[dawidSkeneStep]]'s driver bounds: label domain, raters × labels². */
  private[graft] val DsMaxLabels = 64
  private val DsMaxWeightRows = 2000000

  /** Per-`groupCol` Cohen's kappa between `raterA` and `raterB`.
    * @return (group, n_items, n_agree, po, pe, kappa) */
  def cohenKappa(items: DataFrame, groupCol: String, raterA: String,
      raterB: String): DataFrame = {
    val cm = items.groupBy(col(groupCol), col(raterA).as("ka"),
        col(raterB).as("kb"))
      .agg(count(lit(1)).as("n"))
    val per = cm.groupBy(col(groupCol))
      .agg(sum(col("n")).as("nd"),
        sum(when(col("ka") === col("kb"), col("n")).otherwise(0L)).as("agree"))
      .withColumn("ok", when(col("nd") > 3000000000L,
        raise_error(lit("cohen_kappa: per-group item count past the " +
          "int64 n^2 headroom — subsample or shard")).cast("long"))
        .otherwise(lit(1L)))
    val rm = cm.groupBy(col(groupCol), col("ka").as("k"))
      .agg(sum(col("n")).as("r"))
    val c2 = cm.groupBy(col(groupCol), col("kb").as("k"))
      .agg(sum(col("n")).as("c"))
    val marg = rm.join(c2, Seq(groupCol, "k"))
      .groupBy(col(groupCol))
      .agg(sum(col("r") * col("c")).as("pe_num"))
    val pe: Column = coalesce(col("pe_num"), lit(0L))
    per.join(marg, Seq(groupCol), "left")
      // `ok` (1, or raise_error past the n² headroom) is folded into
      // EVERY output that touches an n² term — po, pe, AND kappa — so
      // a caller selecting any single column still carries the guard
      // (pruning po alone used to drop it — r14 advice)
      .select(col(groupCol), col("nd").as("n_items"), col("agree").as("n_agree"),
        (round((col("agree") * col("ok")).cast("double") / col("nd"), 6)
          + lit(0.0d)).as("po"),
        (round((pe * col("ok")).cast("double") / (col("nd") * col("nd")), 6)
          + lit(0.0d)).as("pe"),
        // the noNegZero finisher sits OUTSIDE the CASE so the audit's
        // top-level contract holds; NULL + 0.0 stays NULL
        (when(col("nd") * col("ok") * col("nd") === pe, lit(null).cast("double"))
          .otherwise(round(
            (col("agree") * col("nd") - pe).cast("double")
              / (col("nd") * col("ok") * col("nd") - pe), 6)) + lit(0.0d)).as("kappa"))
      .orderBy(col(groupCol))
  }

  /** Per-`groupCol` NOMINAL Krippendorff's alpha over long-format
    * ratings (one row per (unit, rater) vote; NULL labels = the rater
    * did not see the unit — callers filter those, this method drops
    * them again defensively).
    *
    * EXACT-INTEGER DERIVATION (the reason this beats the textbook
    * double-accumulation form at corpus scale — no float sum whose
    * order differs across engines):
    * per pairable unit u (m_u ≥ 2 votes) the off-diagonal coincidence
    * mass is Σ_{c≠k} n_uc·n_uk/(m_u−1) = (m_u² − Σ_c n_uc²)/(m_u−1).
    * Scaling by S = lcm(1..maxRaters−1) makes every unit's term an
    * integer: do_s = Σ_u (S/(m_u−1))·(m_u² − Σ_c n_uc²). Coincidence
    * marginals are exactly n_c = Σ_u n_uc (pairable units only), so
    * the expected-disagreement numerator is n² − Σ_c n_c², and
    *   alpha = 1 − (n−1)·do_s / (S·(n² − Σ_c n_c²)),
    * one division at the end. The S/(m_u−1) factor is a compile-time
    * when-chain (m_u ≤ maxRaters), not a runtime division.
    *
    * Guards, both folded into the value (the cohenKappa pattern):
    * a unit with more than `maxRaters` votes raises loudly (the S
    * scaling would silently stop being integral); a group whose
    * pairable values push S·n² past int64 raises before (n−1)·do_s or
    * the S-scaled denominator can overflow (the bound scales with S:
    * 5×10⁸ values at maxRaters=3, ~1.4×10⁸ at the maxRaters=8
    * default). Units with m_u < 2 and groups with zero pairable units
    * contribute nothing (Krippendorff's own rule); a group whose
    * pairable values are all one label has no chance disagreement →
    * alpha NULL.
    *
    * Scale: unit-grain then group-grain aggregates only — never a
    * unit self-join, never a label-pair explode.
    *
    * @param items long format: (groupCol, unitCol, labelCol) — the
    *              rater identity itself is not needed by the
    *              statistic, only the votes
    * @return (group, n_units, n_values, alpha) */
  def krippendorffAlpha(items: DataFrame, groupCol: String,
      unitCol: String, labelCol: String, maxRaters: Int): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 16, "maxRaters must be in [2, 16]")
    val scaleS: Long = (1 until maxRaters).map(_.toLong).reduce { (a, b) =>
      a / BigInt(a).gcd(BigInt(b)).toLong * b
    }
    // headroom SCALES WITH S: the worst-case numerator (nv-1)*do_s and
    // denominator S*(nv^2 - sumsq_c) are both <= S*nv^2, so the guard
    // admits only nv with S*nv^2 inside int64 (5e8 at S=2; ~1.4e8 at
    // the maxRaters=8 default's S=420) — a fixed 5e8 would let larger
    // rater pools overflow silently (review find)
    val nvMax: Long = math.min(500000000L, math.sqrt(9.0e18 / scaleS).toLong)
    // checkpoint the vote counts: nuc feeds BOTH the per-unit fold and
    // the marginals, and without it the caller's vote-construction
    // subplan (tokenization, in q240's case) executes once per branch.
    // Bounded: <= one skinny row per (unit, label) vote pair.
    val nuc = items.filter(col(labelCol).isNotNull)
      .groupBy(col(groupCol), col(unitCol), col(labelCol).as("k"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val perUnit = nuc.groupBy(col(groupCol), col(unitCol))
      .agg(sum(col("n")).as("mu"), sum(col("n") * col("n")).as("sumsq"))
      .filter(col("mu") >= 2)
      // S/(m_u−1) as a compile-time chain; one vote past maxRaters is
      // a LOUD failure, not a silently non-integral scale factor
      .withColumn("f",
        (2 to maxRaters).foldRight(
          raise_error(lit(s"krippendorff_alpha: a unit carries more than " +
            s"$maxRaters votes — raise maxRaters (cost is one more CASE arm)"))
            .cast("long"): Column) { (m, els) =>
          when(col("mu") === m, lit(scaleS / (m - 1))).otherwise(els)
        })
    val perGroup = perUnit.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_units"), sum(col("mu")).as("nv"),
        sum(col("f") * (col("mu") * col("mu") - col("sumsq"))).as("do_s"))
      .withColumn("ok", when(col("nv") > nvMax,
        raise_error(lit(s"krippendorff_alpha: per-group pairable values past " +
          s"the int64 S*n^2 headroom ($nvMax at maxRaters=$maxRaters) — " +
          "subsample or shard the group")).cast("long"))
        .otherwise(lit(1L)))
    // coincidence marginals: votes of pairable units only
    val marg = nuc.join(perUnit.select(col(groupCol), col(unitCol)),
        Seq(groupCol, unitCol), "left_semi")
      .groupBy(col(groupCol), col("k"))
      .agg(sum(col("n")).as("nc"))
      .groupBy(col(groupCol))
      .agg(sum(col("nc") * col("nc")).as("sumsq_c"))
    perGroup.join(marg, Seq(groupCol))
      .select(col(groupCol), col("n_units"), col("nv").as("n_values"),
        (when(col("nv") * col("nv") === col("sumsq_c"),
          lit(null).cast("double"))
          .otherwise(round(lit(1.0) -
            ((col("nv") - 1) * col("do_s") * col("ok")).cast("double")
              / (lit(scaleS) * (col("nv") * col("nv") - col("sumsq_c"))), 6))
          + lit(0.0d)).as("alpha"))
      .orderBy(col(groupCol))
  }

  /** Strict-majority consensus per unit + per-rater reliability against
    * it — the operational readout of a labeling campaign (WHICH rater
    * drifts from the pool, not just how much the pool agrees).
    *
    * Consensus of a unit = the unique label with more than half of the
    * unit's non-null votes, requiring at least TWO votes (a lone vote is
    * not a consensus); units without one (1-1 splits, 1-1-1 three-way,
    * single votes) are excluded from every accuracy denominator. Exact integers until the one final division.
    *
    * Scale: a unit-partitioned count window + one vote↔consensus
    * equi-join on the unit key; rater-grain output.
    *
    * @param items long format: (groupCol, unitCol, raterCol, labelCol)
    * @return (group, rater, n_rated, n_consensus_seen, n_match,
    *         accuracy) — n_rated counts the rater's non-null votes,
    *         n_consensus_seen those on units that HAVE a consensus */
  def majorityReliability(items: DataFrame, groupCol: String,
      unitCol: String, raterCol: String, labelCol: String): DataFrame = {
    // NOT checkpointed (unlike alpha/Dawid–Skene): the votes feed only
    // TWO branches and q241's single-pass vote construction is one
    // scan+tokenize — measured, the eager materialization costs more
    // than the one re-execution it saves (0.25 s → 0.44 s median).
    val votes = items.filter(col(labelCol).isNotNull)
      .select(col(groupCol), col(unitCol), col(raterCol).as("rater"),
        col(labelCol).as("label"))
    val consensus = votes
      .groupBy(col(groupCol), col(unitCol), col("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mu",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol), col(unitCol))))
      .filter(col("n") * 2 > col("mu") && col("mu") >= 2)
      .select(col(groupCol), col(unitCol), col("label").as("consensus"))
    votes.join(consensus, Seq(groupCol, unitCol), "left")
      .groupBy(col(groupCol), col("rater"))
      .agg(count(lit(1)).as("n_rated"),
        sum(when(col("consensus").isNotNull, 1L).otherwise(0L))
          .as("n_consensus_seen"),
        sum(when(col("label") === col("consensus"), 1L).otherwise(0L))
          .as("n_match"))
      .select(col(groupCol), col("rater"), col("n_rated"),
        col("n_consensus_seen"), col("n_match"),
        (when(col("n_consensus_seen") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_match").cast("double")
            / col("n_consensus_seen"), 6)) + lit(0.0d)).as("accuracy"))
      .orderBy(col(groupCol), col("rater"))
  }

  /** ONE Dawid–Skene refinement step (Dawid & Skene 1979) in the
    * exact nano lattice: learn each rater's confusion matrix against
    * the strict-majority consensus, then relabel EVERY voted unit by
    * the reliability-weighted posterior — the standard upgrade from
    * raw majority voting when raters differ in quality (a weak
    * rater's vote stops outvoting a strong one), run for one step so
    * the whole computation stays exactly reproducible across engines.
    *
    * Lattice discipline (the q237 Bradley–Terry class): the only
    * float math is ln of count ratios, each independently rounded to
    * an int64 nano weight — W_r(t,g) = round(1e9·ln((n_rtg+1)/
    * (n_rt+L))), prior P(c) = round(1e9·ln((n0_c+1)/(n0+L))) — and
    * every per-unit score is an exact INTEGER sum of those weights,
    * so the argmax (ties → smallest label) cannot drift with
    * aggregation order. L = |label domain| (add-one smoothing).
    *
    * Scale: consensus and confusion are unit-/confusion-grain
    * aggregates; the dense weight table is raters × L² rows — the
    * KB-scale learned-parameter class, COLLECTED under loud bounds
    * ([[LocalGate.collectBounded]]) and re-broadcast as a
    * LocalRelation; scoring is votes × L rows with a unit-grain argmax
    * aggregate — never unit × unit.
    *
    * @param items long format: (unitCol, raterCol, labelCol); NULL
    *              labels = missing vote
    * @return (unit, majority, posterior, changed) — majority NULL on
    *         tied units; changed = posterior ≠ majority (or majority
    *         was NULL), the units the reliability weighting rescues */
  def dawidSkeneStep(items: DataFrame, unitCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val spark = items.sparkSession
    // checkpoint the votes: they feed five branches (labels, raters,
    // consensus, confusion, scoring) plus an eager label-domain read,
    // and without it the caller's vote-construction subplan would
    // re-execute per branch. Bounded: one skinny row per vote.
    val votes = items.filter(col(labelCol).isNotNull)
      .select(col(unitCol).as("unit"), col(raterCol).as("rater"),
        col(labelCol).as("given"))
      .localCheckpoint()
    // label domain COLLECTED under a loud bound and re-created as a
    // LocalRelation: the same driver read that used to
    // be a bare count() now also makes every labels broadcast below
    // PROVABLY bounded for the registry-wide broadcast sweep (a
    // Deduplicate over the checkpoint's LogicalRDD is opaque to it)
    val labProj = votes.select(col("given").as("lab")).distinct()
    val labRows = LocalGate.collectBounded(labProj, DsMaxLabels,
      s"dawid_skene: label domain exceeds the documented bound " +
        s"($DsMaxLabels) — relabel at a coarser class grain")
    val labels = spark.createDataFrame(
      java.util.Arrays.asList(labRows: _*), labProj.schema)
    val raters = votes.select(col("rater")).distinct()
    val nLabels = labRows.length.toLong // tiny by contract (guard above)
    val consensus = votes.groupBy(col("unit"), col("given"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mu",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("unit"))))
      .filter(col("n") * 2 > col("mu") && col("mu") >= 2)
      .select(col("unit"), col("given").as("truth"))
    // rater confusion vs consensus, DENSE over raters × L² (absent
    // cells are the add-one-smoothed zero) — KB-scale, broadcastable
    val conf = votes.join(consensus, Seq("unit"))
      .groupBy(col("rater"), col("truth"), col("given"))
      .agg(count(lit(1)).as("n_rtg"))
    val rowTot = conf.groupBy(col("rater"), col("truth"))
      .agg(sum(col("n_rtg")).as("n_rt"))
    val denseDist = raters
      .crossJoin(broadcast(labels.select(col("lab").as("truth"))))
      .crossJoin(broadcast(labels.select(col("lab").as("given"))))
      .join(conf, Seq("rater", "truth", "given"), "left")
      .join(rowTot, Seq("rater", "truth"), "left")
      .select(col("rater"), col("truth"), col("given"),
        round(lit(1e9) * log(
          (coalesce(col("n_rtg"), lit(0L)) + 1).cast("double")
            / (coalesce(col("n_rt"), lit(0L)) + nLabels)), 0)
          .cast("long").as("w"))
    // the raters × L² weight table is the learned parameter — the
    // KB-scale codebook class: collect it under a loud bound and
    // re-create a LocalRelation so its broadcast below is provably
    // bounded (same sweep argument as the label domain above)
    val denseRows = LocalGate.collectBounded(denseDist, DsMaxWeightRows,
      s"dawid_skene: raters x labels^2 weight table exceeds the documented driver " +
        s"bound ($DsMaxWeightRows rows) — fit at a coarser rater/label grain")
    val dense = spark.createDataFrame(
      java.util.Arrays.asList(denseRows: _*), denseDist.schema)
    val prior = consensus.groupBy(col("truth")).agg(count(lit(1)).as("n0c"))
    val priorDense = labels.select(col("lab").as("truth"))
      .join(prior, Seq("truth"), "left")
      .crossJoin(broadcast(consensus.agg(count(lit(1)).as("n0"))))
      .select(col("truth"),
        round(lit(1e9) * log((coalesce(col("n0c"), lit(0L)) + 1).cast("double")
          / (col("n0") + nLabels)), 0).cast("long").as("pw"))
    val scored = votes
      .join(broadcast(dense), Seq("rater", "given"))
      .groupBy(col("unit"), col("truth"))
      .agg(sum(col("w")).as("sw"))
      .join(broadcast(priorDense), Seq("truth"))
      .select(col("unit"), col("truth"), (col("sw") + col("pw")).as("score"))
    // argmax as ONE hash aggregate instead of a unit-partitioned sort
    // window: max score with ties toward the SMALLEST label = min of
    // the (−score, truth) struct (struct ordering is field-by-field, so
    // this is exactly "score DESC, truth ASC" row 1). Partial
    // aggregation collapses the L candidate rows map-side, so the unit
    // exchange moves one row per unit and needs no sort (guide §2.3).
    val posterior = scored
      .groupBy(col("unit"))
      .agg(min(struct((-col("score")).as("ns"), col("truth").as("t"))).as("m"))
      .select(col("unit"), col("m.t").as("posterior"))
    posterior.join(consensus.withColumnRenamed("truth", "majority"),
        Seq("unit"), "left")
      .select(col("unit"), col("majority"), col("posterior"),
        (col("majority").isNull || col("majority") =!= col("posterior"))
          .as("changed"))
      .orderBy(col("unit"))
  }
}
