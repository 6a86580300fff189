package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Bradley–Terry preference-strength fitting (Bradley &
  * Terry 1952; Hunter 2004's MM algorithm) — the aggregation layer of
  * preference/reward data work: given pairwise duels (winner, loser),
  * estimate per-item strengths θ with P(i beats j) = θᵢ/(θᵢ+θⱼ). A
  * training-data pipeline runs exactly this shape over human (or
  * model) preference comparisons to score candidates, rank
  * policies/annotators, and QA reward-model datasets.
  *
  * Scale split (the feature-PCA precedent: distributed sufficient
  * statistics + exact-integer driver solve): the corpus-sized work is
  * ONE aggregation to duel counts n(i, j) — item-pair grain, bounded
  * by items², never corpus-sized state. The MM iterations then run
  * driver-side over the collected pair table (documented bound:
  * items² rows — items are entity classes like brands/policies, not
  * documents) in exact BigInt lattice arithmetic mirrored term-for-
  * term by a generated unrolled-CTE HUGEINT oracle, so both engines
  * land on the IDENTICAL integers — no float boundary anywhere:
  *
  *   θ⁰ᵢ = 10⁹ (the 1e-9 lattice);
  *   Sᵢ  = Σⱼ ⌊m(i,j)·10¹⁸ / (θᵢ + θⱼ)⌋   (m = duels between i and j)
  *   θ'ᵢ = max(⌊wᵢ·10¹⁸ / Sᵢ⌋, 1)          (wᵢ = wins of i; floor at
  *                                           one lattice unit so an
  *                                           all-losing item never
  *                                           divides by zero later)
  *   θᵢ  = max(⌊θ'ᵢ·k·10⁹ / Σθ'⌋, 1)        (mean-1 renormalization,
  *                                           k = item count)
  *
  * Every division is a floor of nonnegative integers — identical in
  * BigInt and HUGEINT `//`. Fixed `rounds` iterations (MM converges
  * geometrically; the spec checks the fixed-point residual).
  */
object BradleyTerry {

  private val E9 = BigInt(1000000000L)
  private val E18 = E9 * E9

  /** Exact-integer MM rounds over collected duel counts — driver math,
    * shared by the operator and (via the generated oracle CTEs) spec
    * reasoning. `wins` rows are (winner, loser, n). Returns
    * (item, wins, losses, theta_nano) sorted by theta desc, item. */
  private[graft] def mmRounds(wins: Seq[(String, String, Long)],
      rounds: Int): Seq[(String, Long, Long, Long)] = {
    val w = wins.groupBy(_._1).map { case (i, g) => i -> g.map(_._3).sum }
      .withDefaultValue(0L)
    val l = wins.groupBy(_._2).map { case (j, g) => j -> g.map(_._3).sum }
      .withDefaultValue(0L)
    // symmetric duel totals m(i, j) on ordered keys
    val m = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    wins.foreach { case (i, j, n) => m((i, j)) += n; m((j, i)) += n }
    val items = m.keys.map(_._1).toSeq.distinct.sorted
    val k = BigInt(items.size)
    var th: Map[String, BigInt] = items.map(_ -> E9).toMap
    for (_ <- 1 to rounds) {
      val s = items.map { i =>
        i -> m.collect { case ((a, j), n) if a == i =>
          BigInt(n) * E18 / (th(i) + th(j))
        }.sum
      }.toMap
      val raw = items.map { i =>
        i -> (if (s(i) == 0) BigInt(1)
              else (BigInt(w(i)) * E18 / s(i)).max(BigInt(1)))
      }.toMap
      val tot = raw.values.sum
      th = raw.map { case (i, v) => i -> (v * k * E9 / tot).max(BigInt(1)) }
    }
    items.map(i => (i, w(i), l(i), th(i).toLong))
      .sortBy { case (i, _, _, t) => (-t, i) }
  }

  /** The additive monitor state: (winner, loser, n) duel counts — one
    * row per ordered pair, items²-grain. Additive under union, so a
    * streaming complete-mode aggregate maintains it incrementally
    * (this function over a stream) and [[fitFromCounts]]
    * serves the same strengths the batch fit computes. */
  def duelState(duels: DataFrame): DataFrame =
    duels.groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("n"))

  /** The MM fold over [[duelState]] — the ONE implementation the batch
    * fit and the standing monitor's serving read share. The collect is
    * bounded by items² ordered pairs AND ENFORCED (r14 verdict #2, the
    * Agreement.cohenKappa loud-guard pattern): a caller fitting
    * duels at too fine an item grain (users instead of brands/policies)
    * fails loudly at `maxPairs` instead of silently OOMing the driver —
    * the collect itself is limit-bounded, so the guard never
    * materializes more than maxPairs+1 rows driver-side. */
  def fitFromCounts(state: DataFrame, rounds: Int = 10,
      maxPairs: Int = 2000000): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    val wins = LocalGate.collectBounded(
      state.select(col("winner"), col("loser"), col("n")).as[(String, String, Long)], maxPairs,
      s"bradley_terry: duel state exceeds the documented items^2 driver " +
        s"bound ($maxPairs ordered pairs) — fit at a coarser item grain " +
        "or raise maxPairs explicitly")
    mmRounds(wins.toSeq, rounds)
      .toDF("item", "n_wins", "n_losses", "theta_nano")
  }

  /** Fit strengths from a duels DataFrame with columns
    * (winner, loser) — one row per duel. The groupBy to (winner,
    * loser, n) is the one corpus-sized stage. */
  def fit(duels: DataFrame, rounds: Int): DataFrame =
    fitFromCounts(duelState(duels), rounds)
}
