package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-sample distribution-drift statistics from ONE cumsum pass.
  *
  * The monitoring read a 100 TB pipeline actually issues is "compare
  * today's distribution to the reference on every statistic we alarm
  * on" — and every ECDF statistic (KS max-gap, Wasserstein-1 transport,
  * Cramér–von Mises, Anderson–Darling, and friends) is a different
  * reduction of the SAME two cumulative count tables. Computing them in
  * separate queries (q185's KS, q203's W1) re-pays the fact-scale
  * shuffle per statistic; this operator pays it once: one value-grain
  * histogram in, one `Ecdf.groupedCumsum` (range exchange + bounded
  * offset windows, `withNext` supplying the Riemann gaps), one
  * group-grain reduction out. The statistics alarm on different drift
  * SHAPES: KS the worst single gap, W1 the mass×distance transport,
  * CvM the gap averaged over the pooled sample (sensitive to many
  * small gaps KS ignores), AD the same average reweighted by the
  * pooled ECDF's variance 1/(H(1−H)) (sensitive in the TAILS, where
  * mixing/quality-threshold decisions live), and ENERGY DISTANCE the
  * squared-gap transport 2∫(F_A−F_B)²dx (Székely–Rizzo; in one
  * dimension 2E|X−Y| − E|X−X'| − E|Y−Y'| collapses to exactly this
  * integral) — a metric on distributions that, unlike CvM/AD, keeps
  * the VALUE SCALE (units of x, like W1) while squaring the gap
  * (sensitive to sustained displacement, robust to single spikes).
  *
  * Exactness contract (the q185/q203 discipline): inputs are integer
  * counts on an integer value grid; the KS numerator max|a·n2 − b·n1|,
  * the W1 sum Σ|a·n2 − b·n1|·gap, the CvM sum Σ(cA+cB)·(a·n2−b·n1)²,
  * the energy sum Σ(a·n2−b·n1)²·gap, and the AD sum of per-value
  * FLOOR-quantized rational terms all run in decimal(38,0), and the
  * only float operations are the final divisions.
  *
  * Headroom (now GUARDED at runtime, not just documented): the CvM
  * numerator is bounded by N·(n1·n2)² — decimal(38,0)/int128 covers
  * equal sides to ~3.5·10⁷ rows each at WORST CASE (complete
  * separation, |F_A−F_B| = 1); a typical drift gap D buys a further
  * D^(−2/5) (D = 0.01 → ~2·10⁸ per side). AD's ×10⁶ term quantization
  * costs 6 more digits (~2·10⁶ worst-case rows per side — the
  * TIGHTEST bound of the five statistics); W1 needs
  * n1·n2·(v_max−v_min) < 10³⁸; energy needs
  * (n1·n2)²·(v_max−v_min) < 10³⁸ (~10⁸ worst-case rows per side on a
  * 10⁶-wide grid — n⁴·range < 10³⁸ — with a typical gap D buying a
  * further D^(−1/2) per side, dev ~ D·n1·n2). Past the bound a decimal product or
  * accumulator overflows. Under ANSI semantics (the Spark 4 default,
  * and what every graft session runs) the overflow itself raises
  * NUMERIC_VALUE_OUT_OF_RANGE — already loud. Under NON-ANSI semantics
  * it yields NULL instead, and a per-row NULL would be SILENTLY
  * DROPPED by sum/max (a wrong answer, not even a visible one) while
  * the oracle twin's HUGEINT raises an out-of-range error at the same
  * magnitudes — the two engines diverging exactly when the numbers
  * stop being trustworthy. [[reductions]] therefore also counts NULL
  * terms inside the same aggregate and `raise_error`s the query
  * (group + sizes in the message) if any term or accumulator
  * overflowed, so BOTH configurations fail loudly (DriftSpec drills
  * each path). Mitigations at that scale: uniformly subsample each
  * side (every statistic here is an ECDF functional — at 10⁷ points
  * per side its sampling error is far below the 6-dp output grid), or
  * coarsen the value grid (helps the RANGE-driven W1/energy bounds
  * only; CvM/AD bounds depend on the row counts, not the grid).
  * `autoCoarsen = true` makes the grid mitigation self-serve: W1 and
  * energy move to a per-group derived coarse grid (exact for the
  * coarsened distribution, value units restored via `grid_factor`)
  * while KS/CvM/AD stay FINE-GRID exact — coarsening never quietly
  * weakens the gap statistics it cannot help (a merged bin could hide
  * a sharp localized ECDF gap from KS; DriftSpec pins fine-grid KS
  * under an active factor).
  */
object Drift {

  /** Month-or-reference key for trajectory monitors: rows strictly
    * older than `refCutoffMonth` (yyyymm, MONTH precision — a
    * mid-year cutoff folds exactly at its month, not at January)
    * collapse into the fixed reference key −1; newer rows carry their
    * own yyyymm. The ONE fold both the batch trajectory (q209/q211)
    * and the streaming monitor key on — shared so the two legs cannot
    * drift. */
  def monthKey(date: Column, refCutoffMonth: Int): Column = {
    val mk = year(date) * 100 + month(date)
    when(mk < refCutoffMonth, lit(-1)).otherwise(mk)
  }

  /** The (m, v, cr, cm) two-sided histogram a drift TRAJECTORY folds
    * over, from (mk, v, c) counts keyed by [[monthKey]]: the reference
    * count and the month→count map collapse to value grain, then the
    * configured month window explodes back out IN-ROW — no join,
    * zero-count rows inert for every [[reductions]] statistic. Shared
    * by the batch q209/q211 read and the streaming monitor's serving
    * read (StreamOpsSpec pins serving ≡ batch through this one fold).
    * Refuses a window month older than `refCutoffMonth`: such a
    * month's rows were folded into the reference at ingest and would
    * silently emit NULL statistics. */
  def trajectoryGrid(counts: DataFrame, months: Seq[Int],
      refCutoffMonth: Int): DataFrame = {
    require(months.nonEmpty, "trajectory window is empty")
    val overlap = months.filter(_ < refCutoffMonth)
    require(overlap.isEmpty,
      s"trajectory window overlaps the pre-$refCutoffMonth reference " +
        s"period (months ${overlap.mkString(", ")}): overlapped months " +
        "were folded into the reference at ingest and would silently " +
        "emit NULL statistics; shrink the window or move the cutoff")
    counts.groupBy(col("v"))
      .agg(sum(when(col("mk") === -1, col("c")).otherwise(0L)).as("cr"),
        map_from_arrays(collect_list(col("mk")), collect_list(col("c")))
          .as("mm"))
      .select(col("v"), col("cr"),
        explode(array(months.map(lit): _*)).as("m"), col("mm"))
      .select(col("m"), col("v"), col("cr"),
        coalesce(element_at(col("mm"), col("m")), lit(0L)).as("cm"))
  }

  /** Per-group exact drift numerators between the two count columns of
    * a value-grain histogram.
    *
    * @param hist   one row per (partCols, v) with nonnegative integer
    *               counts `cA`, `cB`, none NULL (value grain — the Ecdf
    *               tie contract)
    * @param withAd also compute `asum`, the Anderson–Darling numerator:
    *               Σ over non-maximal values of
    *               ⌊(cA+cB)·dev²·10⁶ / (j·(N−j))⌋ with j the pooled
    *               cumulative count — each term an EXACT integer floor
    *               division (DuckDB twin: HUGEINT `//`), so the sum is
    *               order-independent where a per-term double sum would
    *               not be. The group's maximum value (j = N) is
    *               excluded: both ECDFs have reached 1 there, dev = 0,
    *               and the variance weight 1/(H(1−H)) is undefined.
    * @param withEnergy also compute `esum`, the energy-distance
    *               numerator: Σ over non-maximal values of
    *               dev²·(next−v) — the squared-gap Riemann sum, exact
    *               in decimal(38,0) like the others (no per-term
    *               division, so no quantization is needed)
    * @return partCols ++ (n1, n2, dnum, wsum, csum [, asum] [, esum])
    *         — the sample sizes and the EXACT decimal(38,0) numerators
    *         (KS max, W1 Riemann sum, CvM pooled sum of squares,
    *         quantized AD sum, energy squared-gap sum), for callers
    *         that finish with their own units/rounding (q203's
    *         dollars). Raises at runtime on decimal(38,0) overflow
    *         (see the headroom note above) instead of silently
    *         dropping overflowed terms.
    */
  def reductions(hist: DataFrame, partCols: Seq[String], v: String,
      cA: String, cB: String, withAd: Boolean = false,
      withEnergy: Boolean = false, autoCoarsen: Boolean = false): DataFrame =
    if (!autoCoarsen)
      reductionsCore(hist, partCols, v, cA, cB, withAd, withEnergy,
        withGf = false)
    else {
      // coarsening buys headroom ONLY for the RANGE-driven bounds (W1,
      // energy) — so only those two statistics move to the coarse
      // grid; KS/CvM/AD have count-driven bounds the grid cannot help
      // and MUST NOT quietly degrade (a merged bin can hide a sharp
      // localized ECDF gap from KS), so they stay on the fine grid.
      // COST NOTE: the fine pass, the coarse pass, and the factor
      // pre-pass each consume `hist` independently (constraint-derived
      // filters defeat AQE stage reuse across the subtrees) — a caller
      // whose histogram carries expensive lineage (a fact-scale
      // groupBy) should persist()/localCheckpoint it before calling
      // with autoCoarsen = true; the value-grain relation itself is
      // the small thing here.
      // Column pruning drops each pass's unselected aggregates — the
      // fine pass never evaluates the overflowing W1/energy terms and
      // the coarse pass never re-evaluates the count-driven ones. The
      // second cumsum runs over the COARSENED (strictly smaller)
      // relation; the final join is group-grain.
      val fine = reductionsCore(hist, partCols, v, cA, cB, withAd,
          withEnergy = false, withGf = false)
        .select((partCols.map(col) :+ col("n1") :+ col("n2")
          :+ col("dnum") :+ col("csum"))
          ++ (if (withAd) Seq(col("asum")) else Nil): _*)
      val coarse = reductionsCore(
          coarsened(hist, partCols, v, cA, cB, withEnergy),
          partCols, v, cA, cB, withAd = false, withEnergy, withGf = true)
        .select((partCols.map(col) :+ col("wsum"))
          ++ (if (withEnergy) Seq(col("esum")) else Nil)
          :+ col("grid_factor"): _*)
      val joined =
        if (partCols.isEmpty) fine.crossJoin(coarse)
        else fine.join(coarse, partCols)
      joined.select((partCols.map(col)
        :+ col("n1") :+ col("n2") :+ col("dnum") :+ col("wsum")
        :+ col("csum"))
        ++ (if (withAd) Seq(col("asum")) else Nil)
        ++ (if (withEnergy) Seq(col("esum")) else Nil)
        :+ col("grid_factor"): _*)
    }

  private def reductionsCore(hist: DataFrame, partCols: Seq[String],
      v: String, cA: String, cB: String, withAd: Boolean,
      withEnergy: Boolean, withGf: Boolean): DataFrame = {
    val dec = "decimal(38,0)"
    val cum = Ecdf.groupedCumsum(hist, partCols, v, Seq(cA, cB),
      withNext = true)
    // |F_A − F_B| scaled by n1·n2, exact: the KS numerator per value,
    // the W1 integrand once multiplied by the gap to the next value,
    // and the CvM summand once squared and pooled-weighted
    val dev = abs(col(s"cum_$cA").cast(dec) * col(s"tot_$cB")
      - col(s"cum_$cB").cast(dec) * col(s"tot_$cA"))
    // the group's maximum value has no successor and contributes
    // nothing to the integrals (both ECDFs have reached 1 there)
    val w1Term = when(col(s"next_$v").isNotNull,
      dev * (col(s"next_$v") - col(v))).otherwise(lit(0).cast(dec))
    // CvM sums over POOLED OBSERVATIONS: each distinct value carries
    // its pooled multiplicity cA + cB
    val cvmTerm = (col(cA) + col(cB)).cast(dec) * dev * dev
    // AD: the CvM summand variance-weighted by the pooled ECDF,
    // ×10⁶-quantized so the per-value rational becomes an exact
    // integer floor division: (num − num mod den) / den ≡ ⌊num/den⌋
    // for nonnegative decimals, with no rounding anywhere (the direct
    // decimal divide rounds HALF_UP at scale 6, which can cross an
    // integer boundary from below and disagree with the twin's
    // HUGEINT floor division)
    val adTerm = if (!withAd) lit(0).cast(dec) else {
      val j = (col(s"cum_$cA") + col(s"cum_$cB")).cast(dec)
      val n = (col(s"tot_$cA") + col(s"tot_$cB")).cast(dec)
      val num = cvmTerm * lit(1000000L).cast(dec)
      val den = j * (n - j)
      // den = 0 only where num = 0 too (a leading zero-count padding
      // row has j = 0 AND dev = 0; a row at j = N has dev = 0), so
      // gating on den > 0 both skips the 0/0 division — which would
      // otherwise raise under ANSI on exactly the padded-histogram
      // shapes q209 builds, despite the term's true value being 0 —
      // and keeps the zero-count-rows-are-inert contract that the
      // other three reductions already satisfy
      when(col(s"next_$v").isNotNull && den > 0,
        ((num - num % den) / den).cast(dec))
        .otherwise(lit(0).cast(dec))
    }
    // energy: the same Riemann gaps as W1 with the deviation SQUARED —
    // zero-count padding rows split an interval [v, next] into pieces
    // carrying the identical dev, so dev²·gap re-sums exactly (inert,
    // like every other reduction)
    val eTerm = if (!withEnergy) lit(0).cast(dec) else
      when(col(s"next_$v").isNotNull,
        dev * dev * (col(s"next_$v") - col(v))).otherwise(lit(0).cast(dec))
    // overflow sentry, PER STATISTIC: a decimal product past 38 digits
    // is NULL under non-ANSI semantics and sum/max would skip it
    // SILENTLY — count each statistic's bad terms in the same aggregate
    // and fail only the statistic whose terms actually overflowed (AD's
    // ~2e6-rows/side bound is ~17× tighter than CvM's and ~50× tighter
    // than the core KS/W1 bounds, so one shared counter would abort
    // statistics that still have full headroom; with per-statistic
    // counters a caller gets the safe ones by simply not selecting the
    // overflowed column — column pruning drops its guard entirely)
    def bad(t: Column): Column = when(t.isNull, 1L).otherwise(0L)
    val aggd = cum
      .groupBy((partCols.map(col)
        :+ col(s"tot_$cA") :+ col(s"tot_$cB")
        :++ (if (withGf) Seq(col("__gf")) else Nil)): _*)
      .agg(max(dev).as("dnum"),
        (sum(w1Term).as("wsum") +: sum(cvmTerm).as("csum")
          +: sum(bad(dev)).as("__bad_ks") +: sum(bad(w1Term)).as("__bad_w1")
          +: sum(bad(cvmTerm)).as("__bad_cvm")
          +: ((if (withAd) Seq(sum(adTerm).as("asum"),
                sum(bad(adTerm)).as("__bad_ad")) else Nil)
            ++ (if (withEnergy) Seq(sum(eTerm).as("esum"),
                sum(bad(eTerm)).as("__bad_e")) else Nil))): _*)
    def guarded(c: Column, stat: String, badCol: String): Column =
      when(col(badCol) > 0 || c.isNull,
        raise_error(concat(
          lit(s"graft.Drift: decimal(38,0) overflow computing $stat for group ("),
          concat_ws(", ", partCols.map(p => col(p).cast("string")): _*),
          lit(") with n1="), col(s"tot_$cA").cast("string"),
          lit(" n2="), col(s"tot_$cB").cast("string"),
          lit(s" — past the int128 headroom (see Drift scaladoc); " +
            "subsample each side" +
            (if (stat == "w1" || stat == "energy")
              // inside the coarse pass (withGf) the grid factor is
              // already at its cap — advising the flag that is already
              // on would send the caller in a circle
              (if (withGf) " (the grid factor is already at its cell-count cap)"
               else " or coarsen the value grid (autoCoarsen = true)")
             else
              " (the grid cannot help this statistic's count-driven bound)") +
            "; other statistics may still be served - select them " +
            s"without the $stat column"))))
        .otherwise(c)
    aggd.select((partCols.map(col)
      :+ col(s"tot_$cA").as("n1") :+ col(s"tot_$cB").as("n2")
      :+ guarded(col("dnum"), "ks", "__bad_ks").as("dnum")
      :+ guarded(col("wsum"), "w1", "__bad_w1").as("wsum")
      :+ guarded(col("csum"), "cvm", "__bad_cvm").as("csum"))
      ++ (if (withAd) Seq(guarded(col("asum"), "ad", "__bad_ad").as("asum"))
          else Nil)
      ++ (if (withEnergy)
          Seq(guarded(col("esum"), "energy", "__bad_e").as("esum")) else Nil)
      ++ (if (withGf) Seq(col("__gf").as("grid_factor")) else Nil): _*)
  }

  /** The self-serve leg of the overflow story: re-bin `hist` onto a
    * coarser integer grid (`v → ⌊v/f⌋`, counts re-summed — EXACT for
    * the coarsened distribution) with the per-group factor `f` derived
    * at plan time from the observed sizes and span against the
    * RANGE-DRIVEN decimal(38,0) bounds (W1 needs n1·n2·range < 10³⁸,
    * energy (n1·n2)²·range < 10³⁸ — the two statistics whose headroom
    * the grid actually buys; CvM/AD bounds depend on counts alone and
    * stay with the sentry + subsampling). `f` is the smallest power of
    * ten covering the worst-case need with one digit of sum headroom,
    * CAPPED so the coarse grid keeps ≥ ~1000 cells — a factor past
    * that would quietly crush the distribution into a handful of bins
    * (dev → 0) and serve a meaningless zero instead of the loud raise
    * the sentry owes the caller. INTEGER value grids only — the long
    * re-bin would truncate a fractional grid even at f = 1, so a
    * fractional grid is refused loudly (pre-scale to cents/micros).
    * Healthy integer-grid groups get f = 1 and pass
    * through bit-identically (DriftSpec pins this). Output carries
    * `__gf`; [[reductions]] surfaces it as `grid_factor` and
    * [[ksAndW1]] multiplies it back into the value-unit statistics
    * (w1, energy), so a coarsened read keeps the caller's units. */
  private def coarsened(hist: DataFrame, partCols: Seq[String], v: String,
      cA: String, cB: String, withEnergy: Boolean): DataFrame = {
    // the runtime __frac guard below is EXACT for float/double grids (a
    // binary float ≥ 2^53 cannot carry a fraction, so the double probe
    // never misses one) — but a wide fractional-SCALE decimal CAN hold
    // fractions whose double cast rounds integral, sailing through the
    // probe into the silent long-truncation the guard exists to refuse.
    // The probe is provably exact while the double grid is finer than
    // the decimal's: the smallest representable fraction is 10^-scale
    // and the ulp at max magnitude 10^(precision-scale) stays below it
    // iff 10^precision < 2^52 — i.e. precision ≤ 15. Past that, refuse
    // statically (r13 review narrowed the r12 scale>0 blanket refusal,
    // which broke integral-valued narrow-decimal callers the runtime
    // probe handles exactly).
    hist.schema(v).dataType match {
      case d: org.apache.spark.sql.types.DecimalType =>
        require(d.scale <= 0 || d.precision <= 15,
          "graft.Drift: autoCoarsen requires an integer value grid — " +
            s"column '$v' is decimal(${d.precision},${d.scale}), wide " +
            "enough to hold fractions the double-cast probe cannot see; " +
            "pre-scale the grid to integers (e.g. cents, micros)")
      case _ => ()
    }
    val lim = 1e37 // one digit under decimal(38,0) for the sum headroom
    val nn = col("__n1d") * col("__n2d")
    val range = col("__vmax") - col("__vmin")
    val need = greatest(
      nn * range / lim,
      if (withEnergy) nn * nn * range / lim else lit(0.0),
      lit(1.0))
    val fNeed = pow(lit(10.0), ceil(log10(need)))
    val fCap = pow(lit(10.0),
      floor(log10(greatest(range / 1000.0, lit(1.0)))))
    // group-grain pre-pass (the factor relation is |groups| rows; AQE
    // broadcasts it UNHINTED, the registry-wide audit's requirement)
    val st = hist.groupBy(partCols.map(col): _*)
      .agg(sum(col(cA)).cast("double").as("__n1d"),
        sum(col(cB)).cast("double").as("__n2d"),
        min(col(v)).cast("double").as("__vmin"),
        max(col(v)).cast("double").as("__vmax"),
        // the ⌊v/f⌋ re-bin below runs in pure long arithmetic, which
        // TRUNCATES a fractional grid (even at f = 1) — refuse loudly
        // instead of serving a silently corrupted distribution; callers
        // on fractional grids pre-scale onto integers (cents, micros)
        max(abs(col(v).cast("double") - floor(col(v).cast("double"))))
          .as("__frac"))
      .select((partCols.map(col)
        // folded into __gf so column pruning cannot drop the guard
        :+ when(col("__frac") > 0, raise_error(lit(
            "graft.Drift: autoCoarsen requires an integer value grid " +
              "(the long re-bin would truncate fractional values) — " +
              "pre-scale the grid to integers (e.g. cents, micros)"))
            .cast("long"))
          .otherwise(least(fNeed, fCap).cast("long")).as("__gf")): _*)
    // ⌊v/f⌋ in pure long arithmetic ((v − pmod) is exactly divisible,
    // `div` keeps it integral — a double `/` would lose precision past
    // 2⁵³ on wide value domains)
    val withFactor =
      if (partCols.isEmpty) hist.crossJoin(st) // the reductions() rule
      else hist.join(st, partCols)
    withFactor
      .groupBy((partCols.map(col) :+ col("__gf")
        :+ expr(s"(CAST($v AS BIGINT) - pmod(CAST($v AS BIGINT), __gf)) div __gf")
          .as(v)): _*)
      .agg(sum(col(cA)).as(cA), sum(col(cB)).as(cB))
  }

  /** [[reductions]] finished at 6 dp: partCols ++ (n1, n2, ks_d, w1,
    * cvm [, ad] [, energy]) — ks_d ∈ [0,1], w1 in VALUE UNITS (callers
    * rescale, e.g. cents → dollars), cvm the two-sample Cramér–von
    * Mises criterion n1·n2/N² · Σ_pooled (F_A−F_B)², ad (with
    * `withAd = true`) the two-sample Anderson–Darling statistic
    * (Pettitt's A² = 1/(n1·n2) · Σ_pooled (a·n2−b·n1)²/(j·(N−j)),
    * counting each pooled observation at its value's right-continuous
    * cumulative — ties collapse onto the value grain — and quantized
    * per term to the 10⁻⁶ grid, error < |values|·10⁻⁶/(n1·n2), far
    * below the 6-dp output rounding), energy (with `withEnergy =
    * true`) the Székely–Rizzo energy distance 2∫(F_A−F_B)²dx =
    * 2·esum/(n1·n2)², in VALUE UNITS like w1. A group with an EMPTY
    * side has no drift comparison — all statistics emit NULL (not the
    * 0/0 NaN a bare division would give), and oracle twins must mirror
    * the guard (`CASE WHEN n1 > 0 AND n2 > 0 THEN … END`). */
  def ksAndW1(hist: DataFrame, partCols: Seq[String], v: String,
      cA: String, cB: String, withAd: Boolean = false,
      withEnergy: Boolean = false, autoCoarsen: Boolean = false): DataFrame = {
    val r = reductions(hist, partCols, v, cA, cB, withAd, withEnergy,
      autoCoarsen)
    val ok = col("n1") > 0 && col("n2") > 0
    val nn = col("n1").cast("double") * col("n2")
    val bigN = (col("n1") + col("n2")).cast("double")
    // with autoCoarsen the value-unit statistics come back in units of
    // the coarse grid step — multiply the factor back in so the caller
    // keeps their units (f = 1 on healthy groups: identical output)
    val gf = if (autoCoarsen) col("grid_factor").cast("double") else lit(1.0)
    r.select((partCols.map(col) :+ col("n1") :+ col("n2")
      :+ when(ok, round(col("dnum").cast("double") / nn, 6)).as("ks_d")
      :+ when(ok, round(col("wsum").cast("double") * gf / nn, 6)).as("w1")
      // T = n1·n2/N² · Σ_pooled (F_A−F_B)², and dev = (F_A−F_B)·n1·n2,
      // so T = csum / (n1·n2·N²)
      :+ when(ok, round(col("csum").cast("double")
          / (nn * bigN * bigN), 6)).as("cvm"))
      // A² = Σ dev²·c/(j(N−j)) / (n1·n2), with asum carrying the sum
      // ×10⁶ — so divide the quantization back out here
      ++ (if (withAd) Seq(when(ok, round(col("asum").cast("double")
            / (nn * 1e6), 6)).as("ad"))
          else Nil)
      // E = 2∫(F_A−F_B)²dx, and dev = (F_A−F_B)·n1·n2, so
      // E = 2·esum/(n1·n2)²
      ++ (if (withEnergy) Seq(when(ok, round(lit(2) *
            col("esum").cast("double") * gf / (nn * nn), 6)).as("energy"))
          else Nil)
      ++ (if (autoCoarsen) Seq(col("grid_factor")) else Nil): _*)
  }

  /** Additive second-moment drift state (the q233 covariance monitor):
    * one row per (label, half, upper-triangle cell i ≤ j) carrying the
    * EXACT int64 product sum over the half's quantized vectors plus
    * the half's vector count. Every vector contributes every cell
    * exactly once, so `n` is constant across a (label, half)'s cells
    * and the whole state is plain additive counts/sums — a streaming
    * complete-mode aggregate maintains it incrementally
    * (this function over a stream) and
    * [[covarianceDrift]] serves the same number the batch q233
    * computes, the Privacy.classState/audit split applied to drift.
    * Input columns: (label, h ∈ {0,1}, q ARRAY<BIGINT> on the caller's
    * integer grid). State size: labels × 2 × D(D+1)/2 rows. */
  def covarianceCellState(rows: DataFrame): DataFrame =
    rows
      // empty vectors carry no second-moment information and are
      // dropped (they also don't count toward the half sizes); without
      // the guard, sequence(1, 0) DESCENDS and element_at(q, 0) kills
      // a standing streaming query at runtime (r14 review)
      .filter(size(col("q")) >= 1)
      .select(col("label"), col("h"), col("q"),
        explode(sequence(lit(1), size(col("q")))).as("i"))
      .select(col("label"), col("h"), col("q"), col("i"),
        explode(sequence(lit(1), size(col("q")))).as("j"))
      .filter(col("j") >= col("i"))
      .select(col("label"), col("h"), col("i"), col("j"),
        (element_at(col("q"), col("i")) * element_at(col("q"), col("j")))
          .as("p"))
      .groupBy(col("label"), col("h"), col("i"), col("j"))
      .agg(sum(col("p")).as("s"), count(lit(1)).as("n"))

  /** The q233 Frobenius fold over [[covarianceCellState]] — the ONE
    * implementation both the batch query and the standing monitor's
    * serving read run, so they can never disagree: cross-scaled
    * difference d = S_A·n_B − S_B·n_A in int64 under the loud 4.5e12
    * guard (|d| ≤ 2·n_A·n_B·10⁶ ≤ 9×10¹⁸), squares accumulated in
    * decimal(38,0), one final sqrt. */
  def covarianceDrift(state: DataFrame): DataFrame = {
    val cs = state.groupBy(col("label"), col("i"), col("j"))
      .agg(sum(when(col("h") === 0, col("s")).otherwise(0L)).as("sa"),
        sum(when(col("h") === 1, col("s")).otherwise(0L)).as("sb"))
    // n is cell-constant per (label, half) — but ONLY when every input
    // vector shares one dimension; ragged `q` arrays populate high
    // cells with fewer rows and would silently mis-scale frob_dist off
    // the (1,1) carrier. The uniformity is therefore CHECKED at state
    // grain (max ≠ min of per-cell counts within a half) and raised
    // loudly, the same contract as the int64 headroom guard beside it
    // (r14 advice). cellN first re-sums per cell so a union of additive
    // state deltas never false-positives the check.
    val cellN = state.groupBy(col("label"), col("h"), col("i"), col("j"))
      .agg(sum(col("n")).as("cn"))
    def half(h: Int, f: Column => Column) =
      f(when(col("h") === h, col("cn")))
    val ns = cellN
      .groupBy(col("label"))
      .agg(sum(when(col("h") === 0 && col("i") === 1 && col("j") === 1,
          col("cn")).otherwise(0L)).as("na"),
        sum(when(col("h") === 1 && col("i") === 1 && col("j") === 1,
          col("cn")).otherwise(0L)).as("nb"),
        (half(0, max) =!= half(0, min)).as("ra"),
        (half(1, max) =!= half(1, min)).as("rb"))
      .withColumn("ok",
        when(coalesce(col("ra"), lit(false)) || coalesce(col("rb"), lit(false)),
          raise_error(lit("covariance_drift: ragged vector dimensions " +
            "within a (label, half) — the half sizes (and frob_dist " +
            "scaling) require one fixed dim; pad or filter the input"))
            .cast("long"))
        .otherwise(when(col("na") * col("nb") > 4500000000000L,
          raise_error(lit("q233: half sizes past the int64 cross-scale " +
            "headroom — coarsen the grid or subsample")).cast("long"))
          .otherwise(lit(1L))))
      .drop("ra", "rb")
    val d = (col("sa") * col("nb") - col("sb") * col("na"))
    cs.join(ns, Seq("label"))
      .groupBy(col("label"), col("na"), col("nb"))
      .agg(sum(when(col("i") === col("j"), lit(1L)).otherwise(lit(2L))
          .cast("decimal(38,0)")
        * (col("ok") * d).cast("decimal(38,0)") * d.cast("decimal(38,0)"))
        .as("ss"))
      .select(col("label").cast("int").as("label"), col("na").as("n_a"),
        col("nb").as("n_b"),
        (round(
          sqrt(col("ss").cast("double")) / (col("na") * col("nb")) / 1e6, 6)
          + lit(0.0d)).as("frob_dist"))
      .orderBy(col("label"))
  }
}
