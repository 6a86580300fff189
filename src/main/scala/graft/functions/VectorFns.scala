package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `ArrayType` embeddings (SURVEY
  * §2.11 "similarity search"). Higher-order functions (`zip_with` +
  * `aggregate`), not UDFs: the arithmetic stays inside Catalyst, is
  * null-safe, and needs no serialization round-trip.
  *
  * All math is done in DOUBLE (inputs cast up from float) so results are
  * bit-comparable with the DuckDB oracle's `::DOUBLE[]` list functions —
  * both sides fold the array sequentially.
  */
object VectorFns {

  private def d(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column =
    sqrt(aggregate(d(a), lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity — backed by the native one-pass codegen
    * expression (`graft.plans.CosineSimExpr`): the HOF formulation
    * evaluates an interpreted lambda per element (~400 ns/element,
    * measured by a probe since removed; see git history at 894f351),
    * which is the inner loop of every similarity operator at corpus
    * scale. Same values, same null
    * semantics (cosineHof retained for the parity spec). */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimExpr.cosineSim(d(a), d(b))

  /** The zip_with/aggregate formulation cosine() replaced. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** Seed of every LSH hyperplane ([[lshCoefs]]), engine and oracles alike. */
  private[graft] val LshSeed = 42L

  /** Random-hyperplane LSH bucket id: `nBits` sign bits of projections
    * onto deterministic pseudo-random hyperplanes. The "hyperplane"
    * coefficients are derived per (bit, dimension) from a hash — fully
    * deterministic, no fitted model, so the operator works on any
    * static or streaming batch without a training pass.
    */
  def lshBucket(vec: Column, dim: Int, nBits: Int): Column = {
    val v = d(vec)
    val bits = (0 until nBits).map { b =>
      val coefs = typedLit(lshCoefs(b, dim).toArray)
      // sign via the native one-pass cosine (codegen'd): sign(cos) ≡
      // sign(dot) since norms are positive — the oracle's
      // list_dot_product >= 0 test matches bit for bit
      when(graft.plans.CosineSimExpr.cosineSim(v, coefs) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  /** bitsPerBand needed to hold within-band buckets at ~`targetBucket`
    * members for an `n`-vector corpus: log₂(n / targetBucket). Driver-side
    * twin of [[bitsForCorpusCol]] (same floor of 4, same ceil-log₂). */
  def bitsForCorpus(n: Long, targetBucket: Int): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)

  /** In-query [[bitsForCorpus]]: the smallest b in [minBits, maxBits]
    * with n ≤ targetBucket·2^b, as an exact-integer comparison chain —
    * no log/ceil float boundary, so a SQL twin generated from the same
    * loop resolves to the IDENTICAL bit count in any engine. This is
    * what holds the LSH self-join linear at 100×: within-bucket
    * population stays ~targetBucket instead of growing ∝N. */
  def bitsForCorpusCol(n: Column, minBits: Int, maxBits: Int,
      targetBucket: Int): Column =
    (minBits until maxBits).foldRight(lit(maxBits): Column) { (b, els) =>
      when(n <= lit(targetBucket.toLong << b), lit(b)).otherwise(els)
    }

  /** ONE masked band key: sign bits of planes planeBase..planeBase+
    * maxBits-1, each contributing only when its in-band index r is
    * below the runtime `bits` — the single implementation both
    * [[lshBucketMasked]] and [[lshBandKeysMasked]] delegate to, so the
    * mask/plane-window contract cannot desynchronize between the
    * bucket and band forms (r13 review). `And` short-circuits, so
    * masked-off planes cost nothing at runtime. */
  private def maskedBandKey(v: Column, dim: Int, bits: Column, maxBits: Int,
      planeBase: Int): Column =
    (0 until maxBits).map { r =>
      val coefs = typedLit(lshCoefs(planeBase + r, dim).toArray)
      when(lit(r) < bits &&
          graft.plans.CosineSimExpr.cosineSim(v, coefs) >= 0,
        lit(1L << r)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))

  /** [[lshBucket]] with a RUNTIME bit count: the expression is unrolled
    * to a static `maxBits` width and masked to the low `bits` — the
    * static unrolling keeps a SQL oracle expressible while the bucket
    * count scales with the corpus ([[bitsForCorpusCol]] supplies `bits`
    * from an in-query count). ≡ band 0 of [[lshBandKeysMasked]]. */
  def lshBucketMasked(vec: Column, dim: Int, bits: Column, maxBits: Int): Column =
    maskedBandKey(d(vec), dim, bits, maxBits, planeBase = 0)

  /** Banded random-hyperplane signature: `nBands` independent bucket
    * keys, each from the RUNTIME `bits` sign bits (same masking contract
    * as [[lshBucketMasked]]). Pairs that collide in ≥1 band are LSH
    * candidates — the same OR-of-ANDs S-curve structure as MinHash
    * banding (Dedup.minhashLshPairs).
    *
    * Scale: within-band bucket population is N / 2^bits, so callers
    * hold the pair-join linear by growing `bits` with the corpus
    * ([[bitsForCorpusCol]]); nBands buys back the recall that longer
    * keys cost. A fixed-width bucket is quadratic at 100× — population
    * grows linearly, pairs as its square.
    *
    * Band b draws planes from the STATIC window b·maxBitsPerBand+r —
    * plane identity never depends on the resolved bit count, so growing
    * the corpus only APPENDS sign bits to each band key (prefix-stable
    * bucketing). */
  def lshBandKeysMasked(vec: Column, dim: Int, nBands: Int, bits: Column,
      maxBitsPerBand: Int): Column = {
    val v = d(vec)
    array((0 until nBands).map { b =>
      maskedBandKey(v, dim, bits, maxBitsPerBand, b * maxBitsPerBand)
    }: _*)
  }

  /** [[lshBandKeysMasked]] with a RUNTIME band count as well as a
    * runtime bit count: the array is unrolled to a static `maxBands`
    * width and bands ≥ `nBands` yield NULL (callers filter
    * `pos < nBands` after posexplode; a NULL key never equi-joins
    * regardless). Band b still draws planes from the STATIC window
    * b·maxBitsPerBand+r, so growing the corpus only APPENDS bands —
    * the prefix-stability contract of [[lshBandKeysMasked]] extended
    * to the band axis. The band gate short-circuits, so per-row cost
    * is nBands·bits plane projections, not maxBands·maxBitsPerBand.
    * This is the knob that lets the OR-of-ANDs recall survive the
    * adaptive bit growth: bits ∝ log₂N holds buckets bounded (runtime)
    * while bands ∝ 1/p₁^bits holds candidate recall at the design
    * similarity (quality) — together the standard L = O(N^ρ) LSH
    * schedule. */
  def lshBandKeysMaskedBands(vec: Column, dim: Int, maxBands: Int,
      nBands: Column, bits: Column, maxBitsPerBand: Int): Column =
    graft.plans.LshBandKeysMaskedExpr.bandKeys(d(vec), nBands.cast("int"),
      bits.cast("int"), maxBands, maxBitsPerBand, dim, LshSeed)

  /** The unfused CaseWhen/[[maskedBandKey]] composition of
    * [[lshBandKeysMaskedBands]] — retained as the REFERENCE form the
    * native [[graft.plans.LshBandKeysMaskedExpr]] is property-tested
    * against (VectorFnsSpec): at the full 24×24 static width the
    * composed tree blows Janino's method limit inside whole-stage
    * codegen, so the serving path fuses it into one call. */
  private[graft] def lshBandKeysMaskedBandsComposed(vec: Column, dim: Int,
      maxBands: Int, nBands: Column, bits: Column, maxBitsPerBand: Int): Column = {
    val v = d(vec)
    // r15: sliced to the live-band count — the native expression emits
    // an EXACT-LENGTH array (no padded NULL tail), so the reference
    // composition slices its static-width form to match
    slice(array((0 until maxBands).map { b =>
      when(lit(b) < nBands,
        maskedBandKey(v, dim, bits, maxBitsPerBand, b * maxBitsPerBand))
    }: _*), lit(1), least(coalesce(nBands, lit(0)), lit(maxBands)))
  }

  /** The ±1 hyperplane coefficients for bit `b` — deterministic per
    * (bit, dimension) from a splitmix-style mix. Public so the DuckDB
    * oracle SQL can inline the IDENTICAL planes as list literals: both
    * engines then bucket every vector the same way and the approximate
    * ANN result is exactly reproducible. */
  def lshCoefs(b: Int, dim: Int): Seq[Double] = planeCoefs(b, dim, LshSeed)

  /** [[lshCoefs]] under the seed a [[graft.plans.LshBandKeysMaskedExpr]] carries. */
  private[graft] def planeCoefs(b: Int, dim: Int, seed: Long): Seq[Double] =
    (0 until dim).map { i =>
      val h = scala.util.hashing.MurmurHash3.productHash((b, i, seed))
      if ((h & 1) == 0) 1.0 else -1.0
    }
}
