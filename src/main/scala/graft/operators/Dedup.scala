package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Deduplication operators for the LLM-data-pipeline surface (SURVEY
  * §2.11): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - exact dedup is a hash groupBy — one shuffle on the dedup key;
  *  - Jaccard/MinHash never compare all pairs: candidates come from an
  *    equi-join on shingle / LSH-band keys, so the shuffle is on those
  *    keys and hot keys are capped (`maxDocFreq`) before the join —
  *    the standard guard against a quadratic blow-up on boilerplate
  *    shingles;
  *  - all pair generation enforces `id_a < id_b` so each pair shuffles
  *    once, not twice.
  */
object Dedup {

  /** Keep one row per key: the minimum id, plus the duplicate count.
    * Exact-dedup as a pure hash aggregation (map-side partial → final). */
  def exactGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Snapshot-latest dedup: newest row per key wins (the reference's
    * repeated-crawl 采集时间 semantics, lianjia.py:89,156,217). */
  def latestSnapshot(df: DataFrame, keys: Seq[String], ts: String, tiebreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact n-gram Jaccard near-duplicate pairs.
    *
    * @param docs       (id LONG, text STRING) input
    * @param n          shingle width in tokens
    * @param threshold  minimum Jaccard similarity to report
    * @param maxDocFreq drop shingles occurring in more than this many docs
    *                   before pairing (kills the quadratic hot-key path;
    *                   also drops no true pair whose remaining overlap
    *                   still clears the threshold)
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  /** Shingle-set exploded view: (id, sh) one row per distinct shingle.
    *
    * Staging decisions that matter at any scale:
    *  - tokens are materialized as a column BEFORE shingling — composing
    *    shingles(split(text)) as one expression inlines the regex split
    *    into every element_at (3 splits per shingle ⇒ O(tokens²) regex
    *    work per doc; observed 40-120s stalls at sf0.1);
    *  - repartition by id before the ~100× explode fan-out — the
    *    explosion must happen AFTER spreading rows across cores/executors,
    *    not on however few partitions the scan produced;
    *  - shingles are generated codegen-narrow (explode positions, build
    *    each shingle with row-level `element_at` concat — see
    *    TextFns.shinglePositions) instead of an in-row
    *    `array_distinct(transform(...))`: higher-order functions run
    *    interpreted, ~10× slower per element (probe removed, see git
    *    history at 894f351). The
    *    per-doc dedup the array_distinct provided becomes a
    *    `groupBy(id, sh)` — EXCHANGE-FREE, because hash(id) from the
    *    repartition above already clusters (id, sh), and the agg output
    *    keeps that same partitioning for downstream per-id consumers.
    */
  private def shingleView(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .repartition(col(idCol))
      .select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"),
        explode(TextFns.shinglePositions(col("toks"), n)).as("i"))
      .select(col("id"), TextFns.shingleAt(col("toks"), col("i"), n).as("sh"))
      .dropDuplicates(Seq("id", "sh"))

  /** The (id, sh) distinct shingle-set view, exposed so a caller
    * running MORE THAN ONE shingle screen over the same corpus slice
    * (q143 grades the exact screen against the MinHash screen) can
    * build it once, cut its lineage, and feed both
    * [[jaccardPairsFromShingles]] and [[minhashLshPairsFromShingles]]
    * — one corpus tokenize+shingle pass instead of one per screen
    * (r15, guide §2.4). Identical rows to what [[jaccardPairs]] /
    * [[minhashLshPairs]] build internally (they delegate). */
  def shingleSetView(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = shingleView(docs, idCol, textCol, n)

  /** Shared candidate stage of [[jaccardPairs]]/[[containmentPairs]]:
    * (id_a < id_b, n_inter, n_a, n_b) for pairs sharing ≥1 rare
    * shingle. One `repartition(sh)` and ReuseExchange feed every
    * consumer — the df-count, both self-join sides, and the per-doc
    * sizes — from the same corpus exchange (see the q29 lesson in the
    * jaccardPairs scaladoc). */
  private def rareShinglePairStats(docs: DataFrame, idCol: String,
      textCol: String, n: Int, maxDocFreq: Int): DataFrame =
    rareShinglePairStatsFromShingles(
      shingleView(docs, idCol, textCol, n), maxDocFreq)

  private def rareShinglePairStatsFromShingles(sh: DataFrame,
      maxDocFreq: Int): DataFrame = {
    val shBySh = sh.repartition(col("sh"))
    val sizes = shBySh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val rare = shBySh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq && col("df") >= 2)
    val shRare = shBySh.join(rare.select("sh"), Seq("sh"))
    shRare.as("a").join(shRare.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
  }

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Int): DataFrame =
    // repartition by sh ONCE and let ReuseExchange feed EVERY consumer
    // — the df-count, both self-join sides, and the per-doc sizes —
    // from the same corpus exchange. Without it the physical plan
    // replicates the whole scan→shingle→dedup pipeline per consumer
    // (5× corpus scans at any scale; seen in .explain, same lesson as
    // q29's banded self-join). sizes pays an id-sized partials exchange
    // on top of the shared layout, which at corpus scale is noise next
    // to the second full scan+shingle pass it replaces.
    jaccardPairsFromShingles(shingleView(docs, idCol, textCol, n),
      threshold, maxDocFreq)

  /** [[jaccardPairs]] over a prebuilt [[shingleSetView]]. */
  def jaccardPairsFromShingles(sh: DataFrame, threshold: Double,
      maxDocFreq: Int): DataFrame =
    rareShinglePairStatsFromShingles(sh, maxDocFreq)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Asymmetric set CONTAINMENT (Broder 1997's resemblance companion):
    * c_a = |S_a ∩ S_b| / |S_a| reads "how much of a is inside b" —
    * the QUOTE/excerpt detector Jaccard structurally misses (a 40-token
    * excerpt of a 150-token doc has containment ≈ 1 but Jaccard ≈
    * 0.27, under every symmetric threshold). Same rare-shingle
    * candidate stage and scale contract as [[jaccardPairs]]; pairs
    * survive when EITHER direction clears the threshold, and both
    * directional scores are reported.
    *
    * ESTIMATOR SEMANTICS: n_inter counts only the RARE shared shingles
    * (2 ≤ df ≤ maxDocFreq) while n_a/n_b count all shingles, so c_a/c_b
    * are LOWER BOUNDS on true Broder containment — overlap carried by
    * boilerplate shingles above the df cap does not score. That is the
    * intended bias for quote detection (boilerplate containment is the
    * false-positive class), but pairs whose overlap is MOSTLY common
    * shingles can sit below the threshold; callers needing the exact
    * value should verify candidates in-row the way
    * [[prefixFilterPairs]] does (array_intersect on the full sorted
    * shingle arrays). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Int): DataFrame =
    rareShinglePairStats(docs, idCol, textCol, n, maxDocFreq)
      .withColumn("c_a", col("n_inter").cast("double") / col("n_a"))
      .withColumn("c_b", col("n_inter").cast("double") / col("n_b"))
      .filter(greatest(col("c_a"), col("c_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        round(col("c_a"), 4).as("c_a"), round(col("c_b"), 4).as("c_b"))

  /** Exact Jaccard threshold self-join by PREFIX FILTERING (the
    * All-Pairs/PPJoin family) — the second exact algorithm next to
    * [[jaccardPairs]], with a different (assumption-free) pruning
    * structure: instead of capping shingle document frequency, order
    * every doc's shingle set by a GLOBAL rarest-first total order
    * (df asc, shingle asc tiebreak) and join only on each doc's first
    * `|S| − ⌈t·|S|⌉ + 1` shingles. Two sets with Jaccard ≥ t MUST
    * share a member inside both prefixes under any shared total order,
    * so the candidate set is exact — no false negatives and no df-cap
    * tuning knob. A size filter (`min ≥ t·max`, since J ≤ min/max)
    * prunes before verification.
    *
    * Scale shape: the prefix join's keys are by construction the
    * RAREST shingles of each doc (the global order puts boilerplate
    * last, outside every prefix), so the equi-join's key skew is
    * self-limiting — the property the df cap in [[jaccardPairs]] has
    * to impose by fiat, prefix filtering gets from the ordering
    * itself. Verification ships each candidate pair's two sorted
    * shingle arrays through one candidate-sized shuffle and computes
    * the exact intersection in-row (`array_intersect`) — no second
    * corpus-wide join.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ t
    */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleView(docs, idCol, textCol, n)
    // one sh-layout exchange feeds the df count and the ranked join
    // (ReuseExchange), same staging as jaccardPairs
    val shBySh = sh.repartition(col("sh"))
    val dfCount = shBySh.groupBy("sh").agg(count(lit(1)).as("df"))
    val ranked = shBySh.join(dfCount, Seq("sh"))
    val byDoc = Window.partitionBy("id")
    val pos = ranked
      .withColumn("pos", row_number().over(byDoc.orderBy(col("df"), col("sh"))))
      .withColumn("n_sh", count(lit(1)).over(byDoc))
    // float-safe bounds: for thresholds whose double representation
    // rounds ABOVE the decimal (e.g. 0.8 ≈ 0.8000…0004), a pair sitting
    // exactly at J = t could be over-pruned by a raw ceil(t·n) / t·max —
    // nudge both bounds by an epsilon far below 1/n resolution so the
    // lossless guarantee holds for every representable threshold
    val prefix = pos
      .filter(col("pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select(col("id"), col("sh"), col("n_sh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      // J(a,b) ≤ min/max set sizes: unbalanced pairs can't clear t
      .filter(least(col("a.n_sh"), col("b.n_sh")).cast("double") + lit(1e-9) >=
        lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = sh.groupBy("id").agg(sort_array(collect_list(col("sh"))).as("shs"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shs").as("sha")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shs").as("shb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-document SHARED-SEGMENT removal (the CCNet/RefinedWeb
    * line-dedup pass, re-expressed for a corpus whose documents are
    * single-line): cut each doc into fixed-width non-overlapping token
    * segments, count how many DISTINCT docs each segment string occurs
    * in, drop every segment shared by ≥ `maxDocs` docs (boilerplate /
    * near-dup carry-over), and reassemble the surviving segments in
    * order. Unlike the pairwise dedup ops above this is LINEAR: no
    * candidate pairs, just two hash shuffles — segments by content for
    * the df count, then rows back by doc for reassembly — so it runs
    * ahead of the quadratic-family passes in a production pipeline.
    *
    * Reassembly collects the per-doc surviving segments into one in-row
    * array (`collect_list` skips the nulled-out dropped segments) and
    * orders them by index with `sort_array` — per-doc arrays are
    * segment-count-sized (~tokens/segTokens), so the interpreted HOF
    * join is O(doc length), not a scale factor.
    *
    * @return (id, clean_text, n_dropped) one row per input doc
    */
  def dropSharedSegments(docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int, maxDocs: Int): DataFrame = {
    val base = docs
      .repartition(col(idCol))
      .select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("t"))
    // a doc with no tokens produces no segment rows — without the final
    // left join back to the doc set it would silently vanish from the
    // output instead of emitting (id, "", 0)
    val segs = base
      .filter(size(col("t")) > 0)
      .select(col("id"), posexplode(
        sequence(lit(0), size(col("t")) - 1, lit(segTokens))).as(Seq("seg_idx", "start")),
        col("t"))
      .select(col("id"), col("seg_idx"),
        array_join(slice(col("t"), col("start") + 1, lit(segTokens)), " ").as("seg"))
    val segDf = segs.select("id", "seg").distinct()
      .groupBy("seg").agg(count(lit(1)).as("ndocs"))
    val cleaned = segs.join(segDf, Seq("seg"))
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          sort_array(collect_list(when(col("ndocs") < maxDocs,
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"),
        count(when(col("ndocs") >= maxDocs, lit(1))).as("n_dropped"))
    // base is id-partitioned and cleaned is grouped on id, so this join
    // is co-located — no extra exchange, the pass stays linear
    base.select(col("id")).join(cleaned, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Rare shingles an [[editDistancePairs]] candidate must share (~100×
    * fewer candidates): random docs often share one, while a near-dup
    * within maxDist edits keeps all but O(maxDist) of its shingles. */
  private val EditMinShared = 3

  /** Edit-distance near-dup pairs: shingle-blocked candidates (same
    * rare-shingle structure as `jaccardPairs` — NEVER all-pairs), then a
    * length-band prefilter (|len_a − len_b| > k rules the pair out
    * without touching the texts — edit distance is bounded below by the
    * length gap), then the threshold Levenshtein, whose banded DP is
    * O(len·k) with early exit instead of O(len²).
    *
    * Scale shape: candidate generation is the df-capped shingle
    * equi-join; only surviving candidate pairs rejoin the corpus for
    * their texts, so full documents ride exactly two (candidate-sized)
    * shuffles and the quadratic DP runs on the blocked pair set only.
    *
    * @return (id_a, id_b, lev) with id_a < id_b and lev ≤ maxDist
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDist: Int, maxDocFreq: Int): DataFrame = {
    // one sh-layout exchange shared by the df count and both self-join
    // sides (ReuseExchange) — see jaccardPairs
    val shBySh = shingleView(docs, idCol, textCol, n).repartition(col("sh"))
    val rare = shBySh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq && col("df") >= 2)
    val shRare = shBySh.join(rare.select("sh"), Seq("sh"))
    val cand = shRare.as("a").join(shRare.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= EditMinShared)
    val t = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
    cand
      .join(t.as("ta"), col("id_a") === col("ta.id"))
      .join(t.as("tb"), col("id_b") === col("tb.id"))
      .filter(abs(length(col("ta.txt")) - length(col("tb.txt"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta.txt"), col("tb.txt"), maxDist).as("lev"))
      .filter(col("lev") >= 0) // threshold variant returns -1 past maxDist
  }

  /** Cross-document duplicated-span coverage — the exact-substring
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"): for every document, how many of
    * its tokens sit inside a `spanTokens`-token run that occurs at
    * least twice in the corpus.
    *
    * Plan shape:
    *  - span hashes are generated CODEGEN-NARROW: explode the span
    *    START POSITIONS (a sequence), then hash `slice(toks, pos, k)`
    *    as a row-level expression. An earlier form built the hash array
    *    with a `transform` HOF inside one row; higher-order functions
    *    fall out of whole-stage codegen into interpreted eval, and the
    *    measured cost was ~25µs/span vs ~2µs for the codegen'd
    *    explode+slice shape (10-15× on the same data; probe removed,
    *    see git history at 894f351).
    *    Tokens are split once per doc either way; the exploded rows
    *    carry (id, pos, hash) only — the token array never crosses the
    *    shuffle;
    *  - the duplicate test is count-over-window ON the hash layout, not
    *    a groupBy+self-join: a join would need the span pipeline twice
    *    (column pruning diverges the two subtrees, so ReuseExchange
    *    cannot deduplicate them), whereas the window rides the single
    *    exchange and sorts within partitions;
    *  - overlapping duplicated spans are merged per doc with the
    *    classic interval-union window (running max of span ends), so a
    *    token inside five overlapping dup spans counts once.
    *
    * @return (id, dup_tokens): docs with ≥1 duplicated span only
    */
  def duplicatedSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = spanTokens
    val sp = docs
      .repartition(col(idCol))
      .select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("toks"))
      // the size guard lives INSIDE the expression (not just a separate
      // row filter): optimizer rules may evaluate the projection on rows
      // a sibling filter would drop (e.g. ConvertToLocalRelation), and
      // sequence(1, n) with n ≤ 0 yields a DESCENDING sequence — bogus
      // out-of-range span positions, not an empty list
      .select(col("id"), col("toks"),
        explode(when(size(col("toks")) >= k,
          sequence(lit(1), size(col("toks")) - (k - 1)))
          .otherwise(array())).as("s"))
      // xxhash64, not md5: the hash never leaves this operator (the
      // duplicate test is hash-equality; the oracle derives its own spans),
      // so an 8-byte codegen'd long beats a 32-char digest string — the
      // h-partitioned count window below shuffles and sorts ~(tokens−k+1)
      // rows per doc, and the key is most of each row
      .select(col("id"), col("s"), (col("s") + (k - 1)).as("e"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("s"), lit(k)))).as("h"))
    val ds = sp
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("n") >= 2)
    val w = Window.partitionBy(col("id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ds
      .withColumn("prev_end", coalesce(max(col("e")).over(w), lit(0L)))
      .withColumn("c", greatest(col("e") - greatest(col("prev_end"), col("s") - 1), lit(0L)))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("dup_tokens"))
  }

  /** Exact-substring dedup ENDPOINT (the act-on-it counterpart of
    * [[duplicatedSpanCoverage]], Lee et al. 2022 §4.2): remove every
    * token covered by a `spanTokens`-token run that occurs ≥ 2× in the
    * corpus, and reassemble each doc's remaining tokens in order.
    *
    * Scale design — the rebuild cost is proportional to CONTAMINATED
    * docs, not the corpus:
    *  - span hashing + the count-over-window duplicate test are exactly
    *    [[duplicatedSpanCoverage]]'s one-exchange layout;
    *  - docs with NO duplicated span never explode to token grain: they
    *    pass through a narrow `concat_ws(toks)` projection (the
    *    normalized identity — output text is whitespace-normalized
    *    lowercase for touched and untouched docs alike, so downstream
    *    comparisons are apples-to-apples);
    *  - only touched docs are exploded to (id, pos, token) rows for the
    *    covered-position anti-join and the ordered reassembly (one
    *    id-keyed aggregation; the classic per-group array_sort rebuild).
    *    At 100 TB with a few-percent dup rate that's a few percent of
    *    the corpus paying the token-grain path.
    *
    * All four consumers of the tokenized base diverge AFTER an identical
    * `repartition(id)` exchange, so ReuseExchange materializes the
    * tokenize once (shuffle-file reuse), not per branch.
    *
    * @return (id, n_kept, clean_text) for EVERY input doc — fully
    *         deduplicated docs come back with n_kept = 0, clean_text = ""
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = spanTokens
    val base = docs
      .repartition(col(idCol))
      .select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("toks"))
    val sp = base
      .select(col("id"), col("toks"),
        explode(when(size(col("toks")) >= k,
          sequence(lit(1), size(col("toks")) - (k - 1)))
          .otherwise(array())).as("s"))
      .select(col("id"), col("s"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("s"), lit(k)))).as("h"))
    val ds = sp
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("n") >= 2)
      .select(col("id"), col("s"))
    val touched = ds.select(col("id")).distinct()
    val covered = ds
      .select(col("id"), explode(sequence(col("s"), col("s") + (k - 1))).as("pos"))
      .dropDuplicates(Seq("id", "pos"))
    val toksTouched = base.join(touched, Seq("id"), "left_semi")
      .select(col("id"), posexplode(col("toks")).as(Seq("i0", "tk")))
      .select(col("id"), (col("i0") + 1).as("pos"), col("tk"))
    val rebuilt = toksTouched.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tk")))),
          s => s.getField("tk"))).as("clean_text"))
    val untouchedOut = base.join(touched, Seq("id"), "left_anti")
      .select(col("id"), size(col("toks")).cast("long").as("n_kept"),
        concat_ws(" ", col("toks")).as("clean_text"))
    val touchedOut = touched
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
    untouchedOut.unionByName(touchedOut)
  }

  /** Mersenne prime 2^31-1 — modulus of the portable min-hash family. */
  val MinhashP: Long = 2147483647L

  /** Deterministic (a_i, b_i) affine parameters for the portable
    * min-hash family, from a splitmix64 stream: a_i ∈ [1, P-1],
    * b_i ∈ [0, P-1]. Public so the DuckDB oracle SQL inlines the SAME
    * constants — both engines then produce identical signatures. */
  def minhashParams(k: Int): Seq[(Long, Long)] = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until k).map { _ =>
      val a = Math.floorMod(next(), MinhashP - 1) + 1
      val b = Math.floorMod(next(), MinhashP)
      (a, b)
    }
  }

  /** First 60 bits of md5 as a non-negative long. md5 is identical
    * everywhere, so DuckDB's `('0x' || substr(md5(s),1,15))::BIGINT`
    * produces the same value — the base of every oracle-checkable
    * approximate operator here. */
  def portableHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Portable 31-bit shingle hash: portableHash60 reduced mod P — the
    * whole min-hash pipeline becomes oracle-checkable. One md5 per
    * distinct shingle; the k per-hash values are then k multiply-adds
    * on that single long (cheaper than k string hashes). */
  def portableShingleHash(sh: Column): Column =
    portableHash60(sh) % MinhashP

  /** MinHash signature: k independent min-hashes over the shingle set,
    * h_i(s) = (a_i·H(s) + b_i) mod P over the portable base hash H.
    * Returns (id, sig ARRAY<LONG>). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    minhashSignaturesFromShingles(shingleView(docs, idCol, textCol, n), k)

  /** [[minhashSignatures]] over a prebuilt [[shingleSetView]]. */
  def minhashSignaturesFromShingles(sh: DataFrame, k: Int): DataFrame = {
    val xs = sh.select(col("id"), portableShingleHash(col("sh")).as("xm"))
    val mins = minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("xm") + lit(b)) % MinhashP).as(s"h$i")
    }
    xs.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Per-row NARROW MinHash signature — the same k-vector
    * `minhashSignatures` computes with a groupBy, as a pure array
    * expression: shingle → portable hash → per-slot min fold, entirely
    * inside the row. No shuffle, which is what lets a STREAMING
    * pipeline band-and-dedup (a stateful operator cannot follow an
    * aggregation in Structured Streaming) and lets batch callers fuse
    * signatures into any narrow stage. NULL when the doc has no
    * shingles (< n tokens) — mirroring the agg form, where such docs
    * simply have no rows. */
  def minhashSigExpr(text: Column, n: Int, k: Int): Column = {
    val sh = array_distinct(TextFns.shingles(TextFns.tokens(text), n))
    val xm = transform(sh, s => portableShingleHash(s))
    val sig = array(minhashParams(k).map { case (a, b) =>
      aggregate(xm, lit(MinhashP),
        (acc, x) => least(acc, (lit(a) * x + lit(b)) % MinhashP))
    }: _*)
    when(size(sh) > 0, sig)
  }

  /** LSH band keys of a signature column, for a select: one (band,
    * bkey) row per band, bkey = the band's slice of the signature,
    * comma-joined — an engine-neutral join key (a hashed key would
    * shuffle fewer bytes at scale, but these are 4 ints ≈ the hash
    * width anyway). DuckDB twin: [[minhashBandsSql]]. */
  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    posexplode(array((0 until bands).map { b =>
      concat_ws(",", (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)).as(Seq("band", "bkey"))

  /** DuckDB twin of [[minhashBands]]: the (doc_id, sig, band, bkey) rows
    * of the relation `sigl` (doc_id, sig), one UNION ALL leg per band. */
  def minhashBandsSql(bands: Int, rowsPerBand: Int, sigl: String): String =
    (0 until bands).map { b =>
      val slots = (0 until rowsPerBand).map(r => s"sig[${b * rowsPerBand + r + 1}]").mkString(", ")
      s"SELECT doc_id, sig, $b AS band, concat_ws(',', $slots) AS bkey FROM $sigl"
    }.mkString(" UNION ALL ")

  /** MinHash + LSH banding: docs whose signatures collide in ≥1 of
    * `bands` bands become candidate pairs; candidates are then verified
    * with the estimated Jaccard (fraction of matching signature slots).
    *
    * With k = bands·rowsPerBand, collision probability of a pair with
    * true Jaccard j is 1-(1-j^r)^b — the classic S-curve.
    * @return (id_a, id_b, est_jaccard) with id_a < id_b
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    minhashLshPairsFromShingles(shingleView(docs, idCol, textCol, n),
      bands, rowsPerBand, threshold)

  /** [[minhashLshPairs]] over a prebuilt [[shingleSetView]] — pairs
    * with [[jaccardPairsFromShingles]] so a caller grading the two
    * screens against each other (q143) shingles the corpus ONCE. */
  def minhashLshPairsFromShingles(sh: DataFrame, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = minhashSignaturesFromShingles(sh, k)
    // repartition by the join key: both self-join sides become IDENTICAL
    // shuffles, so ReuseExchange computes the whole signature pipeline
    // (scan → shingle → md5 → k-way min agg) ONCE — without it the plan
    // recomputes everything per side (seen in .explain).
    val banded = sigs.select(col("id"), col("sig"),
        minhashBands(col("sig"), bands, rowsPerBand))
      .repartition(col("band"), col("bkey"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Incremental-ingest dedup: flag each INCOMING doc that near-
    * duplicates the EXISTING corpus — the shape every production
    * pipeline actually runs (a daily crawl delta against a 100 TB
    * reference), where the full self-join (`minhashLshPairs`) would
    * re-pay the whole corpus every batch.
    *
    * Both sides get banded MinHash signatures; candidates are an
    * equi-join on (band, band-key); candidates are verified by
    * signature agreement ≥ `threshold`. Returns every incoming id with
    * its canonical duplicate target (`dup_of` = min matching reference
    * id) or NULL if novel — a left join, so the caller can either keep
    * the novel rows or audit the flagged ones.
    *
    * Scale note: the reference side's banded signatures are a pure
    * function of the corpus — at 100 TB a deployment materializes them
    * ONCE via [[minhashBandIndex]] bucketed by (band, bkey)
    * (Sinks.writeBucketed) and joins each delta batch against the
    * stored index with [[minhashCrossCorpusDupsAgainstIndex]]: the
    * bucketed layout satisfies the join's clustering, so ZERO exchange
    * lands on the reference side and the per-batch cost is O(delta),
    * not O(corpus) — PlanSpec pins exactly that plan. Computed inline
    * here because the gate reads from parquet directly.
    *
    * @return (id, dup_of) — one row per distinct incoming id */
  def minhashCrossCorpusDups(newDocs: DataFrame, refDocs: DataFrame,
      idCol: String, textCol: String, n: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame =
    minhashCrossCorpusDupsAgainstIndex(newDocs,
      minhashBandIndex(refDocs, idCol, textCol, n, bands, rowsPerBand),
      idCol, textCol, n, bands, rowsPerBand, threshold)

  /** The banded MinHash signature index of a corpus:
    * (id, sig, band, bkey) — one row per (doc, band). A pure function
    * of the corpus, so a deployment materializes it once (bucketed by
    * (band, bkey)) and amortizes it over every delta batch. */
  def minhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    minhashSignatures(docs, idCol, textCol, n, bands * rowsPerBand)
      .select(col("id"), col("sig"), minhashBands(col("sig"), bands, rowsPerBand))

  /** The daily-delta join: incoming docs are signed and banded fresh;
    * the reference side arrives as a PRECOMPUTED [[minhashBandIndex]]
    * (typically a bucketed table, so the join plans with no exchange
    * under it). Same verify + left-join contract as
    * [[minhashCrossCorpusDups]]. */
  def minhashCrossCorpusDupsAgainstIndex(newDocs: DataFrame,
      refIndex: DataFrame, idCol: String, textCol: String, n: Int,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    val cands = minhashBandIndex(newDocs, idCol, textCol, n, bands, rowsPerBand).as("n")
      .join(refIndex.as("r"),
        col("n.band") === col("r.band") && col("n.bkey") === col("r.bkey"))
      .select(col("n.id").as("nid"), col("r.id").as("rid"),
        col("n.sig").as("sig_n"), col("r.sig").as("sig_r"))
      .dropDuplicates("nid", "rid")
    val verified = cands
      .filter(size(filter(zip_with(col("sig_n"), col("sig_r"), (x, y) => x === y),
        b => b)).cast("double") / k >= threshold)
      .groupBy(col("nid")).agg(min(col("rid")).as("dup_of"))
    newDocs.select(col(idCol).as("id")).distinct()
      .join(verified, col("id") === col("nid"), "left")
      .select(col("id"), col("dup_of"))
  }

  /** Connected components over near-duplicate pair edges — the step
    * that turns pairwise dedup output into "keep one per cluster".
    * Min-label propagation PLUS path halving: every round each node
    * first adopts the smallest label in its closed neighborhood, then
    * pointer-jumps to its label's label (comp ← comp(comp)). The jump
    * halves label-chain lengths each round, so convergence is
    * O(log diameter) instead of O(diameter) — plain propagation hit
    * maxIter unconverged on the sf0.1 near-dup graph (chain-shaped
    * components of length > 20), and a path-shaped component at corpus
    * scale would be unboundedly worse. Both steps only ever lower a
    * node's label to another id inside its own component, so the
    * fixpoint is exactly comp = min id of component (the propagation
    * fixpoint argument is unchanged by the extra jump).
    * Each round is two keyed shuffles; lineage is cut per round with
    * localCheckpoint, the standard guard for iterative Spark plans
    * (same pattern as operators/Iterate.fixpoint).
    *
    * Size-gated hybrid: dup-cluster edge sets are usually MUCH smaller
    * than the corpus (each edge already cost an LSH collision + verify),
    * so at or below [[LocalGate.ComponentLimit]] edges the components
    * are solved with a driver-side union-find on the collected edges —
    * the same size-gating Spark itself applies when it broadcasts a
    * small join side, and it removes ~25 per-round driver jobs for tiny
    * graphs. Above the gate the distributed fixpoint below engages
    * unchanged. Both paths produce the identical (node, min-id)
    * labeling — PropertySpec runs them against each other on random
    * graphs.
    *
    * @param edges (id_a, id_b) undirected pair edges; an edge with a
    *              NULL endpoint is dropped on both paths ([[LocalGate]]'s
    *              NULL rule)
    * @return (node, comp) where comp = min node id in the component
    * @throws IllegalStateException when the distributed fixpoint is
    *         still changing labels after `maxIter` rounds
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the (possibly expensive) pair pipeline exactly once:
    // the union below would otherwise execute it per branch, and the
    // gate's one take-job over it IS the union-find's edge list
    val e = LocalGate(edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .localCheckpoint(), Seq("id_a", "id_b"), LocalGate.ComponentLimit, "cc") match {
      case LocalGate.Local(rows) => return localComponents(edges.sparkSession, rows)
      case LocalGate.Distributed(kept) => kept
    }
    val sym = e.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(e.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("comp")).as("ncomp"))
      val stepped = labels
        .join(prop, col("node") === col("src"), "left")
        .select(col("node"), col("comp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("half"))
      // path halving: look up the label's own label and adopt the
      // smaller — labels are node ids, and every node is in `labels`,
      // so the self-join resolves every pointer
      val jump = stepped.select(col("node").as("jnode"), col("half").as("jcomp"))
      // the changed flag rides inside the checkpointed round result, so
      // the convergence probe is a filter on cached data — not an extra
      // join job per round
      val next = stepped
        .join(jump, col("half") === col("jnode"), "left")
        .withColumn("__new", least(col("half"), coalesce(col("jcomp"), col("half"))))
        .select(col("node"), col("__new").as("comp"),
          (col("__new") =!= col("comp")).as("__changed"))
        .localCheckpoint()
      converged = next.filter(col("__changed")).isEmpty
      labels = next.select(col("node"), col("comp"))
      i += 1
    }
    if (!converged)
      // an unconverged result merges fewer clusters than the true
      // components — refuse it rather than return it
      throw new IllegalStateException(
        s"connectedComponents hit maxIter=$maxIter unconverged; raise maxIter")
    labels
  }

  /** Driver-side union-find (path compression + min-root union) for
    * edge sets under the size gate. Exactly the reference algorithm the
    * distributed fixpoint is property-tested against. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap[Long]()
    // iterative find + full path compression (a chain of 10^6 nodes
    // would blow the stack recursively)
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    rows.foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted.map(x => (x, find(x))).toDF("node", "comp")
  }

  /** INCREMENTAL connected components: merge an existing (node, comp)
    * labeling with a batch of delta edges WITHOUT revisiting the edges
    * that produced the labeling. Because `comp` is the min member id of
    * its component, the labeling rows are themselves connectivity-
    * preserving edges (node — comp), so components over
    * (labeling-as-edges ∪ delta edges) assign every node the min id of
    * its MERGED component — exactly what a full recompute over
    * (old edges ∪ delta edges) returns, at O(|labeled nodes| + |delta|)
    * instead of O(|all edges|). This is the clustering counterpart of
    * [[minhashCrossCorpusDupsAgainstIndex]]'s incremental-ingest story:
    * yesterday's 100 TB corpus contributes one row per labeled node,
    * never its pair set, and today's batch pays only for its own edges.
    *
    * @param labels     (node, comp) from a previous [[connectedComponents]]
    *                   run (comp = min id of component)
    * @param deltaEdges (id_a, id_b) new pair edges; endpoints may be
    *                   new nodes or already-labeled ones
    * @return (node, comp) over labeled ∪ delta nodes, comp = min id of
    *         the merged component */
  def incrementalComponents(labels: DataFrame, deltaEdges: DataFrame): DataFrame =
    connectedComponents(
      labels.select(col("node").as("id_a"), col("comp").as("id_b"))
        .unionByName(deltaEdges.select(col("id_a"), col("id_b"))))

  /** Keep one document per near-duplicate cluster: the min-id member of
    * each component survives, every other member is dropped, documents
    * in no cluster pass through untouched. The composition endpoint of
    * the dedup pipeline — pairs (jaccardPairs / minhashLshPairs /
    * simhashPairs / embedding buckets) → connectedComponents → this.
    * One anti join on the (small) loser set. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, edges: DataFrame): DataFrame = {
    val losers = connectedComponents(edges)
      .filter(col("node") =!= col("comp"))
      .select(col("node"))
    docs.join(losers, docs(idCol) === col("node"), "left_anti")
  }

  /** Winnowing fingerprints (MOSS-style): hash every `w`-char gram of
    * the whitespace-normalized text, keep the min hash of every
    * `k`-gram window. Near-duplicate documents share selected hashes; a
    * join on the fingerprint column finds them with a ~1/k-sized index.
    * Gram hash = 60 bits of md5 → portable to the DuckDB oracle.
    *
    * Winnowing is a PER-DOCUMENT function, so the whole selection runs
    * as array expressions inside one narrow projection: gram hashes via
    * transform, per-window minima via transform+slice, per-doc dedup
    * via array_distinct, and only the selected ~1/k of positions ever
    * explode into rows. Zero shuffles, zero sorts — the previous
    * formulation exploded one row per character position through a
    * repartition + window sort + distinct (three exchanges) and was the
    * slowest query in the bench. Local cost is md5-bound either way;
    * the exchange-free shape is what survives the 100× corpus. The
    * per-doc gram array costs 8 bytes/char while the row is in flight —
    * chunk pathological multi-hundred-MB documents upstream.
    * @return (id, fp) one row per distinct selected fingerprint
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      w: Int, k: Int): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    docs
      .select(col(idCol).as("id"), norm.as("norm"))
      // need at least one FULL k-gram window: npos = len-(w-1) >= k
      .filter(length(col("norm")) >= w + k - 1)
      // native single-pass winnow (plans/WinnowExpr): identical md5
      // fingerprint values to the declarative two-transform form it
      // replaced (bit-parity in WinnowExprSpec), but O(n) deque minima
      // and no interpreted HOF per element
      .select(col("id"),
        explode(graft.plans.WinnowExpr.winnow(col("norm"), w, k)).as("fp"))
  }

  /** Per-document count of distinct winnowing fingerprints, IN-ROW:
    * WinnowExpr already emits the per-document DISTINCT fingerprint
    * set, so the count is just the array size — no explode, no
    * fingerprint-grain exchange, no re-group (guide §2.4: remove
    * shuffles outright). Same normalization and length gate as
    * [[winnowFingerprints]]; `n_fp` equals exactly the per-id row count
    * of that method's output. `carry` columns (one value per doc) ride
    * along — carrying them beats joining them back on at the end (the
    * join's build side is unbounded at corpus scale). */
  def winnowFingerprintCounts(docs: DataFrame, idCol: String, textCol: String,
      w: Int, k: Int, carry: Seq[String]): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val carryCols = carry.map(col)
    docs
      .select(col(idCol).as("id") +: carryCols :+ norm.as("norm"): _*)
      .filter(length(col("norm")) >= w + k - 1)
      .select(col("id") +: carryCols :+
        size(graft.plans.WinnowExpr.winnow(col("norm"), w, k)).as("n_fp"): _*)
  }

  /** SimHash near-dup pairs: 64-bit signatures, candidates blocked on
    * 16-bit sub-bands (a pair within hamming distance 3 must agree on at
    * least one of the 4 bands — pigeonhole), then verified exactly.
    * @return (id_a, id_b, hamming) with id_a < id_b
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val sigs = docs
      .repartition(col(idCol))
      .select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("toks"))
      .select(col("id"), TextFns.simhash64(col("toks")).as("sig"))
    simhashBandPairs(sigs, nBands = 4, bandBits = 16, maxHamming)
  }

  /** Portable SimHash signature over the 60-bit md5 token hash,
    * computed RELATIONALLY: explode tokens, 60 ±1-vote sum aggregates
    * (map-side partials, like any grouped agg), sign → bit. Same
    * semantics as `SimHash64Expr` but over a hash both engines share —
    * so the pair query is hash-checked against DuckDB. The native
    * expression stays the cheaper single-pass path when oracle parity
    * isn't required. Returns (id, sig) with sig in [0, 2^60). */
  def simhashPortableSigs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = docs
      .repartition(col(idCol))
      .select(col(idCol).as("id"), explode(TextFns.tokens(col(textCol))).as("t"))
      .select(col("id"), portableHash60(col("t")).as("x"))
    val votes = (0 until 60).map(b =>
      sum(when(shiftright(col("x"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b"))
    tk.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 60).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** SimHash near-dup pairs over the portable signature (15-bit bands ×
    * 4 — pigeonhole still holds for hamming ≤ 3 on the 60-bit sig). */
  def simhashPairsPortable(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    simhashBandPairs(simhashPortableSigs(docs, idCol, textCol),
      nBands = 4, bandBits = 15, maxHamming)

  /** Shared banding + candidate verification for both SimHash variants. */
  private def simhashBandPairs(sigs: DataFrame, nBands: Int, bandBits: Int,
      maxHamming: Int): DataFrame = {
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col("sig"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*))
        .as(Seq("band", "bkey")))
      .repartition(col("band"), col("bkey")) // ReuseExchange: see minhashLshPairs
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        TextFns.hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Distinct 60-bit verbatim-span fingerprints per document — the
    * codegen-narrow positions/shingleAt pipeline (the q83 lesson: the
    * transform-HOF shingle form evaluates an interpreted lambda per
    * span) hashed through [[portableHash60]] so spans travel as 8-byte
    * keys. Shared by the q234 batch novelty screen and the streaming
    * incremental store ([[graft.streaming.StreamOps.spanFingerprintDeltas]]):
    * a fingerprint is a pure per-document function, so deltas are
    * append-only and the accumulated store needs no rebuild — the q94
    * band-index / BM25-posting property applied to memorization
    * screening. Collisions flip a span to "seen" with p ≈ 2⁻⁶⁰ per
    * pair, identically in any engine that replays the same md5.
    *
    * Carry-column contract: dedup is on (id, sh) ONLY, so each `carry`
    * column MUST be functionally dependent on `idCol` (constant per
    * document — q234's per-doc `source` is; a per-span attribute is
    * not). A non-constant carry would survive with a partition-order-
    * nondeterministic value; include such a column in the dedup key
    * yourself before calling (r13 ADVICE).
    * @return (id, sh) — distinct per document */
  def spanFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int, carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.TextFns
    val cs = carry.map(col)
    docs
      .select(col(idCol).as("id") +: (cs :+ TextFns.tokens(col(textCol)).as("toks")): _*)
      .select(col("id") +: (cs :+
        explode(TextFns.shinglePositions(col("toks"), n)).as("pos") :+ col("toks")): _*)
      .select(col("id") +: (cs :+
        portableHash60(TextFns.shingleAt(col("toks"), col("pos"), n)).as("sh")): _*)
      .dropDuplicates("id", "sh")
  }
}
