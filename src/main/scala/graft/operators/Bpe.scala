package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair encoding) merge learning — the vocabulary
  * induction step of tokenizer training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units"): N rounds of
  * exact adjacent-symbol-pair counting, top-pair selection, and greedy
  * merge application, expressed in the engine's iterative-aggregate
  * house style.
  *
  * Scale shape (the industrial trainer trick): the ONLY corpus-sized
  * stage is the word-dictionary build — one explode + one groupBy —
  * because pair counts factor through word frequencies. Every merge
  * round then runs at DICT grain (Heaps-law bounded, ~O(corpusᵝ),
  * β≈0.5). Like every iterate-class operator here, the round loop is
  * SIZE-GATED ([[LocalGate]]): a dictionary under
  * [[LocalGate.DictLimit]] rows collects once and the rounds run
  * driver-local; above the gate the same algorithm runs as a
  * distributed loop with a lineage cut every 8 rounds. The two paths
  * are property-tested equal (BpeSpec). A dictionary row with a NULL
  * word or count is dropped on both paths (the gate's NULL rule).
  *
  * Symbol encoding (distributed path): a word's current segmentation
  * travels as ONE string with every symbol wrapped in `~` fences —
  * "low" starts as "~l~~o~~w~" — so applying merge (l, r) is a plain
  * `replace(s, "~l~~r~", "~lr~")`. The doubled fence makes adjacent
  * occurrences share no characters, so the left-to-right
  * non-overlapping `replace` both engines implement IS the standard
  * greedy BPE apply (overlaps like "aaa" merge left-first; consecutive
  * pairs like "abab" both merge). `~` cannot collide with symbol text:
  * words are [a-z]+ only (which also makes the local path's per-char
  * split equal to the distributed regex split — ASCII only).
  *
  * Determinism: counts are exact integers; the argmax tie rule is
  * (pair_count DESC, lhs ASC, rhs ASC) over ASCII strings — binary
  * collation in any engine. If the dictionary runs out of pairs before
  * `rounds` merges (single-symbol words only), the remaining rounds
  * emit no row, identically in both dialects and both legs.
  */
object Bpe {

  /** The additive vocabulary-induction state: (word, cnt) — word-grain
    * lowercase [a-z]+ frequencies, the one corpus-sized stage. Additive
    * under union (the BradleyTerry.duelState/Privacy.classState monitor
    * class), so a streaming complete-mode aggregate maintains it
    * incrementally (this function over a stream, landed by
    * [[graft.streaming.StreamOps.sinkCompleteVersions]]) and
    * [[learnMergesFromCounts]] serves the same merge table the batch
    * [[learnMerges]] computes — r14 verdict #7. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** (word, cnt) state → the (word, cnt, s) dictionary the merge
    * rounds consume: re-sums per word FIRST (a union of additive state
    * deltas folds identically to the one-shot build — the re-sum rides
    * the count aggregate's existing hash partitioning, no extra
    * exchange), then attaches the initial per-character segmentation
    * string. */
  def dictFromCounts(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("word"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("s", concat(lit("~"),
        array_join(regexp_extract_all(col("word"), lit("."), lit(0)), "~~"),
        lit("~")))

  /** The (word, cnt, s) dictionary: [[wordCounts]] + [[dictFromCounts]]. */
  def wordDict(docs: DataFrame, textCol: String): DataFrame =
    dictFromCounts(wordCounts(docs, textCol))

  /** Adjacent symbol pairs of the current segmentation, weighted by
    * word frequency — dict-grain (rows ∝ Σ word symbol lengths). */
  private[graft] def pairCounts(dict: DataFrame): DataFrame =
    dict
      .select(col("cnt"), split(trim(col("s"), "~"), "~~").as("a"))
      .select(col("cnt"), col("a"),
        posexplode(slice(col("a"), lit(1), size(col("a")) - 1)).as(Seq("i", "lhs")))
      .select(col("cnt"), col("lhs"),
        element_at(col("a"), col("i") + 2).as("rhs"))
      .groupBy(col("lhs"), col("rhs"))
      .agg(sum(col("cnt")).as("pair_count"))

  /** The per-round record both output shapes derive from:
    * (step, lhs, rhs, pair_count, total symbols AFTER the merge). */
  private type Step = (Int, String, String, Long, Long)

  /** Driver-local rounds over a collected (word, cnt) dictionary — the
    * gate's fast leg, byte-for-byte the same algorithm as the
    * distributed loop (greedy left-to-right apply, count-DESC/pair-ASC
    * argmax). */
  private def localRounds(rows: Array[Row], rounds: Int): (Long, Long, Seq[Step]) = {
    var dict: Array[(Array[String], Long)] = rows.map { r =>
      (r.getString(0).map(_.toString).toArray, r.getLong(1))
    }
    val w = dict.iterator.map(_._2).sum
    val t0 = dict.iterator.map { case (syms, c) => syms.length * c }.sum
    var total = t0
    val out = scala.collection.mutable.Buffer[Step]()
    var step = 1
    var exhausted = false
    while (step <= rounds && !exhausted) {
      val pc = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      dict.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) { pc((syms(i), syms(i + 1))) += c; i += 1 }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val ((l, r), c) = pc.minBy { case ((pl, pr), n) => (-n, pl, pr) }
        dict = dict.map { case (syms, cnt) =>
          if (syms.length < 2) (syms, cnt)
          else {
            val b = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += syms(i); i += 1 }
            }
            (b.toArray, cnt)
          }
        }
        // RECOUNT rather than total -= c: a self-overlapping pair
        // (lhs == rhs inside a letter run, "aaa") merges fewer
        // occurrences than its pair count, so the decrement law only
        // holds for lhs != rhs — the oracle recounts wd_k per step and
        // both legs must match it
        total = dict.iterator.map { case (syms, c2) => syms.length * c2 }.sum
        out += ((step, l, r, c, total))
        step += 1
      }
    }
    (w, t0, out.toSeq)
  }

  /** Distributed rounds (the over-gate leg): 1-row bounded argmax
    * collect per round (the k-means-codebook class — the argmax IS the
    * learned parameter), merge apply as a narrow stacked projection
    * with a lineage cut every 8 rounds. `withTotals` adds one
    * dict-grain aggregate per round for the compression curve. */
  private def distRounds(cur0: DataFrame, rounds: Int,
      withTotals: Boolean): (Long, Long, Seq[Step]) = {
    val spark = cur0.sparkSession
    import spark.implicits._
    var cur = cur0
    def totals(d: DataFrame): (Long, Long) = d
      .select(
        coalesce(sum(col("cnt") * size(split(trim(col("s"), "~"), "~~"))), lit(0L)).as("t"),
        coalesce(sum(col("cnt")), lit(0L)).as("w"))
      .as[(Long, Long)].head()
    val (t0, w) = totals(cur)
    var total = t0
    val out = scala.collection.mutable.Buffer[Step]()
    var step = 1
    var exhausted = false
    while (step <= rounds && !exhausted) {
      val top = pairCounts(cur)
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1)
        .as[(String, String, Long)].collect()
      // dictionary out of pairs: STOP, mirroring the local leg's
      // `exhausted` break — every further round would pay a provably
      // empty distributed argmax (r14 advice)
      if (top.isEmpty) exhausted = true
      top.foreach { case (l, r, c) =>
        cur = cur.withColumn("s",
          replace(col("s"), lit(s"~$l~~$r~"), lit(s"~$l$r~")))
        total = if (withTotals) totals(cur)._1 else 0L // unused w/o totals
        out += ((step, l, r, c, total))
      }
      if (step % 8 == 0) cur = cur.localCheckpoint()
      step += 1
    }
    (w, t0, out.toSeq)
  }

  private def runRounds(dict: DataFrame, rounds: Int,
      withTotals: Boolean): (Long, Long, Seq[Step]) =
    LocalGate(dict.localCheckpoint(), Seq("word", "cnt"), LocalGate.DictLimit,
        "bpe") match {
      case LocalGate.Local(rows) => localRounds(rows, rounds)
      case LocalGate.Distributed(cur0) => distRounds(cur0, rounds, withTotals)
    }

  /** N rounds of exact merge learning over the corpus' word dictionary.
    * Production vocab induction (30–50k merges) batches the selection —
    * top-B mutually non-adjacent pairs per round, the standard
    * rounds-reduction — on exactly these shapes; the exact top-1 form
    * here is the reference-semantics deep prefix of that.
    * @return (step, lhs, rhs, pair_count) — the learned merge table in
    *         merge order */
  def learnMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    learnMergesFromCounts(wordCounts(docs, textCol), rounds)

  /** [[learnMerges]] over ALREADY-AGGREGATED (word, cnt) state — the
    * serving read of the standing vocabulary monitor ([[wordCounts]]
    * over a stream): the SAME size-gated
    * rounds the batch fit runs (StreamOpsSpec pins serving ≡ batch
    * across a checkpoint bounce), so a tokenizer refresh wired to the
    * monitor and the batch fit can never disagree. */
  def learnMergesFromCounts(counts: DataFrame, rounds: Int): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val (_, _, steps) = runRounds(dictFromCounts(counts), rounds,
      withTotals = false)
    steps.map(s => (s._1, s._2, s._3, s._4))
      .toDF("step", "lhs", "rhs", "pair_count")
      .orderBy(col("step"))
  }

  /** Re-segment `docs` words with a learned merge table (the APPLY
    * side of BPE, replaying merges in learned order) — exposed for the
    * spec's round-trip check; production tokenization would broadcast
    * the merge list exactly like this. */
  def segment(dict: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(dict) { case (d, (l, r)) =>
      d.withColumn("s",
        expr(s"replace(s, '~$l~~$r~', '~$l$r~')"))
    }

  /** The APPLY-side efficiency curve: [[learnMerges]]' rounds, also
    * recording after every merge the corpus-weighted total token
    * (symbol) count — the diminishing-returns curve a tokenizer team
    * reads to size the vocabulary (marginal compression per merge).
    * Step 0 is the pre-merge character baseline (null merge columns).
    * Conservation law (BpeSpec pins it): a merge of a pair with
    * lhs != rhs removes exactly pair_count symbols; a self-pair
    * (lhs == rhs) removes FEWER when occurrences overlap inside a
    * letter run ("aaa" counts 2 but greedily merges 1), which is why
    * both legs RECOUNT the total instead of decrementing.
    * @return (step, lhs, rhs, pair_count, total_tokens,
    *         tokens_per_word) */
  def compressionCurve(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (w, t0, steps) = runRounds(wordDict(docs, textCol), rounds,
      withTotals = true)
    val rows = (0, None: Option[String], None: Option[String],
        None: Option[Long], t0) +:
      steps.map(s => (s._1, Some(s._2), Some(s._3), Some(s._4), s._5))
    // the ratio rounds through Catalyst's round (exact-decimal HALF_UP)
    // — the same convention every oracle-matched double in the registry
    // uses, rather than a driver-side float rounding
    rows.toDF("step", "lhs", "rhs", "pair_count", "total_tokens")
      .select(col("step"), col("lhs"), col("rhs"), col("pair_count"),
        col("total_tokens"),
        (round(col("total_tokens").cast("double") / lit(w), 6) + lit(0.0d))
          .as("tokens_per_word"))
      .orderBy(col("step"))
  }
}
