package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes over hashed token features — the TRAINED
  * corpus filter every large-scale pipeline runs (CCNet-style language
  * ID, fastText-style quality gates): unlike
  * [[graft.functions.QualityModel]] (a fixed stand-in weight vector,
  * the scoring-plan half), this learns the weights FROM the corpus and
  * serves them back, all inside the engine.
  *
  * Model shape is bounded by construction: tokens hash into [[Dim]]
  * buckets (the portable md5 form every dialect pair shares), so the
  * trained state is (label × Dim) counts no matter how large the
  * corpus — the KB-scale learned-parameter class (codebooks, seeds),
  * broadcast back for the apply side.
  *
  * Exactness — the nano-lattice discipline (q237/Dawid–Skene class):
  * training counts are exact integers; each log-weight is
  * independently rounded to an int64 nano value
  * (W = round(1e9·ln((cnt+1)/(tot+Dim))), prior = round(1e9·
  * ln((n_c+1)/(n+C)))); every per-document score is then an exact INTEGER
  * sum Σ cnt_b·W(c,b) + prior(c), so the argmax (ties → largest
  * label, pinned identically in both dialects) cannot drift with
  * float-sum order across engines or partitionings.
  *
  * Scale: ONE corpus-grain token aggregate to train (label × bucket
  * grain out), ONE corpus-grain (doc × bucket) aggregate to apply,
  * model joins broadcast, argmax is a doc-grain aggregate. The
  * training state is additive under union (the BPE word-counts /
  * duel-counts monitor class) — see
  * [[trainState]] over a stream is the standing-monitor leg;
  * [[modelFromState]] re-sums first, so a union of state deltas
  * folds identically to the one-shot build.
  */
object NaiveBayes {

  /** Hashed feature dimension (buckets per class). */
  val Dim = 512

  /** Sentinel bucket carrying the per-class DOCUMENT count (the prior
    * numerator) inside the one additive state. */
  val DocCountBucket = -1L

  /** Label bound of a [[classify]] model: MaxLabels × (Dim + 1) rows. */
  private[graft] val MaxLabels = 64

  /** 0-based feature bucket of one token — [[Dedup.portableHash60]]
    * reduced mod [[Dim]] (the QualityModel/q234 convention; DuckDB
    * twin: `('0x' || substr(md5(t), 1, 15))::BIGINT % Dim`). */
  def bucket(tok: Column): Column = Dedup.portableHash60(tok) % Dim

  /** The additive training state: (label, bucket, cnt) token-occurrence
    * counts PLUS one ([[DocCountBucket]]) row per label carrying the
    * document count. Additive under union — re-summed by
    * [[modelFromState]]. One corpus-grain stage. */
  def trainState(docs: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val toks = docs
      .select(col(labelCol).as("label"),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("label"), bucket(col("t")).as("b"))
      .agg(count(lit(1)).as("cnt"))
    val nd = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("label"), lit(DocCountBucket).as("b"), col("cnt"))
    toks.unionByName(nd)
  }

  /** (label, bucket, cnt) state → the DENSE nano-lattice model:
    * (label, b, w) for EVERY bucket 0..Dim−1 of every label (absent
    * buckets are the add-one-smoothed zero) plus one
    * ([[DocCountBucket]]) row per label carrying the prior weight.
    * label × (Dim+1) rows — broadcastable by construction. */
  def modelFromState(state: DataFrame): DataFrame = {
    val counts = state.groupBy(col("label"), col("b"))
      .agg(sum(col("cnt")).as("cnt"))
    val tokCounts = counts.filter(col("b") =!= DocCountBucket)
    val tot = tokCounts.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    val labels = counts.select(col("label")).distinct()
    val dense = labels
      .select(col("label"), explode(sequence(lit(0L), lit(Dim - 1L))).as("b"))
      .join(tokCounts, Seq("label", "b"), "left")
      .join(tot, Seq("label"), "left")
      .select(col("label"), col("b"),
        round(lit(1e9) * log(
          (coalesce(col("cnt"), lit(0L)) + 1).cast("double")
            / (coalesce(col("tot"), lit(0L)) + Dim)), 0)
          .cast("long").as("w"))
    val docTotal = counts.filter(col("b") === DocCountBucket)
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("c"))
    val priors = counts.filter(col("b") === DocCountBucket)
      .crossJoin(broadcast(docTotal))
      .select(col("label"), lit(DocCountBucket).as("b"),
        round(lit(1e9) * log((col("cnt") + 1).cast("double")
          / (col("n") + col("c"))), 0).cast("long").as("w"))
    dense.unionByName(priors)
  }

  /** One-shot fit: [[trainState]] → [[modelFromState]]. */
  def fit(docs: DataFrame, textCol: String, labelCol: String): DataFrame =
    modelFromState(trainState(docs, textCol, labelCol))

  /** Classify each document against a [[modelFromState]] model:
    * score(c) = prior(c) + Σ_b cnt_b·W(c,b), exact int64; argmax with
    * ties toward the LARGEST label (≡ the oracle's row_number over
    * score DESC, label DESC — computed here as one max-of-struct
    * aggregate). Documents with zero tokens score on the prior alone.
    *
    * The model is COLLECTED once (the KB-scale learned-parameter /
    * codebook class, [[LocalGate.collectBounded]] past [[MaxLabels]] ×
    * (Dim+1) rows) and re-created as a LocalRelation, so the training
    * subplan executes exactly once AND the two broadcasts below are PROVABLY
    * bounded for the registry-wide broadcast sweep — a localCheckpoint
    * would hide the bound behind an opaque LogicalRDD. The collected
    * model must be non-empty and dense — exactly Dim weight rows plus
    * one DocCountBucket prior per label — or classify throws
    * IllegalArgumentException.
    * @return (idCol, predicted) */
  def classify(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val spark = model.sparkSession
    val bound = MaxLabels * (Dim + 1)
    val proj = model.select(col("label"), col("b"), col("w"))
    val rows = LocalGate.collectBounded(proj, bound, "naive_bayes: model exceeds the " +
      s"documented labels x (Dim+1) driver bound ($bound rows at MaxLabels=$MaxLabels)" +
      " — classify with a coarser label domain")
    // the scoring below assumes the DENSE model shape: an empty model
    // would NULL-predict zero-token docs and drop every tokenized one,
    // and a missing (label, bucket) row would silently drop that
    // bucket's evidence for the label
    if (rows.isEmpty)
      throw new IllegalArgumentException(
        "naive_bayes: empty model — fit on at least one labelled document")
    val dense = DocCountBucket +: (0L until Dim)
    rows.groupBy(_.get(0)).foreach { case (label, rs) =>
      if (rs.map(_.get(1)).collect { case b: Number => b.longValue }.sorted.toSeq != dense)
        throw new IllegalArgumentException(
          s"naive_bayes: model label $label is not dense — it needs exactly " +
            s"Dim=$Dim weight rows (buckets 0..${Dim - 1}) plus one " +
            s"DocCountBucket=$DocCountBucket prior row (modelFromState's shape)")
    }
    val m = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), proj.schema)
    val weights = m.filter(col("b") =!= DocCountBucket)
    val priors = m.filter(col("b") === DocCountBucket)
      .select(col("label"), col("w").as("pw"))
    // r16 (verdict item 4, the r15 candidate-1 A/B): the token
    // evidence table is cut once — skinny (id, bucket, cnt) rows —
    // so it can feed BOTH the scored aggregate and the zero-token
    // anti-join below without re-running the tokenize+aggregate
    // subplan. That removes the old docs×L cross join and the
    // (id, label) sort-merge LEFT join entirely: the model weights
    // are DENSE ([[modelFromState]] emits every (label, bucket)), so
    // any doc with ≥ 1 token already carries ALL L labels in `sw` —
    // the prior attaches by a broadcast join on label, and the argmax
    // stays the doc-grain max-of-struct hash aggregate (ties toward
    // the LARGEST label ≡ the oracle's row_number over score DESC,
    // label DESC).
    val docBuckets = docs
      .select(col(idCol), explode(graft.functions.TextFns.tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col(idCol), bucket(col("t")).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val sw = docBuckets
      .join(broadcast(weights), Seq("b"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("cnt") * col("w")).as("sw"))
    val withTokens = sw.join(broadcast(priors), Seq("label"))
      .groupBy(col(idCol))
      .agg(max(struct((col("pw") + col("sw")).as("s"), col("label").as("l"))).as("m"))
      .select(col(idCol), col("m.l").as("predicted"))
    // docs with no tokens score on the prior alone — their argmax is
    // one constant over the L-row collected prior LocalRelation,
    // attached to the anti-join remainder (the distinct mirrors the
    // old groupBy's one-row-per-id contract for degenerate inputs).
    // The anti-join is null-safe: `withTokens` already groups a
    // tokenized NULL id into one row, so a plain `=` (NULL never
    // matches) would emit that id a second time here.
    val zeroPred = priors
      .agg(max(struct(col("pw").as("s"), col("label").as("l"))).as("m"))
      .select(col("m.l").as("predicted"))
    val tokenIds = docBuckets.select(col(idCol).as("__tok_id"))
    val zeros = docs.select(col(idCol)).distinct()
      .join(tokenIds, col(idCol) <=> col("__tok_id"), "left_anti")
      .crossJoin(broadcast(zeroPred))
    withTokens.unionByName(zeros)
  }
}
