package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** BM25 sparse retrieval (Robertson–Spärck Jones probabilistic idf with
  * tf saturation and length normalization, k1 = 1.2, b = 0.75) over
  * word n-gram terms — the sparse-retrieval baseline every RAG pipeline
  * benchmarks against, as a reusable operator pair:
  *
  *  - [[postingIndex]] builds (id, t, wgt) with the ENTIRE doc-side
  *    weight precomputed — idf, saturation, and length norm collapse
  *    into one number per posting, so retrieval is a pure
  *    join-and-sum. The index is a deterministic function of the
  *    corpus: at 100 TB a deployment materializes it ONCE, bucketed by
  *    term (`Sinks.writeBucketed`), and every query batch joins it
  *    with ZERO exchange under the index side — the q94 band-index
  *    incremental-ingest story applied to retrieval (Bm25Spec pins
  *    that plan on a bucketed table).
  *  - [[topKAgainstIndex]] scores a (qid, t) query set through the
  *    posting equi-join — candidate volume is Σ_q |terms(q)| ×
  *    bounded_df, never query×corpus — and takes the per-query top k
  *    by row_number over scores ROUNDED to 4 decimals first (id
  *    tiebreak), so the cutoff is deterministic on any engine or
  *    partitioning.
  *
  * The df ∈ [dfMin, dfMaxForCorpus] vocabulary window is the same
  * hot-posting bound the jaccard/TF-IDF family uses: it caps the
  * longest posting list (stopword-shaped terms carry ~zero idf mass
  * anyway), which is what keeps the join linear as the corpus grows
  * (a ×k scale probe of the q137 shape measured exponents ≤ 0.6;
  * `tools.Probe <sfDir> q137 --scale 1,2,4,8` re-measures it).
  */
object Bm25 {

  /** Word-shingle length of every BM25 term. */
  private val N = 3
  /** Textbook tf saturation (k1) and length norm (b); the oracle CTEs cite them. */
  private[graft] val K1 = 1.2
  private[graft] val B = 0.75

  /** The INCREMENTAL half of the index: per-document raw postings
    * (id, t, cnt, dl) — a pure function of EACH DOCUMENT ALONE (term
    * counts and length use no corpus statistics), so a micro-batch of
    * new documents produces exactly its own delta and the posting
    * store is append-only: the q94 band-index incremental-ingest
    * story applied to retrieval (`StreamOps.bm25IndexDeltas` is the
    * streaming wrapper; its StreamOpsSpec restart drill pins
    * exactly-once landing across a checkpoint bounce). Corpus-
    * dependent factors (idf, avgdl) are deliberately NOT baked in —
    * [[weightsFromPostings]] folds them over the accumulated store at
    * serving-read time, so late documents shift the statistics
    * without ever invalidating landed postings. */
  def postingDeltas(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val tf = docs
      .repartition(id)
      .select(id, TextFns.tokens(col(textCol)).as("toks"))
      .select(id, col("toks"),
        explode(TextFns.shinglePositions(col("toks"), N)).as("i"))
      .select(id, TextFns.shingleAt(col("toks"), col("i"), N).as("t"))
      .groupBy(id, col("t")).agg(count(lit(1)).as("cnt"))
    // per-doc length rides the tf exchange as a window sum
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(id)
    tf.withColumn("dl", sum(col("cnt")).over(byDoc).cast("double"))
  }

  /** Serving-read weight fold over an accumulated posting store:
    * identical arithmetic to [[postingIndex]], with n_docs/avgdl/df
    * recomputed from the postings themselves. For any corpus whose
    * documents all carry ≥ 3 tokens this reproduces [[postingIndex]]
    * EXACTLY (Bm25Spec pins it); documents too short to emit a single
    * shingle are invisible to the store — they drop out of the df
    * admission window's corpus count here, where the direct-scan
    * index still counts them. */
  def weightsFromPostings(postings: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val docLens = postings.select(id, col("dl")).distinct()
    val stats = docLens
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val nAll = docLens.agg(count(lit(1)).as("nd_all"))
    val vocab = postings.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
      .join(broadcast(nAll))
      .filter(col("df").between(lit(2), TextFns.dfMaxForCorpusCol(col("nd_all"))))
      .select(col("t"), col("df"))
    postings.join(vocab, "t")
      .join(broadcast(stats)) // 1-row bounded
      .select(id, col("t"), bm25Weight.as("wgt"))
  }

  /** The BM25 doc-side weight expression over (cnt, dl, df, n_docs,
    * avgdl) — shared verbatim by [[postingIndex]] and
    * [[weightsFromPostings]] so the two paths cannot drift. */
  private def bm25Weight: Column =
    log(lit(1) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
      (col("cnt") * (K1 + 1)) /
      (col("cnt") + lit(K1) * (col("dl") / col("avgdl") * B + (1 - B)))

  /** The BM25 posting index: one row per (doc, admitted term) with the
    * final doc-side weight. Pure function of the corpus — reruns and
    * other engines reproduce it exactly (q137's DuckDB oracle replays
    * this arithmetic verbatim). */
  def postingIndex(docs: DataFrame, idCol: String, textCol: String,
      cutLineage: Boolean = true): DataFrame = {
    val id = col(idCol)
    // the raw posting build feeds both the df vocabulary and the weight
    // join, unshared by ReuseExchange. At sf0.1 the cut pays 5–22% on
    // q137/q141/q142/q169/q213 but costs q212 (one cheap pass) 0.41 →
    // 1.15 s, so q212 passes cutLineage = false (LINEAGE_CUTS.md); the
    // arithmetic is identical either way (Bm25Spec pins it).
    val tfRaw = postingDeltas(docs, idCol, textCol)
    val tf = if (cutLineage) tfRaw.localCheckpoint() else tfRaw
    // corpus stats from one narrow scan: a doc's shingle count is
    // len(toks) - (N-1), so n_docs/avgdl never need the tf exchange
    val stats = docs
      .select((size(TextFns.tokens(col(textCol))) - (N - 1)).cast("double").as("dl"))
      .filter(col("dl") >= 1)
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val nAll = docs.agg(count(lit(1)).cast("long").as("nd_all"))
    val vocab = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
      .join(broadcast(nAll))
      .filter(col("df").between(lit(2), TextFns.dfMaxForCorpusCol(col("nd_all"))))
      .select(col("t"), col("df"))
    tf.join(vocab, "t")
      .join(broadcast(stats)) // 1-row bounded
      .select(id, col("t"), bm25Weight.as("wgt"))
  }

  /** Score a (qid, t) query-term set against a posting index — fresh
    * from [[postingIndex]] or a PRECOMPUTED bucketed table (in which
    * case the join reads the index in bucket layout, no exchange under
    * it). With `excludeSelf` (the default) self-retrieval rows (index
    * id == qid) are excluded so a corpus doc used as its own query
    * doesn't trivially win; a KNOWN-ITEM evaluation (q212) passes
    * `excludeSelf = false` because retrieving the source document IS
    * the ground truth there.
    *
    * @return (qid, rnk 1..k, <idCol>, score) */
  def topKAgainstIndex(queryTerms: DataFrame, index: DataFrame,
      idCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col(idCol))
    val cands = queryTerms.join(index, "t")
    (if (excludeSelf) cands.filter(col(idCol) =!= col("qid")) else cands)
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("wgt")), 4).as("score"))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col(idCol), col("score"))
  }

  /** Known-item retrieval in one call: every `querySelector` doc's
    * distinct terms retrieve top k from the whole corpus. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      querySelector: Column, k: Int): DataFrame = {
    val index = postingIndex(docs, idCol, textCol)
      .repartition(col("t")) // posting-list layout for the retrieval join
    val queries = docs.filter(querySelector)
      .repartition(col(idCol))
      .select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        explode(TextFns.shinglePositions(col("toks"), N)).as("i"))
      .select(col(idCol).as("qid"), TextFns.shingleAt(col("toks"), col("i"), N).as("t"))
      .distinct()
    topKAgainstIndex(queries, index, idCol, k)
  }
}
