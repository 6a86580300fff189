package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-anonymity / l-diversity release auditing (the q215 family) as a
  * shared two-stage fold, so the batch audit and the streaming
  * standing monitor run the SAME code and cannot drift (the house
  * monthValueCounts/trajectoryGrid discipline).
  *
  * Stage 1 — [[classState]]: (quasi-identifier × sensitive)-grain
  * counts. This is the grain that makes l-diversity INCREMENTAL: a
  * streaming `count(DISTINCT sensitive)` per class would need distinct
  * state per group, but at (QI, sensitive) grain the distinct count is
  * just the number of state rows in the class — a plain additive count
  * state, complete-mode streamable, bounded by the QI × sensitive
  * value domain (dimension-grain, not row-grain).
  *
  * Stage 2 — [[audit]]: the per-report-group rollup (class count,
  * k_min, suppression cost of enforcing k, l-diversity floor). All
  * BIGINT counts; the two ratios are single final divisions of exact
  * sums (the q215 exactness contract).
  */
object Privacy {

  /** (QI..., sensitive)-grain class state: one hash aggregate, additive
    * under union — the same call works on a batch DataFrame and on a
    * complete-mode stream. */
  def classState(rows: DataFrame, qiCols: Seq[String],
      sensCol: String): DataFrame = {
    // the count column's name is part of the state contract (audit()
    // canonicalizes by grouping on every OTHER column) — a QI or
    // sensitive column named "c" would silently drop out of the grain
    // and corrupt the l-diversity floor, so refuse it loudly
    require(!(qiCols :+ sensCol).contains("c"),
      "Privacy: 'c' is reserved for the class-state count column — " +
        "rename the conflicting QI/sensitive column before auditing")
    rows
      .groupBy((qiCols :+ sensCol).map(col): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** The k of k-anonymity [[audit]] enforces; [[tCloseness]]'s release bar. */
  private val K = 5
  private val T = 0.3

  /** The release audit over [[classState]] output: per `reportCol`
    * (one of the QI columns) — row/class counts, the smallest class
    * (k of k-anonymity), the suppression cost of enforcing [[K]], and
    * the l-diversity floor. Matches the registered q215 semantics. */
  def audit(state: DataFrame, qiCols: Seq[String], reportCol: String): DataFrame = {
    require(qiCols.contains(reportCol),
      s"audit: reportCol '$reportCol' must be one of the QI columns $qiCols")
    require(!qiCols.contains("c"),
      "Privacy: 'c' is reserved for the class-state count column — " +
        "rename the conflicting QI column before auditing")
    // [[classState]] is additive under union, so a caller may pass a
    // UNION of ingest deltas — canonicalize to one row per
    // (QI, sensitive) first, or l_div (= state-row count per class)
    // would count duplicates and OVER-report the l-diversity floor (a
    // release gate passing a table that actually leaks)
    val canon = state
      .groupBy(state.columns.filterNot(_ == "c").map(col): _*)
      .agg(sum(col("c")).as("c"))
    val cls = canon
      .groupBy(qiCols.map(col): _*)
      .agg(sum(col("c")).as("sz"), count(lit(1)).as("l_div"))
    cls.groupBy(col(reportCol))
      .agg(sum(col("sz")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("sz")).as("k_min"),
        sum(when(col("sz") < K, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("sz") < K, col("sz")).otherwise(0L)).as("rows_suppressed"),
        round(sum(when(col("sz") < K, col("sz")).otherwise(0L)).cast("double")
          / sum(col("sz")), 6).as("pct_suppressed"),
        min(col("l_div")).as("min_l_diversity"),
        round(sum(col("l_div")).cast("double") / count(lit(1)), 6)
          .as("avg_l_diversity"))
      .orderBy(col(reportCol))
  }

  /** t-closeness audit over [[classState]] output (Li, Li &
    * Venkatasubramanian 2007, total-variation instance for categorical
    * sensitive attributes): per QI class, the distance between its
    * sensitive-value distribution and the GLOBAL one —
    * t_c = ½ Σ_v |p_c(v) − p(v)| — then per `reportCol`: worst and
    * mean class distance, and the classes/rows past the release
    * threshold [[T]]. Completes the release-audit family: k-anonymity
    * bounds re-identification, l-diversity bounds value disclosure
    * within a class, t-closeness bounds what a class reveals RELATIVE
    * to background knowledge (a 5-anonymous, 3-diverse class still
    * leaks if its segment mix is far from the population's).
    *
    * Exactness: the per-class numerator is the exact integer
    * Σ_v |cnt_cv·N − g_v·n_c| (absent values contribute g_v·n_c —
    * folded in via the complement term (N − Σ_present g_v)·n_c, so the
    * class × sensitive grid is never materialized); t_c quantizes to
    * the 1e-9 grid as a BIGINT before any cross-class aggregation.
    * Headroom: cnt·N needs N ≤ ~2×10⁹ in int64 — guarded loudly, the
    * q221 convention (the guard multiplies into the quantized value so
    * pruning cannot drop it). Scale: the state is (QI × sensitive)-
    * grain; everything after is one sensitive-grain join + class-grain
    * aggregates. Additive-under-union like [[audit]] (same
    * canonicalization), so the standing streaming monitor serves this
    * from the identical fold. */
  def tCloseness(state: DataFrame, qiCols: Seq[String], sensCol: String,
      reportCol: String): DataFrame = {
    require(qiCols.contains(reportCol),
      s"tCloseness: reportCol '$reportCol' must be one of the QI columns $qiCols")
    require(!(qiCols :+ sensCol).contains("c"),
      "Privacy: 'c' is reserved for the class-state count column — " +
        "rename the conflicting QI/sensitive column before auditing")
    val canon = state
      .groupBy(state.columns.filterNot(_ == "c").map(col): _*)
      .agg(sum(col("c")).as("c"))
    val szs = canon.groupBy(qiCols.map(col): _*).agg(sum(col("c")).as("sz"))
    val g = canon.groupBy(col(sensCol)).agg(sum(col("c")).as("gv"))
    val nn = canon.agg(sum(col("c")).as("n"))
    val tq = canon
      .join(g, Seq(sensCol))
      .join(szs, qiCols)
      .crossJoin(broadcast(nn))
      .groupBy(qiCols.map(col): _*)
      .agg(sum(abs(col("c") * col("n") - col("gv") * col("sz"))).as("pnum"),
        sum(col("gv")).as("pg"), max(col("sz")).as("sz"), max(col("n")).as("n"))
      .withColumn("ok", when(col("n") > 2000000000L, raise_error(lit(
          "Privacy.tCloseness: row count past the int64 cnt*N headroom — " +
            "subsample or shard the audit")).cast("long"))
        .otherwise(lit(1L)))
      .withColumn("tq",
        round((col("ok") * (col("pnum") + (col("n") - col("pg")) * col("sz")))
          .cast("double")
          / (lit(2L) * col("sz") * col("n")).cast("double") * 1e9)
          .cast("long"))
    val tLong = math.round(T * 1e9)
    tq.groupBy(col(reportCol))
      .agg(count(lit(1)).as("n_classes"),
        round(max(col("tq")).cast("double") / 1e9, 6).as("max_t"),
        round(sum(col("tq")).cast("double") / count(lit(1)) / 1e9, 6).as("avg_t"),
        sum(when(col("tq") > tLong, 1L).otherwise(0L)).as("classes_above_t"),
        sum(when(col("tq") > tLong, col("sz")).otherwise(0L)).as("rows_exposed"))
      .orderBy(col(reportCol))
  }
}
