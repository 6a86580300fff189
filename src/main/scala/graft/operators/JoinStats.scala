package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact pre-join cardinality + skew forecast — the planner-facing
  * diagnostic behind [[SkewJoin.saltedJoinIfSkewed]]'s gate, exposed as
  * a first-class operator: before running (or salting, or banding) an
  * equi-join, forecast its output size and find the keys that dominate
  * it.
  *
  * The whole forecast runs at KEY grain, never at row grain: each side
  * collapses to (key, count) with one partial-aggregated shuffle, the
  * two count relations join on the key (output ≤ |distinct keys| rows),
  * and every derived number — per-key output rows `cL·cR`, self-join
  * pair count `c(c−1)/2`, totals, percent-of-total — is exact integer
  * arithmetic over those counts. At 100 TB this is the cheap query you
  * run BEFORE the expensive one: a 10¹²-row forecast (or one key
  * carrying 40% of the output) reroutes the job to the salted/banded
  * path instead of discovering the explosion as a straggler task.
  */
object JoinStats {

  /** Per-key forecast of `left ⋈ right` on `lk = rk`: one row per join
    * key present on BOTH sides, with each side's row count and the
    * exact output rows `l_rows · r_rows` that key will produce. */
  def equiJoinForecast(left: DataFrame, right: DataFrame,
      lk: String, rk: String): DataFrame = {
    val l = left.groupBy(col(lk).as("key")).agg(count(lit(1)).as("l_rows"))
    val r = right.groupBy(col(rk).as("key")).agg(count(lit(1)).as("r_rows"))
    l.join(r, "key").select(col("key"), col("l_rows"), col("r_rows"),
      (col("l_rows") * col("r_rows")).as("out_rows"))
  }

  /** Per-key forecast of the unordered self-join `df ⋈ df` on `key` —
    * the candidate-pair count a naive all-pairs dedup would generate:
    * `c(c−1)/2` per key (exact: the product of consecutive integers is
    * even). */
  def selfJoinPairForecast(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key).as("key")).agg(count(lit(1)).as("n_rows"))
      // integer DIV, not `/`: Spark's `/` on longs returns double, which
      // loses exactness past 2^53 — forecasts are the regime where that
      // actually happens
      .select(col("key"), col("n_rows"),
        expr("n_rows * (n_rows - 1) div 2").as("pairs"))

  /** Decimal places of [[hotKeys]]' `pct_of_total`. */
  private val PctDigits = 4

  /** Top-`k` hottest keys of a per-key forecast (by the `weight` column),
    * each annotated with the forecast total and its percent share — the
    * skew report. The total is a 1-row broadcast; the top-k pick is a
    * TakeOrdered, so nothing beyond the key-grain relation ever moves. */
  def hotKeys(forecast: DataFrame, weight: String, k: Int): DataFrame = {
    val tot = forecast.agg(sum(col(weight)).as("total"))
    forecast.crossJoin(broadcast(tot))
      .orderBy(col(weight).desc, col("key"))
      .limit(k)
      .withColumn("pct_of_total",
        round(col(weight).cast("double") * 100 / col("total"), PctDigits))
  }
}
