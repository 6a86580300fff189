package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Statistics for a lineage cut. `localCheckpoint` leaves a `LogicalRDD`
  * that carries its origin plan's estimate, which the join-size rule
  * multiplies through every join above it, so a loop's small cut soon
  * looks bigger than the tables it is joined with and the planner
  * broadcasts those tables instead. Re-wrapping the leaf with the
  * measured row count needs the `private[sql]` `LogicalRDD` constructor
  * and `Dataset.ofRows`, hence this shim beside [[ColumnBridge]].
  */
object CutStats {

  /** `cut`, a `localCheckpoint` result, with `rows` as its leaf's
    * statistics: row count `rows`, size `rows` × the output's per-row
    * width (Spark's own estimate from a row count). The rdd,
    * partitioning, ordering and constraints are kept. */
  def withRowCount(cut: DataFrame, rows: Long): DataFrame =
    cut.queryExecution.logical match {
      case leaf: LogicalRDD =>
        val session = cut.sparkSession.asInstanceOf[SparkSession]
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getOutputSize(leaf.output, BigInt(rows)),
          rowCount = Some(BigInt(rows)))
        Dataset.ofRows(session, leaf.copy()(session, Some(stats), Some(leaf.constraints)))
      case other => throw new IllegalArgumentException(
        s"CutStats.withRowCount needs a localCheckpoint leaf, got ${other.nodeName}")
    }
}
