package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources & sinks beyond the plain parquet scan (SURVEY §2.1).
  *
  *  - K1 (JSON feed sink): the reference's `-o out.json` feed export.
  *  - K3 (per-collection sink): the `collection='lianjia_village'/'
  *    lianjia_House'` intent — one table per record type.
  *  - S3 (error tolerance): the reference treats HTTP 403 as a normal
  *    response (`HTTPERROR_ALLOWED_CODES`); the ingest analog is
  *    PERMISSIVE parsing with a corrupt-record column instead of failing
  *    the job on malformed rows.
  *  - S4 (page cache): bronze materialization.
  */
object Sinks {

  /** K1: JSON feed export. One directory of newline-delimited JSON parts —
    * the distributed form of the reference's single feed file. */
  def writeJsonFeed(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** K3: per-collection parquet sink, partitioned by the given columns
    * (at 100 TB the partition columns are the pruning surface — e.g.
    * 状态/date for houses). */
  def writeCollection(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S3: permissive JSON ingest — malformed records land in
    * `_corrupt_record` instead of failing the read. */
  def readJsonPermissive(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** CSV sink/source pair — the flat-file interchange surface. Header
    * carried in-band; reads take an explicit schema (inference is a
    * full extra pass over 100 TB — never default to it). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC sink/source pair — the other columnar format; same pushdown +
    * pruning semantics as parquet under Spark's vectorized reader. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Bucketed managed table: pre-shuffles once at write time so every
    * later equi-join/agg on the bucket columns runs WITHOUT an exchange
    * — at 100 TB this converts the recurring fact⋈fact shuffle into a
    * one-time layout cost. sortBy makes each bucket file sort-merge-ready
    * (no per-task sort either). */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
}
