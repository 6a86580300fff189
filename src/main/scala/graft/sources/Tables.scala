package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed accessors for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every reader is a plain `spark.read.parquet` — no schema override — so
  * Catalyst's vectorized parquet reader, predicate pushdown and column
  * pruning all apply. At 100 TB these would be partitioned/bucketed tables
  * behind a catalog (`spark.table(name)` on `Sinks.writeBucketed`
  * output); this accessor indirection is the one seam where that swap
  * happens, and no query code changes.
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  /** The session conf `events` needs for the TIMESTAMP(NANOS) testdata
    * generation. Set it at SESSION CONSTRUCTION (`GraftSession.local`
    * does, for every graft session) — the loader below only
    * sets it as a fallback when the session was built without it,
    * because the flag cannot be scoped per-read: parquet schema
    * conversion consults it both at analysis AND lazily at task
    * execution, so a set-then-restore around the `load` would break
    * the read it just enabled. */
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (TESTDATA/SURVEY §7.4), which
    * Spark's vectorized reader rejects unless read as raw nanos via the
    * legacy flag, and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false,
    * which Spark reads as TIMESTAMP_NTZ. Normalize BOTH to microsecond
    * TimestampType here (session TZ is UTC everywhere, so the NTZ cast
    * preserves the wall-clock instant), so every consumer sees a plain
    * `ts: TIMESTAMP` column regardless of which generator wrote the file. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    // fallback only — no mutation when the session already carries it
    // (see [[NanosAsLongKey]])
    if (!spark.conf.getOption(NanosAsLongKey).contains("true"))
      spark.conf.set(NanosAsLongKey, "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Name-keyed accessor; routes `events` through the nanos conversion. */
  def byName(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else load(spark, dir, name)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
