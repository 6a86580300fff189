package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession configured the way every graft
  * operator expects (UTC, AQE, sane local shuffle parallelism), plus SQL
  * registration of the engine's custom expressions so pure-SQL users get
  * the same surface as the DataFrame API.
  */
object GraftSession {

  /** How many finished jobs, stages and SQL executions Spark's status
    * store keeps of each (its defaults are 1000). With the UI off
    * nothing in graft reads them, and at the defaults a long session's
    * live heap grows with every query until the caps are reached. */
  val StatusStoreCap = 50

  /** Build a local session. `cores` drives both the master thread count
    * and shuffle partitions — on a real cluster, drop `master` and size
    * `spark.sql.shuffle.partitions` to ~2-3× total executor cores. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", StatusStoreCap.toString)
      .config("spark.ui.retainedStages", StatusStoreCap.toString)
      .config("spark.sql.ui.retainedExecutions", StatusStoreCap.toString)
      // static conf: the generated-class cache defaults to 100 entries,
      // which a many-query analytics session overflows — each re-run
      // then recompiles its whole-stage codegen. Sizing it to hold the
      // whole suite cut the full-suite sum-of-mins 26% at local[32]
      // (measured A/B; probe removed, see git history at 894f351)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // NOTE: spark.sql.limit.initialNumPartitions is deliberately NOT
      // set here. The graph operators' size gate wants a full-partition
      // single-job take and scopes the conf around its own take
      // (LocalGate.take); session-global it would also make
      // every small interactive LIMIT scan all partitions up front,
      // losing the incremental-scan early-out.
      // int64-nanos parquet timestamps read as raw longs (normalized by
      // sources.Tables.events); session-construction-time because the
      // flag can't be scoped per-read — see Tables.NanosAsLongKey
      .config(graft.sources.Tables.NanosAsLongKey, "true")
      .getOrCreate()
    registerFunctions(spark)
    registerAggregates(spark)
    registerMetricsLogger(spark)
    spark
  }

  /** Surface `graft.*` observed metrics (CollectMetrics — e.g. the
    * dropped-mega-basket count in Baskets.baskets) on stderr when their
    * query completes. Observation rides the query's own job, so
    * operators get "log the drop" without paying an extra count scan. */
  def registerMetricsLogger(spark: SparkSession): Unit =
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.")) System.err.println(s"[$name] $row")
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })

  /** Register the engine's typed aggregators for pure-SQL callers. SQL
    * function signatures can't carry constructor parameters, so the
    * common parameterizations are pre-bound under suffixed names (the
    * DataFrame API takes arbitrary k/geometry via functions.TopK /
    * functions.CountMin directly). */
  def registerAggregates(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.udaf
    import graft.functions.{CountMin, QuantileSketch, TopK}
    import graft.operators.Dedup
    spark.udf.register("graft_topk3", udaf(TopK.topKAgg(3)))
    spark.udf.register("graft_topk10", udaf(TopK.topKAgg(10)))
    spark.udf.register("graft_cms_4x256",
      udaf(CountMin.agg(4, 256, Dedup.minhashParams(4), Dedup.MinhashP)))
    // q134's cents geometry: $1000-wide bins from 0, 128 bins
    spark.udf.register("graft_qsketch_cents",
      udaf(QuantileSketch.agg(0L, 100000L, 128)))
    // q148's portable HLL: 64 dense max-rank registers over md5
    spark.udf.register("graft_hll64",
      udaf(graft.functions.PortableHll.agg))
  }

  /** Register graft's custom expressions in the session's function
    * registry: `SELECT graft_simhash64(tokens) FROM ...` from plain SQL.
    * Same function set as the `GraftExtensions` session-extension entry
    * point (which covers spark-submit-time installation); this covers
    * already-running sessions. */
  def registerFunctions(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }

  /** Register every testdata table from `dir` as a temp view, so the
    * whole engine surface is reachable from `spark.sql(...)` alone. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      graft.sources.Tables.byName(spark, dir, t).createOrReplaceTempView(t)
    }
}
