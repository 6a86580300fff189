package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only): comma-separated substrings —
    // run just the matching queries. The driver always passes 2 args.
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def wanted(name: String) = only.forall(_.exists(name.contains))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).filter(p => wanted(p._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // coalesce(1) alone would pull the whole narrow pipeline into a
        // single task (no shuffle boundary above it) — q29/q31 ran 20-45s
        // single-threaded. persist+count materializes with full
        // parallelism; the 1-task write then just drains the cache in
        // partition order, preserving each query's ORDER BY.
        val res = fn(spark, sfDir).persist()
        res.count()
        res.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        res.unpersist()
        System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
