package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import graft.{Bench, GraftSession, SparkEntry}

/** Time or explain selected registered queries in the session Bench
  * uses (`GraftSession.local` on SPARK_GRAFT_CPUS cores).
  *
  * Usage: runMain graft.tools.Probe <sfDir> <substr>[,<substr>...] [reps]
  *          [--explain|--explain-exec]
  *
  * Picks every query whose name contains one of the substrings. Timing
  * (the default) interleaves reps across the picked queries, as Bench
  * does, so a noisy window hits one rep of many queries instead of
  * every rep of one. `--explain` prints each formatted plan without
  * running it; `--explain-exec` runs the query first (on its own
  * QueryExecution) and prints the final adaptive plan, where AQE stage
  * reuse shows.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    require(pos.length >= 2 && flags.forall(Set("--explain", "--explain-exec")),
      "usage: Probe <sfDir> <substr>[,<substr>...] [reps] [--explain|--explain-exec]")
    val sfDir = pos(0)
    val subs = pos(1).split(",").toSeq
    val reps = pos.lift(2).fold(3)(_.toInt)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-probe")
    spark.sparkContext.setLogLevel("WARN")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subs.exists(n.contains) }

    if (flags.nonEmpty) picked.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      // collect() drives df's OWN QueryExecution; count() would run a
      // wrapped plan and leave this one un-finalized
      if (flags.contains("--explain-exec")) df.collect()
      println(s"========== $name ==========")
      println(df.queryExecution.explainString(FormattedMode))
    } else {
      spark.range(1000000).selectExpr("sum(id)").collect() // warm-up
      val times = picked.map(_._1 -> Seq.newBuilder[Double]).toMap
      for (_ <- 1 to reps; (name, fn) <- picked) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        times(name) += (System.nanoTime() - t0) / 1e9
        Bench.resetBetweenQueries(spark)
      }
      picked.foreach { case (name, _) =>
        val ts = times(name).result()
        val med = ts.sorted.apply((ts.size - 1) / 2)
        println(f"$name%-32s min ${ts.min}%6.2f  median $med%6.2f  " +
          s"runs ${ts.map(t => f"$t%.2f").mkString(" ")}")
      }
    }
    spark.stop()
  }
}
