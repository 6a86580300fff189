package graft.tools

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.{Bench, GraftSession, SparkEntry}
import graft.sources.Tables

/** Time, explain or scale-probe selected registered queries in the
  * session Bench uses (`GraftSession.local` on SPARK_GRAFT_CPUS cores).
  *
  * Usage: runMain graft.tools.Probe <sfDir> <substr>[,<substr>...] [reps]
  *          [--explain | --explain-exec | --scale k1,k2,...]
  *
  * Picks every query whose name contains one of the substrings. Timing
  * (the default) runs Bench's interleaved loop ([[Bench.interleaved]])
  * over the picked queries, so a noisy window hits one rep of many
  * queries instead of every rep of one, and a rep that throws prints
  * FAIL instead of ending the probe. `--explain` prints each formatted plan without
  * running it; `--explain-exec` runs the query first (on its own
  * QueryExecution) and prints the final adaptive plan, where AQE stage
  * reuse shows. Both print every field of every node ([[explain]]).
  *
  * `--scale 1,8,32` times the picked queries the same way on a ×k
  * replica of sfDir for each k ([[relTables]], written once and reused;
  * every rep runs every k) and prints, per query and step, the growth
  * exponent ln(median_b / median_a) / ln(b / a): ~1.0 is linear, ~2.0
  * quadratic (FAIL when every rep at a or b failed).
  * The size-gated graph ops take their local leg at these sizes; to
  * probe the distributed leg start the JVM with
  * `-Dgraft.gate.override=0` ([[graft.operators.LocalGate]]'s gate
  * override; build.sbt forwards extra java options to forked runs).
  */
object Probe {
  private val Usage = "usage: Probe <sfDir> <substr>[,<substr>...] [reps] " +
    "[--explain | --explain-exec | --scale k1,k2,...]"

  def main(args: Array[String]): Unit = {
    val scaleAt = args.indexOf("--scale")
    val ks = if (scaleAt < 0) Seq.empty[Int] else
      args.lift(scaleAt + 1).filterNot(_.startsWith("--"))
        .fold(Seq.empty[Int])(_.split(",").map(_.trim.toInt).toSeq)
    val rest = if (scaleAt < 0) args.toSeq else args.toSeq.patch(scaleAt, Nil, 2)
    val (flags, pos) = rest.partition(_.startsWith("--"))
    require(pos.length >= 2 && flags.forall(Set("--explain", "--explain-exec")), Usage)
    require(scaleAt < 0 || flags.isEmpty,
      "--scale times queries; it cannot be combined with --explain or --explain-exec")
    require(scaleAt < 0 || ks.nonEmpty && ks.head >= 1 && ks == ks.distinct.sorted,
      s"--scale needs strictly increasing factors >= 1, e.g. --scale 1,8,32; $Usage")
    val sfDir = pos(0)
    val subs = pos(1).split(",").toSeq
    val reps = pos.lift(2).fold(3)(_.toInt)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-probe")
    spark.sparkContext.setLogLevel("WARN")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subs.exists(n.contains) }

    if (flags.nonEmpty) picked.foreach { case (name, fn) =>
      println(s"========== $name ==========")
      println(explain(fn(spark, sfDir), flags.contains("--explain-exec")))
    } else {
      val dirs = if (ks.isEmpty) Seq(1 -> sfDir)
        else ks.map(k => k -> relTables(spark, sfDir, k))
      spark.range(1000000).selectExpr("sum(id)").collect() // warm-up
      // every k inside every rep: a cold JVM or a noisy window costs one
      // rep of each (query, k), not every rep of the first k
      // Bench's loop and between-query reset; a failed rep reads FAIL
      val times = Bench.interleaved(for ((k, dir) <- dirs; (name, fn) <- picked)
          yield (name, k) -> (() => fn(spark, dir)), reps,
        () => Bench.resetBetweenQueries(spark))((_, _, _, _) => ())
      picked.foreach { case (name, _) =>
        dirs.foreach { case (k, _) =>
          report(name, if (ks.isEmpty) "" else f" k=$k%-4d", times((name, k)))
        }
        ks.zip(ks.drop(1)).foreach { case (a, b) =>
          val e = for (ma <- Bench.medianOk(times((name, a)));
              mb <- Bench.medianOk(times((name, b))))
            yield f"${math.log(mb / ma) / math.log(b.toDouble / a)}%.2f"
          println(s"[scale] $name k=$a->$b exponent=${e.getOrElse("FAIL")}")
        }
      }
    }
    spark.stop()
  }

  /** `df`'s formatted plan (run first when `exec`: the final adaptive
    * plan) with every field printed. Spark's default
    * `spark.sql.debug.maxToStringFields` cuts wide nodes to "... N more
    * fields", which a plan diff cannot see past. */
  private[tools] def explain(df: DataFrame, exec: Boolean): String = {
    df.sparkSession.conf.set("spark.sql.debug.maxToStringFields", Int.MaxValue.toLong)
    // collect() drives df's OWN QueryExecution; count() would run a
    // wrapped plan and leave this one un-finalized
    if (exec) df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  private def report(name: String, tag: String, ts: Seq[Option[Double]]): Unit = {
    val stats = Bench.medianOk(ts).fold("FAIL")(m =>
      f"min ${ts.flatten.min}%6.2f  median $m%6.2f")
    println(f"$name%-32s$tag $stats  " +
      s"runs ${ts.map(_.fold("FAIL")(t => f"$t%.2f")).mkString(" ")}")
  }

  /** Tables that stay FIXED at every k: the bounded dimensions. Nation
    * and region keep their 25/5 rows (per-nation groups grow ×k in
    * rows); supplier keeps the q127/q131 seed set (s_suppkey <= 3) from
    * multiplying, while replicated lineitem still grows the bipartite
    * edge list ×k through the shared supplier nodes; part is not
    * remapped either, so replicated lineitem rows keep pointing at the
    * same parts. */
  private[tools] val FixedTables = Seq("region", "nation", "supplier", "part")

  /** Replica r of k for each replicated table. Every id moves to the ×k
    * keyspace (id·k + r), so replicas share no id; each replica keeps
    * the source's internal structure exactly and shares nothing else:
    *  - documents: every token gets the prefix `r<r>x` and the source
    *    `r<r>_`, so a replica keeps its shingle/dup structure, vocabulary
    *    shape and distinct-value grain, but shares no shingle, token or
    *    source with another replica;
    *  - orders, customer, lineitem: keys remapped together (orders keep
    *    their customer, lineitems their order); `c_mktsegment` gets the
    *    `r<r>_` prefix, so each replica has its own segments;
    *  - embeddings: replica r is multiplied element-wise by a
    *    deterministic ±1 pattern (a diagonal orthogonal transform over
    *    the 64-d vectors), which preserves every intra-replica cosine
    *    exactly while decorrelating replicas;
    *  - events: per-user streams (funnel step order, session structure)
    *    are preserved within each replica; replicas never share a user. */
  private[tools] def replicas(k: Int): Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    ("documents", (df, r) => df.select((col("doc_id") * k + r).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", s"r${r}x$$1").as("text"),
      col("lang"), concat(lit(s"r${r}_"), col("source")).as("source"),
      col("n_chars"))),
    ("orders", (df, r) => df.withColumn("o_orderkey", col("o_orderkey") * k + r)
      .withColumn("o_custkey", col("o_custkey") * k + r)),
    ("customer", (df, r) => df.withColumn("c_custkey", col("c_custkey") * k + r)
      .withColumn("c_mktsegment", concat(lit(s"r${r}_"), col("c_mktsegment")))),
    ("lineitem", (df, r) => df.withColumn("l_orderkey", col("l_orderkey") * k + r)),
    ("embeddings", { (df, r) =>
      val signs = array(graft.functions.VectorFns.lshCoefs(1000 + r, 64).map(lit): _*)
      df.select((col("vec_id") * k + r).as("vec_id"),
        zip_with(col("embedding").cast("array<double>"), signs, (x, s) => x * s)
          .as("embedding"),
        col("label"))
    }),
    ("events", (df, r) => df.select((col("event_id") * k + r).as("event_id"),
      col("ts"), (col("user_id") * k + r).as("user_id"),
      col("event_type"), col("value"), col("props"))))

  /** Where the ×k replica of `sfDir` lives: keyed on the source dir's
    * name and canonical path (two dirs that share a name, such as two
    * copies of sf0.01, get different replicas), the table-set version
    * and k. The version moves whenever the table set or a replication
    * scheme changes (v6 added region), so a replica left by an older
    * build never satisfies a probe that needs what it lacks. */
  private[tools] def replicaDir(sfDir: String, k: Int,
      root: String = "/tmp"): String = {
    val src = new File(sfDir).getCanonicalFile
    f"$root/graft_scale_rel_v6_${src.getName}_${src.getPath.hashCode}%08x_k$k"
  }

  /** Write (or reuse) the ×k replica of every table in `sfDir` and
    * return its dir. A `_done` marker is created after the last table,
    * so an interrupted build is redone; delete the dir to rebuild. */
  private[tools] def relTables(spark: SparkSession, sfDir: String, k: Int,
      root: String = "/tmp"): String = {
    val dir = replicaDir(sfDir, k, root)
    val done = new File(s"$dir/_done")
    if (!done.exists()) {
      FixedTables.foreach(t =>
        Tables.byName(spark, sfDir, t).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
      replicas(k).foreach { case (t, replica) =>
        val src = Tables.byName(spark, sfDir, t)
        (0 until k).map(replica(src, _)).reduce(_ union _)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      done.createNewFile()
    }
    dir
  }
}
