package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One benchmark run in one JVM: start a session, generate inputs, run a
  * fixed number of warm-up passes, then a fixed number of timed passes,
  * and write the run's figures as JSON.
  *
  * Arguments (all `--name value`): workload, seed, warm-passes,
  * timed-passes, trace (0|1), root (checkout root), work (scratch
  * directory), result (JSON path); optional: record (write observed
  * digests there instead of checking them).
  */
object Main {
  val Cores = 4

  val AnalystSql: Seq[String] = "q01 q09 q12 q18 q21 q99".split(' ').toSeq
  val PrepPipelines: Seq[String] = "q59 q45 q112 q223 q237 q242".split(' ').toSeq

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val warmPasses = opt("warm-passes").toInt
    val timedPasses = opt("timed-passes").toInt
    val trace = opt("trace") == "1"
    val root = Paths.get(opt("root"))
    val work = Paths.get(opt("work"))
    val record = opt.get("record")

    val tracer = new Tracer(trace)
    val (spark, startWall, startS) =
      Host.timed(tracer.span("session", "GraftSession.local")(graft.GraftSession.local(Cores, "perfbench")))
    spark.sparkContext.setLogLevel("WARN")
    // cleanup unpersists locally checkpointed RDDs; Spark warns once per RDD
    org.apache.logging.log4j.core.config.Configurator.setLevel("org.apache.spark.rdd",
      org.apache.logging.log4j.Level.ERROR)

    val recorded = mutable.LinkedHashMap[String, String]()
    val dataDir = root.resolve("perfbench/data/sf0.01").toString
    def queries(ids: Seq[String]) = new QueryWorkload(ids, dataDir,
      readExpected(root.resolve("perfbench/expected/sf0.01.tsv")), record.map(_ => recorded))
    val w: Workload = workload match {
      case "analyst-sql" => queries(AnalystSql)
      case "prep-pipelines" => queries(PrepPipelines)
      case "crawl-etl" => new CrawlWorkload(seed, work.toString)
      case other => sys.error(s"unknown workload $other")
    }
    val untraced = new Harness(spark, tracer, None)
    w.prepare(untraced)

    // warm-up: a fixed number of full passes, in the same order for every
    // seed, so every run reaches its timed passes with the same work done
    val warm = mutable.ArrayBuffer[Pass]()
    val (_, warmWall, warmS) = Host.timed(tracer.span("session", "warm-up") {
      while (warm.size < warmPasses) {
        val p = new Pass(warm.size)
        w.pass(untraced, p, new Random(p.index))
        System.err.println(f"[perfbench] warm pass ${p.index} ${p.wall}%.3f s (${p.wallAdj}%.3f s without steal)")
        warm += p
      }
    })

    val probe = if (!trace) None else {
      val graftFiles = scala.util.Using.resource(Files.walk(root.resolve("src/main/scala")))(
        _.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".scala")).toSet)
      val pr = new Probe(spark.sparkContext, tracer, graftFiles)
      spark.sparkContext.addSparkListener(pr)
      spark.listenerManager.register(pr)
      Some(pr)
    }
    val harness = new Harness(spark, tracer, probe)
    val timed = mutable.ArrayBuffer[Pass]()
    while (timed.size < timedPasses) {
      val p = new Pass(warm.size + timed.size)
      tracer.span("pass", s"pass ${p.index}")(w.pass(harness, p, new Random(seed * 7919 + p.index)))
      // live heap: collect, let Spark's cleaner drop blocks of unreachable
      // broadcasts and shuffles, collect again
      System.gc(); Thread.sleep(500); System.gc()
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      p.heapLiveMb = heap.getUsed / 1048576.0
      System.err.println(f"[perfbench] timed pass ${p.index} ${p.wall}%.3f s (${p.wallAdj}%.3f s without steal), heap ${p.heapLiveMb}%.1f MB")
      timed += p
    }

    val all = warm ++ timed
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    // the highest percentile with at least 10 samples beyond it; below 21
    // samples that would fall under the median, so the maximum instead
    val nSamples = timed.map(_.opTimes.size).sum
    val tailIdx = if (nSamples >= 21) nSamples - 11 else nSamples - 1
    def times(total: Pass => Double, ops: Pass => Seq[Double], setup: Double) = {
      val samples = timed.flatMap(ops).sorted.toSeq
      Seq(
        "total_s" -> median(timed.map(total).toSeq),
        "query_p50_s" -> median(samples),
        "query_tail_s" -> samples(tailIdx),
        "setup_s" -> setup)
    }
    val endToEnd = times(_.wallAdj, _.opTimesAdj.toSeq, startS + warmS) ++ Seq(
      "error_rate" -> failed.toDouble / attempted,
      "heap_live_mb" -> median(timed.map(_.heapLiveMb).toSeq))
    val wallClock = times(_.wall, _.opTimes.toSeq, startWall + warmWall)
    val perLayer = if (trace) layers(timed.toSeq, startS, warmS) else Nil
    val notes = Seq(
      "tail_percentile" -> 100.0 * (tailIdx + 1) / nSamples,
      "tail_samples" -> nSamples.toDouble,
      "warm_passes" -> warm.size.toDouble,
      "timed_passes" -> timed.size.toDouble)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "end_to_end" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "wall_clock" -> Json.obj(wallClock.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
      "notes" -> Json.obj(notes.map { case (k, v) => k -> Json.num(v) }),
      "warm_pass_s" -> warm.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "timed_pass_s" -> timed.map(p => Json.num(p.wall)).mkString("[", ",", "]")))
    spark.stop()
    if (trace) tracer.write(work.resolve("spans.jsonl"))
    record.foreach(path => Files.write(Paths.get(path),
      recorded.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes(UTF_8)))
    Files.write(Paths.get(opt("result")), (json + "\n").getBytes(UTF_8))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def readExpected(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.filter(_.contains('\t'))
      .map(_.split('\t')).map(a => a(0) -> a(1)).toMap

  /** Per-layer figures: the median, over timed passes, of each pass's sum. */
  private def layers(passes: Seq[Pass], startS: Double, warmS: Double): Seq[(String, Double)] = {
    def med(f: Pass => Double) = median(passes.map(f))
    def both(k: String)(p: Pass) = p.build(k) + p.action(k)
    Seq(
      "session.start_s" -> startS,
      "session.warm_s" -> warmS,
      "queries.build_s" -> med(_.buildAdj),
      "queries.build_jobs" -> med(_.build("jobs")),
      "queries.action_s" -> med(_.actionAdj),
      "sources.schema_jobs" -> med(both("schema_jobs")),
      "sources.schema_s" -> med(both("schema_ms")) / 1000,
      "sources.scan_bytes" -> med(both("scan_bytes")),
      "sources.scan_rows" -> med(both("scan_rows")),
      "sources.write_s" -> med(_.layer("write_s")),
      "sources.write_bytes" -> med(both("write_bytes")),
      "sources.write_files" -> med(_.layer("write_files")),
      "operators.checkpoint_jobs" -> med(_.build("checkpoint_jobs")),
      "operators.gate_jobs" -> med(_.build("gate_jobs")),
      "operators.unattributed_jobs" -> med(_.build("unattributed_jobs")),
      "operators.leaked_blocks" -> med(_.layer("leaked_blocks")),
      "operators.leaked_bytes" -> med(_.layer("leaked_bytes")),
      "catalyst.analysis_ms" -> med(both("analysis_ms")),
      "catalyst.optimization_ms" -> med(both("optimization_ms")),
      "catalyst.planning_ms" -> med(both("planning_ms")),
      "exec.jobs" -> med(both("jobs")),
      "exec.stages" -> med(both("stages")),
      "exec.tasks" -> med(both("tasks")),
      "exec.run_s" -> med(both("run_ms")) / 1000,
      "exec.cpu_s" -> med(both("cpu_ns")) / 1e9,
      "exec.task_wait_s" -> med(both("task_wait_ms")) / 1000,
      "exec.shuffle_read_bytes" -> med(both("shuffle_read_bytes")),
      "exec.shuffle_write_bytes" -> med(both("shuffle_write_bytes")),
      "exec.spill_bytes" -> med(both("spill_bytes")),
      "exec.gc_s" -> med(both("gc_ms")) / 1000,
      "exec.slot_busy" -> med(p => both("run_ms")(p) / 1000 / (p.wall * Cores)),
      "lianjia.crawl_s" -> med(_.layer("crawl_s")),
      "lianjia.crawl_rounds" -> med(_.layer("crawl_rounds")),
      "lianjia.pages_visited" -> med(_.layer("pages_visited")),
      "lianjia.extract_s" -> med(_.layer("extract_s")),
      "lianjia.extract_pages_per_s" -> med(p =>
        if (p.layer("extract_s") > 0) p.layer("extract_pages") / p.layer("extract_s") else 0.0),
      "lianjia.analytics_s" -> med(_.layer("analytics_s")))
  }
}

