package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary, in epoch microseconds; `parent` is the
  * span that caused it (0 for the run itself). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startUs: Long, endUs: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"layer":${Json.str(layer)},"name":${Json.str(name)},""" +
      s""""start_us":$startUs,"end_us":$endUs,"dur_ms":${(endUs - startUs) / 1000.0}}"""
}

/** Spans around calls made from the harness into the program, kept in
  * memory and written out at the end; recorded only when tracing is on. */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  @volatile private var stack: List[Int] = List(0)

  private def usAt(ns: Long): Long = baseUs + (ns - baseNs) / 1000L
  def current: Int = stack.head

  /** Runs `body` as a child of the current span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      if (enabled) add(Span(id, parent, layer, name, usAt(t0), usAt(System.nanoTime())))
    }
  }

  /** Records an interval observed elsewhere (a Spark stage), in epoch ms. */
  def external(parent: Int, layer: String, name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) add(Span(ids.incrementAndGet(), parent, layer, name, startMs * 1000L, endMs * 1000L))

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.synchronized(spans.sortBy(_.id).map(_.json))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Named sums, filled from the listener thread and read by the harness. */
final class Counters {
  private val m = mutable.HashMap[String, Double]()
  def add(k: String, v: Double = 1.0): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def apply(k: String): Double = synchronized { m.getOrElse(k, 0.0) }
}

/** The traced run's view of Spark, registered from outside the program:
  * a SparkListener for jobs, stages and task metrics and a
  * QueryExecutionListener for Catalyst's phase times. Events land in the
  * Counters of the window the harness has open; closing a window first
  * drains the listener bus, so no event of a window is lost to the next. */
final class Probe(sc: SparkContext, tracer: Tracer, graftFiles: String => Boolean)
    extends SparkListener with QueryExecutionListener {
  @volatile private var window: Option[(Counters, Int)] = None
  private val jobs = mutable.HashMap[Int, (Long, String, Counters)]()

  def measure[T](into: Counters)(body: => T): T = {
    Bus.drain(sc)
    window = Some((into, tracer.current))
    try body finally { Bus.drain(sc); window = None }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = window.foreach { case (c, _) =>
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val kind = CallSite.classify(site, graftFiles)
    jobs(e.jobId) = (e.time, kind, c)
    c.add("jobs"); c.add(s"${kind}_jobs")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { case (t0, kind, c) => c.add(s"${kind}_ms", (e.time - t0).toDouble) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = window.foreach { case (c, parent) =>
    val s = e.stageInfo
    c.add("stages")
    for (t0 <- s.submissionTime; t1 <- s.completionTime)
      tracer.external(parent, "exec", s"stage ${s.stageId}: ${s.name}", t0, t1)
  }

  private val submitted = mutable.HashMap[Int, Long]()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = window.foreach { case (c, _) =>
    c.add("tasks")
    submitted.get(e.stageId).foreach(t0 => c.add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - t0).toDouble))
    val m = e.taskMetrics
    if (m != null) {
      c.add("run_ms", m.executorRunTime.toDouble)
      c.add("cpu_ns", m.executorCpuTime.toDouble)
      c.add("gc_ms", m.jvmGCTime.toDouble)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
      c.add("write_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  private def phases(qe: QueryExecution): Unit = window.foreach { case (c, _) =>
    qe.tracker.phases.foreach { case (phase, s) => c.add(s"${phase}_ms", s.durationMs.toDouble) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
