package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The size gate every iterate-class operator sits behind: when an
  * input is small enough, collect it and iterate on the driver,
  * otherwise run the distributed loop. A k-round DataFrame loop pays k×
  * scheduler/broadcast/checkpoint latency that dwarfs the compute for
  * small graphs (and proved fragile under a loaded 32-thread session —
  * r2-r4 bench artifacts read 130-230 s for a graph the local path
  * ranks in <1 s); the distributed loop under the same API is for
  * inputs that don't fit a driver.
  *
  * NULL rule (both paths): a row with a NULL in any gated column is
  * dropped before the take, and the distributed leg is handed the same
  * filtered frame — SQL join semantics, where a NULL key never joins.
  * So an operator's answer never depends on which side of the gate its
  * input falls.
  *
  * The one settable value is the JVM system property
  * `graft.gate.override` (e.g. `-Dgraft.gate.override=0` under
  * `tools.Probe --scale`): when set, it replaces every gate's limit —
  * "0" forces the DISTRIBUTED path of all size-gated ops in one
  * process, so the plans that would actually run at 100× scale can be
  * wall-clocked against their local twins. Specs use [[withOverride]].
  * Never set in production code paths.
  *
  * Settable values, one rule for the whole library: a default-valued
  * parameter on a non-private def in src/main stays settable only when
  * (a) callers outside src/test pass different values, (b) it is a
  * deployment setting (core count, app name, a path), or (c) a named
  * spec sets it to reach a branch no fixture reaches at the default
  * ([[take]]'s `probeRowLimit`). Every other default is a named
  * constant, private unless a spec or an oracle cites it, like the
  * limits below. SettableValuesSpec holds the code to COVERAGE.md's
  * "Settable values" table.
  */
object LocalGate {

  /** Edge-list gate of the graph loops (PageRank, HITS, k-core,
    * triangle count, BFS, min-relaxation). 8M edges is ~130 MB of
    * driver arrays, far under any sane driver heap, and an 8-round loop
    * over them is milliseconds. */
  val EdgeLimit: Long = 8L << 20

  /** Connected-components gate: dup-cluster edge sets are usually MUCH
    * smaller than the corpus (each edge already cost an LSH collision +
    * verify); ~16 MB of edge ids. */
  val ComponentLimit: Long = 1L << 20

  /** BPE dictionary gate: ~4M words ≈ a few hundred MB of driver
    * strings. Real web-corpus dictionaries (tens of millions of words)
    * take the distributed loop. */
  val DictLimit: Long = 4L << 20

  /** Driver-row ceiling for the gate's speculative collect. A
    * `take(gate+1)` at the default 8M gate would materialize ~1 GB of
    * boxed `GenericRow`s on the driver even when the input turns out to
    * be OVER the gate and the rows are thrown away; capping the probe at
    * 2M rows (~200 MB transient worst-case) bounds that footprint. */
  private[graft] val ProbeRowLimit: Long = 2L << 20

  private val OverrideProp = "graft.gate.override"

  /** Which side of the gate an input fell on. */
  sealed trait Path
  /** Under the gate: the gated columns, collected. */
  final case class Local(rows: Array[Row]) extends Path
  /** Over the gate (or disabled): the NULL-filtered input frame, all
    * of its columns kept. */
  final case class Distributed(frame: DataFrame) extends Path

  /** Gate `frame` on its `cols` (the NULL rule, then [[take]]). Under
    * the gate the single take-job IS the only scan. Over it, the
    * distributed leg scans `frame` again; whether a caller cuts an
    * expensive input first follows the lineage-cut rule in
    * [[Iterate]]'s scaladoc, with the measurement in LINEAGE_CUTS.md. */
  def apply(frame: DataFrame, cols: Seq[String], limit: Long,
      tag: String): Path = {
    val kept = nonNull(frame, cols)
    take(kept.select(cols.map(col): _*), limit, tag) match {
      case Some(rows) => Local(rows)
      case None => Distributed(kept)
    }
  }

  /** The NULL rule alone, for an operator's paths that never reach the
    * gate (input types its local kernel does not cover). */
  def nonNull(frame: DataFrame, cols: Seq[String]): DataFrame =
    frame.where(cols.map(c => col(c).isNotNull).reduce[Column](_ && _))

  /** Collect a KB-scale model or state in one `limit(bound + 1)` job;
    * past `bound` rows, refuse with `refusal`, naming the precondition. */
  def collectBounded[T](frame: Dataset[T], bound: Int, refusal: String): Array[T] = {
    val rows = frame.limit(bound + 1).collect()
    if (rows.length > bound) throw new IllegalArgumentException(refusal)
    rows
  }

  /** Run `body` with the gate override set to `limit` (0 forces every
    * gate distributed), restoring the previous setting after. */
  def withOverride[A](limit: Long)(body: => A): A = {
    val prev = sys.props.get(OverrideProp)
    sys.props(OverrideProp) = limit.toString
    try body
    finally prev match {
      case Some(v) => sys.props(OverrideProp) = v
      case None => sys.props -= OverrideProp
    }
  }

  /** The size gate as ONE driver job in the common case: `take(probe+1)`
    * both answers "is the input under the gate?" and, when it is, IS
    * the collected row list the local path iterates (with
    * `spark.sql.limit.initialNumPartitions` sized to the session's
    * parallelism the take scans every partition in a single job; the
    * default incremental scale-up would cost log₄(partitions) jobs on an
    * under-limit input). The speculative collect is bounded by
    * `probeRowLimit`, NOT the gate: when the gate is larger and the
    * probe overflows, a `limit(gate+1).count()` (no driver transfer)
    * decides the path, and the full collect happens only for inputs
    * PROVEN under the gate — over-gate inputs never hold more than
    * probe+1 rows on the driver. Mid-size under-gate inputs pay the
    * extra count+collect jobs; callers cache expensive input pipelines,
    * so those re-scans hit the cache the probe just populated.
    * Returns None when over the gate (or the gate is disabled: ≤ 0). */
  private[graft] def take(rows: DataFrame, limit0: Long, tag: String,
      probeRowLimit: Long = ProbeRowLimit): Option[Array[Row]] = {
    val limit = sys.props.get(OverrideProp).map(_.toLong).getOrElse(limit0)
    if (limit <= 0) {
      System.err.println(s"[graft.$tag] gate disabled path=distributed")
      return None
    }
    def logPath(rowsDesc: String, local: Boolean): Unit = System.err.println(
      s"[graft.$tag] edges=$rowsDesc path=${if (local) "local" else "distributed"}")
    val cap = math.min(limit, Int.MaxValue - 9L).toInt
    val probe = math.min(cap.toLong, probeRowLimit).toInt
    // the probe take almost always wants every partition (under-gate
    // inputs are small; the question is only "are there more rows than
    // the cap"): scope limit.initialNumPartitions to THIS take so it is
    // one job, without stealing small interactive LIMITs' incremental
    // early-out session-wide
    withLimitScanAllPartitions(rows.sparkSession) {
      val got = rows.take(probe + 1)
      if (got.length <= probe) { logPath(got.length.toString, local = true); Some(got) }
      else if (probe == cap) { logPath(s">$cap", local = false); None }
      else {
        // probe overflowed but the gate is larger: decide with a count
        // (drivers ship 8 bytes, not rows), collect only if proven under
        val n = rows.limit(cap + 1).count()
        if (n <= cap) { logPath(n.toString, local = true); Some(rows.take(cap)) }
        else { logPath(s">$cap", local = false); None }
      }
    }
  }

  /** Run `body` with `spark.sql.limit.initialNumPartitions` raised so a
    * LIMIT's first job scans every partition (vs the default 1 +
    * 4×-growing rescans), restoring the caller's setting after. */
  private def withLimitScanAllPartitions[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.limit.initialNumPartitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1000")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Dense first-seen index over node ids of any type — the local
    * kernels' array coordinates. */
  private[graft] final class NodeIndex {
    private val idx = new java.util.HashMap[Any, Integer]()
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Any]

    /** The node's index, assigning the next one on first sight. */
    def id(v: Any): Int = {
      val got = idx.get(v)
      if (got != null) got.intValue()
      else { idx.put(v, ids.size); ids += v; ids.size - 1 }
    }

    /** The node's index, or -1 when it was never indexed. */
    def find(v: Any): Int = {
      val got = idx.get(v)
      if (got == null) -1 else got.intValue()
    }

    def size: Int = ids.size
    def node(i: Int): Any = ids(i)

    /** Index arrays of the first two columns of edge rows, indexing in
      * row order (src, then dst, per row). */
    def endpoints(es: Array[Row]): (Array[Int], Array[Int]) = {
      val src = new Array[Int](es.length)
      val dst = new Array[Int](es.length)
      var k = 0
      while (k < es.length) { src(k) = id(es(k).get(0)); dst(k) = id(es(k).get(1)); k += 1 }
      (src, dst)
    }

    /** Canonical undirected edge set of (a, b) rows: self-loops dropped,
      * each pair once as (lo, hi) index arrays. */
    def undirected(es: Array[Row]): (Array[Int], Array[Int]) = {
      val (xs, ys) = endpoints(es)
      val seen = new java.util.HashSet[Long]()
      var m = 0
      var j = 0
      while (j < xs.length) {
        val lo = math.min(xs(j), ys(j)); val hi = math.max(xs(j), ys(j))
        if (lo != hi && seen.add(lo.toLong << 32 | hi)) { xs(m) = lo; ys(m) = hi; m += 1 }
        j += 1
      }
      (java.util.Arrays.copyOf(xs, m), java.util.Arrays.copyOf(ys, m))
    }
  }
}
