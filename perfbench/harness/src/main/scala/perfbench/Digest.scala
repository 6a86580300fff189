package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Digest of a collected result: the row count and the sum, mod 2^64, of
  * one SHA-256-derived 64-bit hash per row. Every column is rendered, so a
  * change to any output value shows; the sum makes the digest independent
  * of row order (the checks compare contents, not the final sort).
  *
  * Values are rendered by type, not by `toString`: doubles and floats by
  * their bit patterns (so -0.0 and +0.0 differ), timestamps as epoch
  * micros, maps with their entries sorted. `采集时间` (scrape time, the
  * wall clock at extraction) is left out wherever it appears.
  */
object Digest {
  val Excluded: Set[String] = Set("采集时间")

  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val keep = columns.indices.filterNot(i => Excluded(columns(i))).toArray
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r, keep) }
    f"$n:$sum%016x"
  }

  def of(columns: Seq[String], rows: Array[Row]): String = of(columns, rows.toSeq)

  private def rowHash(r: Row, keep: Array[Int]): Long = {
    val sb = new java.lang.StringBuilder
    keep.foreach { i => render(r.get(i), sb); sb.append('\u0001') }
    val d = MessageDigest.getInstance("SHA-256").digest(sb.toString.getBytes(UTF_8))
    ByteBuffer.wrap(d).getLong
  }

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("N")
    case d: Double => sb.append("d").append(java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))
    case f: Float => sb.append("f").append(Integer.toHexString(java.lang.Float.floatToRawIntBits(f)))
    case s: String => sb.append("s").append(s.length).append(':').append(s)
    case b: java.math.BigDecimal => sb.append("m").append(b.toString)
    case b: scala.math.BigDecimal => sb.append("m").append(b.bigDecimal.toString)
    case t: java.sql.Timestamp =>
      sb.append("t").append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => sb.append("t").append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => sb.append("D").append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append("D").append(d.toString)
    case b: Array[Byte] => sb.append("b"); b.foreach(x => sb.append(f"$x%02x"))
    case r: Row => sb.append("("); (0 until r.length).foreach { i => render(r.get(i), sb); sb.append(',') }; sb.append(")")
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; render(k, e); e.append("->"); render(x, e); e.toString }
      sb.append("{"); entries.sorted.foreach(e => sb.append(e).append(',')); sb.append("}")
    case s: scala.collection.Seq[_] => sb.append("["); s.foreach { x => render(x, sb); sb.append(',') }; sb.append("]")
    case other => sb.append(other.getClass.getSimpleName).append(':').append(other.toString)
  }
}
