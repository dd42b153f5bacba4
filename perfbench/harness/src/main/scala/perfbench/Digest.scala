package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: row count plus the sum,
  * modulo 2^64, of each row's SHA-256 prefix. A row renders its columns
  * in column-name order. Floating-point values are rounded to 7
  * significant digits (half-even on the exact binary value), so the last
  * bits of a parallel sum, which depend on merge order, cannot flip the
  * digest. `perfbench/digest.py` renders DuckDB rows the same way; keep
  * the two in step. */
object Digest {
  private val mc = new MathContext(7, RoundingMode.HALF_EVEN)

  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: JBigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case b: Boolean => if (b) "true" else "false"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else decimal(new JBigDecimal(d))

  private def decimal(b: JBigDecimal): String =
    if (b.signum == 0) "0"
    else {
      val r = b.round(mc).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
    x
  }

  /** (row count, digest) of a collected result with these columns. */
  def of(columns: Array[String], rows: Array[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach(r => sum += rowHash(order.map(i => render(r.get(i))).mkString("\u001f")))
    (rows.length.toLong, f"$sum%016x")
  }
}
