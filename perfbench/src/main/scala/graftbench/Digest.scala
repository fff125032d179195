package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive row digest of a result.
  *
  * A row renders as its values in column-name order, joined by U+001F.
  * Floating values round to a few significant digits first, because
  * the last bits of a parallel sum depend on the order partial results
  * merge in. Each row hashes to the first 8 bytes of its SHA-256; the
  * digest is the row count and the sum of the row hashes modulo 2^64,
  * so row order does not matter. `perfbench/drops.py` renders
  * integers, strings and nulls the same way for the expected
  * lake_ingest outputs. */
object Digest {
  private val DoubleDigits = new MathContext(9, RoundingMode.HALF_EVEN)
  private val FloatDigits = new MathContext(6, RoundingMode.HALF_EVEN)

  final case class Result(rows: Long, sum: Long) {
    override def toString: String = f"$rows:$sum%016x"
  }

  def of(df: DataFrame): Result = {
    val names = df.columns.toIndexedSeq
    val order = names.indices.sortBy(names(_))
    var n = 0L
    var sum = 0L
    df.toLocalIterator().forEachRemaining { r =>
      n += 1
      sum += rowHash(order.map(i => render(r.get(i))).mkString("\u001f"))
    }
    Result(n, sum)
  }

  def rowHash(canonical: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(canonical.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  private def decimal(d: JBigDecimal): String = {
    val s = d.stripTrailingZeros.toPlainString
    if (s == "-0") "0" else s
  }

  private def floating(d: Double, mc: MathContext): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else decimal(new JBigDecimal(d).round(mc))

  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => floating(d, DoubleDigits)
    case f: Float => floating(f.toDouble, FloatDigits)
    case d: JBigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }
}
