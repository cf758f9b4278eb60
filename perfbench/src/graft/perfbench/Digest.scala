package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result set, by the same rules as
  * `perfbench/benchlib.py`: columns in name order, each value rendered
  * canonically, each row hashed with SHA-256, the first 8 bytes summed
  * mod 2^64. A DuckDB oracle result and a Spark result with the same rows
  * give the same digest, in any row order.
  */
object Digest {
  private val maxExact = 9.007199254740992e15

  def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) 'T' else 'F')
    case x: Byte => sb.append('i').append(x.toLong)
    case x: Short => sb.append('i').append(x.toLong)
    case x: Int => sb.append('i').append(x.toLong)
    case x: Long => sb.append('i').append(x)
    case x: Float => canonDouble(x.toDouble, sb)
    case x: Double => canonDouble(x, sb)
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros()
      if (s.scale <= 0) sb.append('i').append(s.toBigIntegerExact.toString)
      else sb.append('m').append(s.toPlainString)
    case d: scala.math.BigDecimal => canon(d.bigDecimal, sb)
    case s: String =>
      sb.append('s').append(s.codePointCount(0, s.length)).append(':')
        .append(s)
    case b: Array[Byte] =>
      sb.append('b')
      b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append('D').append(d.toString)
    case t: java.sql.Timestamp => canon(t.toInstant, sb)
    case t: java.time.Instant =>
      sb.append('t').append(
        Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
          (t.getNano / 1000).toLong))
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) {
        if (i > 0) sb.append(',')
        canon(r.get(i), sb)
        i += 1
      }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      sb.append('(')
      var first = true
      m.values.foreach { x =>
        if (!first) sb.append(',')
        canon(x, sb)
        first = false
      }
      sb.append(')')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x =>
        if (!first) sb.append(',')
        canon(x, sb)
        first = false
      }
      sb.append(']')
    case other =>
      throw new IllegalArgumentException(
        s"no canonical form for ${other.getClass.getName}")
  }

  private def canonDouble(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("nan")
    else if (d.isInfinite) sb.append(if (d > 0) "inf" else "-inf")
    else if (d == Math.floor(d) && Math.abs(d) < maxExact)
      sb.append('i').append(d.toLong)
    else
      sb.append('d').append(
        f"${java.lang.Double.doubleToRawLongBits(d)}%016x")

  def rowHash(values: Seq[Any]): Long = {
    val sb = new java.lang.StringBuilder
    var first = true
    values.foreach { v =>
      if (!first) sb.append('|')
      canon(v, sb)
      first = false
    }
    val h = MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** Digest of collected rows whose columns are `names`. */
  def ofRows(names: Seq[String], rows: Array[Row]): String = {
    val order = names.indices.sortBy(names(_)).toArray
    var sum = 0L
    rows.foreach { r => sum += rowHash(order.toSeq.map(r.get)) }
    f"${rows.length}:$sum%016x"
  }

  /** Collect `df` (consuming every output row) and digest it. */
  def of(df: DataFrame): String = ofRows(df.columns.toSeq, df.collect())
}
