package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive content hash of a materialised result.
  *
  * Columns are taken in name order (the oracle checker compares the same
  * way), every row becomes one canonical string, and the result hash is the
  * sum modulo 2^64 of the rows' 64-bit hashes — a multiset hash, so row
  * order does not matter but every row and every duplicate does. Doubles are
  * written with 12 significant digits so that a last-bit difference from a
  * changed summation order is not a mismatch, while any real change is.
  */
object Canon {

  def hash(schema: StructType, rows: Iterator[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var acc = 0L
    val header = order.map(i => s"${schema(i).name}:${schema(i).dataType.simpleString}").mkString(",")
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder
      order.foreach { i => value(sb, r.get(i)); sb.append('\u0001') }
      acc += rowHash(sb.toString)
      n += 1
    }
    (n, f"${rowHash(header)}%016x${acc}%016x")
  }

  private def rowHash(s: String): Long = {
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  private def value(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("\u0000")
    case d: Double => double(sb, d)
    case f: Float => double(sb, f.toDouble)
    case b: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(b))
    case r: Row =>
      sb.append('{'); r.toSeq.foreach { x => value(sb, x); sb.append(',') }; sb.append('}')
    case m: scala.collection.Map[_, _] =>
      // map entry order is not part of a map's value
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; value(e, k); e.append('='); value(e, x); e.toString
      }.sorted
      sb.append('<'); parts.foreach(p => sb.append(p).append(',')); sb.append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => value(sb, x); sb.append(',') }; sb.append(']')
    case other => sb.append(other.toString)
  }

  private def double(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d.toString)
    else if (d == 0.0) sb.append("0")
    else sb.append(new java.math.BigDecimal(d).round(new java.math.MathContext(12))
      .stripTrailingZeros.toString)
}
