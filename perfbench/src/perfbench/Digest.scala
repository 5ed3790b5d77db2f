package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-independent digest of a result, computed the same way by
  * `oracle.py` over DuckDB's answer: each row becomes its values in
  * column-name order, canonically printed and joined by U+001F; the
  * digest is the sum, mod 2^64, of the first 8 bytes of each row's
  * SHA-256. Integral numbers print as integers whatever their type;
  * other doubles print as the hex of their IEEE bits, so equal means
  * bit-equal, as the repo's oracle compare demands.
  */
object Digest {

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def rowHash(s: String): Long =
    java.nio.ByteBuffer.wrap(
      java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))).getLong

  /** (row count, digest) of rows whose columns are `columns`. */
  def of(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val sum = rows.foldLeft(0L) { (acc, r) =>
      acc + rowHash(order.map(i => value(r.get(i))).mkString("\u001f"))
    }
    (rows.size.toLong, java.lang.Long.toUnsignedString(sum, 16))
  }
}
