package perfbench

import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets.UTF_8

/** Order-independent digest of a query result, computed identically by
  * `perfbench/digest.py` over DuckDB's rows: each row renders its columns
  * sorted by name into a canonical string, the string's MD5 prefix is read
  * as an unsigned 64-bit number, and the digest is the row count plus the
  * sum of those numbers mod 2^64. Numbers compare by value across types
  * (an integral double renders like an integer, any other double by its
  * IEEE bits), timestamps as epoch microseconds.
  */
object Digest {
  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val s = order.map { case (name, i) => s"$name=${render(r.get(i))}" }.mkString("\u0001")
      val h = md5.digest(s.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"${rows.length}%d:$sum%016x"
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == math.rint(d) && math.abs(d) < 1e15) s"i${d.toLong}"
    else s"f${java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))}"

  private def micros(epochSecond: Long, nano: Int): Long = epochSecond * 1000000L + nano / 1000

  def render(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => s"i$x"
    case x: Short => s"i$x"
    case x: Int => s"i$x"
    case x: Long => s"i$x"
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case s: String => s"s${s.getBytes(UTF_8).length}:$s"
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      s"t${micros(i.getEpochSecond, i.getNano)}"
    case t: java.sql.Timestamp =>
      s"t${micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)}"
    case d: java.sql.Date => s"d${d.toLocalDate}"
    case b: Array[Byte] => "b" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
    case other => sys.error(s"no canonical form for ${other.getClass.getName}")
  }
}
