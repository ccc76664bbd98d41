package graft.perfbench

import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result, computed the same way on the
  * DuckDB side by `oracle.py`: columns sorted by name, every number
  * compared as the bits of its double value, timestamps as epoch µs, rows
  * sorted. Equal digests mean the same multiset of rows. */
object Canon {
  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case n: java.lang.Number => num(n.doubleValue)
    case s: String => "s" + s
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case i: Instant => "t" + micros(i)
    case l: LocalDateTime => "t" + micros(l.toInstant(ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: LocalDate => "D" + d.toEpochDay
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case a: scala.collection.Seq[_] => a.map(value).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  def num(d: Double): String =
    if (d.isNaN) "nNaN"
    else "n" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  def digest(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    sha256((order.map(columns).mkString("\u0001") +: lines).mkString("\n"))
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}
