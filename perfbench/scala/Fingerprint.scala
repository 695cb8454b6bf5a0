package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a query result: row count plus a
  * 64-bit sum of per-row SHA-256 prefixes over canonical rows.
  *
  * Canonicalization follows `tools/check_oracle.py`: columns sorted by
  * name, every integer width as one decimal integer, every float as its
  * float64 value (here its IEEE bit pattern, so the match is exact as in
  * the oracle compare). `oracle_xcheck.py` implements the same rules over
  * DuckDB rows, which is what lets an expected fingerprint be checked
  * against the query's oracle SQL. */
object Fingerprint {
  final case class Print(rows: Long, hash: String)

  private val Null = "\u0000N"

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def micros(i: java.time.Instant): String =
    (Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000).toString

  def canon(v: Any): String = v match {
    case null => Null
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case d: java.math.BigDecimal => d.toString
    case d: scala.math.BigDecimal => d.bigDecimal.toString
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def h64(s: String): Long =
    java.nio.ByteBuffer.wrap(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))).getLong

  /** Fingerprint of rows whose columns are named `columns` (any order). */
  def of(columns: Seq[String], rows: Iterator[Seq[Any]]): Print = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += h64(order.map(i => canon(r(i))).mkString("\u001f"))
    }
    val head = columns.sorted.mkString("\u001f")
    Print(n, f"${h64(s"$head|$n|${java.lang.Long.toHexString(sum)}")}%016x")
  }

  def of(df: DataFrame): Print = {
    import scala.jdk.CollectionConverters._
    of(df.columns.toSeq, df.toLocalIterator().asScala.map(_.toSeq))
  }
}
