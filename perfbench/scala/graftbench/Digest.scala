package graftbench

import org.apache.spark.sql.Row

/** Order-independent digest of a result set. Each row becomes a canonical
  * string, the strings are sorted, and the sorted list is hashed.
  * record_expected.py applies the same rules to DuckDB results, so a
  * digest recorded from the DuckDB replay can be compared with the
  * digest of a Spark result:
  *  - every number prints as an integer when it is integral (|v| < 1e15),
  *    otherwise rounded to 10 significant digits, half-even, from its
  *    exact binary value, with trailing zeros stripped;
  *  - null prints as \N, booleans as true/false, dates as ISO days,
  *    arrays as [a,b], structs as {a,b}, binary as hex. */
object Digest {
  private val mc = new java.math.MathContext(10, java.math.RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros().toPlainString

  def value(v: Any): String = v match {
    case null => "\\N"
    case s: String => s
    case b: Boolean => b.toString
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: java.time.LocalDate => d.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.time.Instant => t.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case other => other.toString
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("\u0001")

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(row).sorted.foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Minimal JSON writer for the report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
