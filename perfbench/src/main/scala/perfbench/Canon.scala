package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result, canonicalised the way the
  * repository's oracle compare does it (columns sorted by name, floats
  * rounded to 6 decimals, rows sorted). `perfbench/oracle.py` computes the
  * identical digest over DuckDB's result of the query's oracle SQL; the two
  * must agree value by value, so both sides follow the same rules:
  *
  *  - null → `\N`; booleans → `true`/`false`; integers → decimal digits;
  *  - floats and decimals → the exact value rounded half-even to 6 places
  *    (`-0.000000` reads `0.000000`), `nan`, `inf`, `-inf`;
  *  - strings → `\` and the 0x1f separator escaped; binary → `b` + hex;
  *  - timestamps → UTC `yyyy-MM-dd HH:mm:ss.SSSSSS`; dates → ISO;
  *  - arrays → `[a,b]`; structs → `{a,b}` in field order;
  *  - a row is its values joined by 0x1f; the digest is the sha256 of the
  *    sorted column names, then the sorted per-row sha256 hex strings.
  */
object Canon {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def num(d: JBigDecimal): String = {
    val s = d.setScale(6, RoundingMode.HALF_EVEN).toPlainString
    if (s == "-0.000000") "0.000000" else s
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else num(new JBigDecimal(d))

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\u001f", "\\x1f")

  def value(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "\\N"
    case (b: Boolean, _) => if (b) "true" else "false"
    case (f: Float, _) => dbl(f.toDouble)
    case (d: Double, _) => dbl(d)
    case (d: java.math.BigDecimal, _) => num(d)
    case (d: scala.math.BigDecimal, _) => num(d.bigDecimal)
    case (n: Byte, _) => n.toString
    case (n: Short, _) => n.toString
    case (n: Int, _) => n.toString
    case (n: Long, _) => n.toString
    case (s: String, _) => esc(s)
    case (b: Array[Byte], _) => "b" + hex(b)
    case (ts: java.sql.Timestamp, _) =>
      LocalDateTime.ofInstant(ts.toInstant, ZoneOffset.UTC).format(tsFmt)
    case (i: java.time.Instant, _) => LocalDateTime.ofInstant(i, ZoneOffset.UTC).format(tsFmt)
    case (l: LocalDateTime, _) => l.format(tsFmt)
    case (d: java.sql.Date, _) => d.toLocalDate.toString
    case (d: java.time.LocalDate, _) => d.toString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(value(_, et)).mkString("[", ",", "]")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => value(r.get(i), st.fields(i).dataType)).mkString("{", ",", "}")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => value(k, kt) + ":" + value(x, vt) }.sorted.mkString("{", ",", "}")
    case (other, _) => esc(other.toString)
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = hexDigits((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def sha(md: MessageDigest, s: String): String = { md.reset(); hex(md.digest(s.getBytes(UTF_8))) }

  /** Digest plus row count of a collected result. */
  def digest(schema: StructType, rows: Array[Row]): (String, Long) = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val md = MessageDigest.getInstance("SHA-256")
    val rowHashes = rows.map { r =>
      sha(md, order.map(i => value(r.get(i), schema.fields(i).dataType)).mkString("\u001f"))
    }.sorted
    md.reset()
    md.update(order.map(i => schema.fields(i).name).mkString("\u001f").getBytes(UTF_8))
    rowHashes.foreach(h => md.update(h.getBytes(UTF_8)))
    (hex(md.digest()), rows.length.toLong)
  }
}
