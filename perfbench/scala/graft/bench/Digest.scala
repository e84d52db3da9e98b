package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive, exact digest of a result — the JVM half of
  * `perfbench/benchlib/digest.py`, which computes the expected side from
  * data the engine never touched. Columns are sorted by name, rows form a
  * multiset, and every value carries a type tag (plus a length where it
  * has one), so a double compares by its IEEE bits and an integer never
  * equals a double.
  */
final case class Digest(rows: Long, sha: String)

object Digest {

  private val hex = java.util.HexFormat.of()

  def encode(v: Any): String = v match {
    case null => "n"
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => s"i$n"
    case n: Short => s"i$n"
    case n: Int => s"i$n"
    case n: Long => s"i$n"
    case f: Float => encode(f.toDouble)
    case d: Double =>
      if (d.isNaN) "fnan" else "f" + hex.toHexDigits(java.lang.Double.doubleToRawLongBits(d))
    case d: java.math.BigDecimal =>
      "d" + (if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    // code points, as Python's len() counts them
    case s: String => s"s${s.codePointCount(0, s.length)}:$s"
    case b: Array[Byte] => "x" + hex.formatHex(b)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      s"t${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case t: java.time.Instant => s"t${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime =>
      encode(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"D${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"D${d.toEpochDay}"
    case r: Row => r.toSeq.map(encode).mkString("{", "", "}")
    case s: scala.collection.Seq[_] => s.map(encode).mkString("[", "", "]")
    case other => throw new IllegalArgumentException(
      s"cannot encode ${other.getClass.getName}")
  }

  def of(columns: Seq[String], rows: Iterator[Seq[Any]]): Digest = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("SHA-256")
    val hashes = rows.map { r =>
      hex.formatHex(md.digest(order.map(i => encode(r(i))).mkString.getBytes(UTF_8)))
    }.toArray.sorted
    md.update((order.map(columns(_)).mkString("\t") + "\n").getBytes(UTF_8))
    hashes.foreach { h => md.update(h.getBytes(UTF_8)); md.update('\n'.toByte) }
    Digest(hashes.length.toLong, hex.formatHex(md.digest()))
  }

  def ofRows(columns: Seq[String], rows: Array[Row]): Digest =
    of(columns, rows.iterator.map(_.toSeq))

  def ofLines(lines: Iterator[String]): Digest = of(Seq("line"), lines.map(Seq(_)))
}
