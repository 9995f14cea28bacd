package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a materialised result.
  *
  * Every cell is rendered canonically, columns are taken in name order,
  * the row strings are sorted, and the sorted list is hashed. The same
  * rendering is implemented in `expected.py`, which fingerprints the DuckDB
  * oracle's answer, so the two sides must stay in step:
  *
  *  - null: `\N`; booleans: `true` / `false`;
  *  - every number (integral, floating or decimal): its exact value rounded
  *    half-even to [[Digits]] significant digits, trailing zeros stripped,
  *    in plain notation (`0` for any zero); NaN and infinities by name;
  *  - dates: ISO `yyyy-mm-dd`; timestamps: epoch microseconds (UTC);
  *  - arrays `[a,b]`, structs `(a,b)`, maps `{k:v,...}` sorted by key;
  *  - binary: lowercase hex; anything else: its string form. */
object Fingerprint {
  val Digits = 12
  private val Ctx = new MathContext(Digits, RoundingMode.HALF_EVEN)

  def number(bd: JBigDecimal): String =
    if (bd.signum == 0) "0" else bd.round(Ctx).stripTrailingZeros.toPlainString

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
      else number(new JBigDecimal(d))
    case f: Float => cell(f.toDouble)
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case bd: JBigDecimal => number(bd)
    case bd: BigDecimal => number(bd.bigDecimal)
    case bi: BigInt => number(new JBigDecimal(bi.bigInteger))
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) -> cell(x) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** `rows:sha256-prefix` over the canonical rows, columns by name. */
  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${rows.size}:" + md.digest().take(12).map(x => f"${x & 0xff}%02x").mkString
  }
}
