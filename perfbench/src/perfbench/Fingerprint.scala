package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result: every row rendered
  * canonically, the renderings sorted, then hashed. Floating-point
  * values are rounded to 6 significant digits, so a sum that a different
  * partitioning adds up in another order still matches. */
object Fingerprint {
  def render(v: Any): String = v match {
    case null => "~"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => render(b.bigDecimal)
    case bytes: Array[Byte] => bytes.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => render(k) + ":" + render(x) }.toSeq.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.iterator.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toString

  def sha(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  def of(rows: Array[Row]): String = sha(rows.iterator.map(render).toSeq.sorted.iterator)
}
