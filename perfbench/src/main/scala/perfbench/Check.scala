package perfbench

import org.apache.spark.sql.Row

/** Answers compared as canonical text: one line per row, fields joined by
  * `|`, rows sorted, so row order never matters and every field must match
  * exactly. Queries cast money sums through DECIMAL, so the doubles they
  * return are exact and the references compute the same values. */
object Check {
  def field(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(field).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(field).mkString("(", ",", ")")
    case x => x.toString
  }

  def line(fields: Any*): String = fields.map(field).mkString("|")

  def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => r.toSeq.map(field).mkString("|")).sorted

  /** None when `actual` equals `expected`, else a short description. */
  def diff(expected: Seq[String], actual: Seq[String]): Option[String] = {
    val e = expected.sorted
    val a = actual.sorted
    if (e == a) None
    else {
      val missing = e.diff(a).take(2)
      val extra = a.diff(e).take(2)
      Some(s"expected ${e.size} rows, got ${a.size}; missing ${missing.mkString("; ")}; " +
        s"unexpected ${extra.mkString("; ")}")
    }
  }

  /** An exact decimal with `scale` places, as the DOUBLE it casts to. */
  def scaled(unscaled: BigInt, scale: Int): Double = BigDecimal(unscaled, scale).toDouble

  /** Parquet money doubles back to exact cents. */
  def toCents(d: Double): Long = math.round(d * 100)
}
