package perfbench

import org.apache.spark.sql.DataFrame

/** Order-sensitive content digest of a query result, defined so that
  * `checks.py` computes the same value from a DuckDB result of the
  * oracle SQL: columns in name order, every value rendered by
  * [[canon]], rows joined in result order, then SHA-256.
  */
object Digest {

  /** Canonical text of one value. Numbers compare by value, not by
    * type: an integral double prints as the integer, any other double
    * as the hex of its IEEE bits (exact equality, which is what the
    * oracle check demands).
    */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal =>
      val s = n.stripTrailingZeros
      if (s.scale <= 0) s.toBigInteger.toString else num(n.doubleValue)
    case s: String => s
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  /** (row count, hex digest) of a collected result. */
  def of(df: DataFrame): (Long, String) = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    put(order.map(names(_)).mkString(",") + "\n")
    val rows = df.collect()
    rows.foreach(r => put(order.map(i => canon(r.get(i))).mkString("\u001f") + "\n"))
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
