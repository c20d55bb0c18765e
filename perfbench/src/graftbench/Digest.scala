package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result, canonicalized like the
  * project's oracle check: columns by name, doubles rounded to 6 places,
  * rows sorted. */
object Digest {
  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else {
      val r = new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).stripTrailingZeros
      if (r.signum == 0) "0" else r.toPlainString
    }

  private def canon(v: Any): String = v match {
    case null => "None"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(df: DataFrame): String = {
    val names = df.columns.toSeq
    val order = names.indices.sortBy(names)
    val rows = df.collect().map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names).mkString(",").getBytes("UTF-8"))
    rows.foreach { r => md.update("\n".getBytes("UTF-8")); md.update(r.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString + ":" + rows.length
  }
}
