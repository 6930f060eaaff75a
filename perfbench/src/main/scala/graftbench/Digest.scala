package graftbench

import org.apache.spark.sql.{DataFrame, Row}

import java.math.MathContext
import java.security.MessageDigest

/** Order-insensitive digest of a query result: every row is rendered with
  * doubles rounded to 6 significant digits, the rendered rows are sorted,
  * and the column names plus the sorted rows are hashed. Results at the
  * benchmark's scales are small enough to collect.
  */
object Digest {
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new MathContext(6)).stripTrailingZeros.toPlainString

  def render(v: Any): String = v match {
    case null                    => "NULL"
    case d: Double               => num(d)
    case f: Float                => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte]          => "0x" + hex(MessageDigest.getInstance("MD5").digest(b))
    case r: Row                  => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x                       => x.toString
  }

  def of(df: DataFrame): String = {
    val rows = df.collect().map(r => r.toSeq.map(render).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.columns.mkString(",").getBytes("UTF-8"))
    rows.foreach { r => md.update('\n'.toByte); md.update(r.getBytes("UTF-8")) }
    s"${rows.length}:${hex(md.digest()).take(16)}"
  }
}
