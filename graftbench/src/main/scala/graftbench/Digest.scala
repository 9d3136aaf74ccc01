package graftbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: columns sorted by name,
  * rows sorted by their rendered form, doubles rendered to 12
  * significant digits so a last-bit difference in a parallel sum does
  * not count as a wrong result.
  */
object Digest {

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN => "NaN"
    case d: Double => if (d == 0) "0" else "%.12g".format(d)
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(columns)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
