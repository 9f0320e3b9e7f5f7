package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query's rows: each row is rendered
  * to a canonical string, the strings are sorted, and the sorted list is
  * hashed. Two results with the same multiset of rows get the same
  * fingerprint whatever order the engine returned them in. */
object Fingerprint {
  def of(rows: Seq[Row]): String = ofLines(rows.map(render))

  def ofLines(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach { l => md.update(l.getBytes("UTF-8")); md.update(0x1e.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Canonical text of one value. Binary is hex (an array's default
    * toString is its identity hash); maps are sorted by key text; nulls
    * and nested rows are marked so no two shapes render alike. */
  def render(v: Any): String = v match {
    case null                => "∅"
    case r: Row              => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte]      => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_]      => s.map(render).mkString("[", ",", "]")
    case a: Array[_]         => a.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal       => d.bigDecimal.toPlainString
    case s: String           => "\"" + s + "\""
    case x                   => x.toString
  }
}
