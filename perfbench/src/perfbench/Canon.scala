package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** `graft.Golden.hash` over rows that are already collected, so an op's
  * output is hashed without running its plan a second time. The rendering
  * copies Golden.canonicalize rule for rule; `RefGen` checks the two agree
  * on every benchmarked id before it writes a reference hash. */
object Canon {

  def hash(rows: Array[Row], columns: Array[String]): String = {
    val perm = columns.sorted.map(columns.indexOf(_))
    val text = rows.map { row =>
      perm.map(i => render(row.get(i))).mkString("\u0001")
    }.mkString("\n")
    MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case a: Seq[_] => a.mkString("[", ",", "]")
    case a: Array[_] => a.mkString("[", ",", "]")
    case t: java.sql.Timestamp => utc(t)
    case other => other.toString
  }

  private val secondFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def utc(t: java.sql.Timestamp): String = {
    val ldt = t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
    var frac = "%09d".format(ldt.getNano)
    while (frac.length > 1 && frac.endsWith("0")) frac = frac.dropRight(1)
    s"${ldt.format(secondFmt)}.$frac"
  }
}
