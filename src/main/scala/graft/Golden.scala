package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Canonical row hashing shared by GoldenGen (writer) and GoldenSpec
  * (regression guard): columns sorted by name (mirroring the driver's
  * compare), rows in query order, md5 over the rendered text.
  */
object Golden {

  def canonicalize(df: DataFrame): String = {
    val cols = df.columns.sorted
    val perm = cols.map(df.columns.indexOf(_))
    df.collect().map { row =>
      perm.map { i =>
        row.get(i) match {
          case null => "∅"
          case b: Array[Byte] => b.map("%02x".format(_)).mkString
          case a: Seq[_] => a.mkString("[", ",", "]")
          case a: Array[_] => a.mkString("[", ",", "]")
          case t: java.sql.Timestamp => utcTimestampString(t)
          case v => v.toString
        }
      }.mkString("")
    }.mkString("\n")
  }

  /** `java.sql.Timestamp.toString` renders the instant in the JVM
    * DEFAULT timezone, so golden hashes would depend on `user.timezone`
    * even though the engine's parquet output (epoch instants) does not —
    * measured: every timestamp-bearing golden row flips under
    * `-Duser.timezone=America/New_York`. Render the instant in UTC
    * explicitly, replicating Timestamp.toString's exact fractional rule
    * (trailing-zero-trimmed nanos, minimum one digit) so hashes are
    * unchanged on UTC-default JVMs and stable on every other. */
  private def utcTimestampString(t: java.sql.Timestamp): String = {
    val ldt = t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
    val base = ldt.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    var frac = "%09d".format(ldt.getNano)
    while (frac.length > 1 && frac.endsWith("0")) frac = frac.dropRight(1)
    s"$base.$frac"
  }

  def hash(df: DataFrame): String = {
    val md = MessageDigest.getInstance("MD5")
    md.digest(canonicalize(df).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Oracle rows only: streaming/unit rows are covered by their suites. */
  def goldenKeys: Seq[String] = SparkEntry.oracleSql.keys.toSeq.sorted

  val goldenPath = "src/test/resources/golden_sf0001.json"
}

/** Regenerate the golden hashes after an INTENTIONAL result change:
  * `sbt "runMain graft.GoldenGen"`, then review the diff. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val sf = "/root/testdata/sf0.001"
    val entries = Golden.goldenKeys.map { name =>
      s"""  "$name": "${Golden.hash(SparkEntry.queries(name)(spark, sf))}""""
    }
    val json = entries.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("src/test/resources"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(Golden.goldenPath), json)
    println(s"[golden] wrote ${Golden.goldenKeys.size} hashes")
    spark.stop()
  }
}
