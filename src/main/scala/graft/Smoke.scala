package graft

import org.apache.spark.sql.SparkSession

/** Mirrors the driver's t1 smoke gate: SparkEntry.entry must return >0 rows
  * on sf0.001. Run with `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    // not Session.local: like the t1 gate, no GraftExtensions, so entry is checked without engine setup
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
