package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per Test/fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every real entry point (Verify/Bench/Smoke) installs the extension
    // surface; the shared test session mirrors them
    GraftExtensions.install(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Runs `body` on `ex`'s thread and waits for it; a failure rethrows
    * wrapped in an ExecutionException. */
  def on[T](ex: java.util.concurrent.ExecutorService)(body: => T): T =
    java.util.concurrent.CompletableFuture.supplyAsync(() => body, ex).get()
}
