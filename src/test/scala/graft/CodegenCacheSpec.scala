package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache is sized by [[GraftExtensions.install]]
  * before the JVM's first compile, so a working set larger than Spark's
  * default 100 entries runs again without recompiling. */
class CodegenCacheSpec extends SparkSpecBase {

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  // each inlined literal makes a distinct generated class
  private def round(): Unit =
    (1 to 150).foreach(k => spark.range(1).selectExpr(s"id + $k").collect())

  test("150 distinct projections run a second time without recompiling") {
    val first = compiles(round())
    assert(first >= 150, s"the first round compiled only $first classes")
    assert(compiles(round()) == 0)
  }

  test("install is idempotent: a second call compiles nothing and keeps " +
      "the cache") {
    round()
    assert(compiles(GraftExtensions.install(spark)) == 0)
    assert(compiles(round()) == 0)
  }
}
