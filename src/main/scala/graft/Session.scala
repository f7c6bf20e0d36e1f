package graft

import org.apache.spark.sql.SparkSession

/** The benched session: Bench, Verify, GoldenGen and Dev all run on it, so
  * timings, graded dumps, golden hashes and plan dumps share one config.
  * `SPARK_GRAFT_CPUS` (default 32) sets both the local core count and the
  * shuffle width. Smoke keeps its own plain session on purpose.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // size-based AQE coalescing: with parallelismFirst (the default)
      // AQE keeps tiny partitions to maximize parallelism, which at small
      // SFs turns every query into pure task-launch overhead; at cluster
      // scale size-based is the recommended setting too.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // timings don't care, but a non-UTC box must not make the benched
      // plans compute different values than the graded ones
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }
}
