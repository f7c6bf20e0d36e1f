package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool on the benched session ([[Session.local]]), for every query
  * when none is named:
  * `sbt "runMain graft.Dev <plan|time|prof> <sfDir> [query ...]"`.
  *  - plan: one run so AQE finalizes, then the formatted physical plan;
  *    a query that throws prints `ERROR: …` and the run moves on.
  *  - time: 3 timed count() runs, one line per query.
  *  - prof: a warm run, then a profiled one: total, task count and the
  *    number of classes the warm run compiled, one line per Spark job
  *    (ms, stages) and, for s_* ids, one per micro-batch (rows,
  *    durationMs), so loop and stream costs can be attributed instead of
  *    guessed.
  *    `compiles=` is the op's codegen footprint: classes already in
  *    Spark's JVM-wide generated-class cache are not compiled again, so
  *    over a list of ids each class counts once, for the first id that
  *    needs it. That holds while the list fits the cache cap the JVM's
  *    first [[GraftExtensions.install]] set; past it the count also holds
  *    evicted classes compiled again. A class compiled under a new class
  *    loader (each streaming query's executor-side loader) counts again.
  * Caches are not cleared between runs, so `time` and `prof` time only
  * the memo lookup for an op whose whole result is memoized
  * (q_dedup_cluster), once its first run is done.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Seq("plan", "time", "prof").contains(args(0)),
      "usage: graft.Dev <plan|time|prof> <sfDir> [query ...]")
    val (mode, sfDir) = (args(0), args(1))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    def query(name: String) = SparkEntry.queries(name)(spark, sfDir)
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      query(name).count()
      (System.nanoTime() - t0) / 1e9
    }
    mode match {
      case "plan" => names.foreach { name =>
        println(s"========== $name ==========")
        try {
          val df = query(name)
          // collect, not count: count() executes a separate plan, so only
          // an action on df itself finalizes the plan printed below
          df.collect()
          println(df.queryExecution.explainString(FormattedMode))
        } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
      case "time" => names.foreach { name =>
        val times = Seq.fill(3)(timed(name))
        println(f"$name%-24s ${times.map(t => f"$t%.2f").mkString("  ")}")
      }
      case "prof" =>
        val prof = new Profile
        spark.sparkContext.addSparkListener(prof.jobs)
        spark.streams.addListener(prof.batches)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
        names.foreach { name =>
          val c0 = compiles.getCount
          query(name).count()
          val warmCompiles = compiles.getCount - c0
          // listener events arrive asynchronously: let the warm run's
          // drain before the reset and the profiled run's before the print
          Thread.sleep(500)
          prof.reset()
          val total = timed(name)
          Thread.sleep(500)
          prof.print(name, total, warmCompiles)
        }
    }
    spark.stop()
  }

  /** Job and micro-batch records of one run. The listener-bus thread
    * appends while main prints and clears, so both buffers share a lock. */
  private final class Profile {
    private val starts = new ConcurrentHashMap[Int, (Long, Int)]()
    private val tasks = new AtomicInteger(0)
    private val jobLines = ArrayBuffer.empty[String]
    private val batchLines = ArrayBuffer.empty[String]

    val jobs: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (System.nanoTime(), e.stageInfos.size))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.addAndGet(e.stageInfo.numTasks)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach { case (t0, nStages) =>
          val ms = (System.nanoTime() - t0) / 1e6
          Profile.this.synchronized {
            jobLines += f"job=${e.jobId}%3d $ms%8.1f ms stages=$nStages"
          }
        }
    }

    val batches: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        Profile.this.synchronized {
          batchLines += s"batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}"
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def reset(): Unit = synchronized {
      jobLines.clear()
      batchLines.clear()
      tasks.set(0)
    }

    def print(name: String, total: Double, compiles: Long): Unit = synchronized {
      println(f"$name total=$total%.2f s tasks=${tasks.get()} compiles=$compiles")
      jobLines.foreach(l => println(s"  $l"))
      if (name.startsWith("s_")) batchLines.foreach(l => println(s"  $l"))
    }
  }
}
