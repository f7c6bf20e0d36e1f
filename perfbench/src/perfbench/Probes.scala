package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine-wide counters fed by a SparkListener. Snapshots taken at the
  * edges of a window (after draining the bus) give that window's
  * totals. */
final class SparkProbe extends SparkListener {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input =
    new AtomicLong
  val peakExecMem = new AtomicLong
  /** task wall − run − deserialize, plus job submit → first task launch */
  val schedDelayMs = new AtomicLong

  private val jobOfStage = TrieMap.empty[Int, Int]
  private val jobSubmit = TrieMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobSubmit.put(e.jobId, e.time)
    e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSubmit.remove(e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    jobOfStage.remove(e.stageInfo.stageId)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    // the job's first launch: remove() hands its submit time to one task
    for (job <- jobOfStage.get(e.stageId); submitted <- jobSubmit.remove(job))
      schedDelayMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
      val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
      schedDelayMs.addAndGet(
        math.max(0L, wall - m.executorRunTime - m.executorDeserializeTime))
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "failed_tasks" -> failedTasks.get.toDouble,
    "task_run_s" -> runMs.get / 1e3,
    "task_cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3,
    "shuffle_write_mb" -> shuffleWrite.get / 1e6,
    "shuffle_read_mb" -> shuffleRead.get / 1e6,
    "spill_mb" -> spill.get / 1e6,
    "input_mb" -> input.get / 1e6,
    "sched_delay_s" -> schedDelayMs.get / 1e3)
}

/** Micro-batch counters from every streaming query's progress reports. */
final class StreamProbe extends StreamingQueryListener {
  val batches, inputRows = new AtomicLong
  val triggerMs, addBatchMs, walCommitMs, planningMs = new DoubleAdder

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    inputRows.addAndGet(p.numInputRows)
    def ms(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    triggerMs.add(ms("triggerExecution"))
    addBatchMs.add(ms("addBatch"))
    walCommitMs.add(ms("walCommit"))
    planningMs.add(ms("queryPlanning"))
  }

  def snapshot(): Map[String, Double] = Map(
    "batches" -> batches.get.toDouble,
    "trigger_s" -> triggerMs.sum / 1e3,
    "add_batch_s" -> addBatchMs.sum / 1e3,
    "wal_commit_s" -> walCommitMs.sum / 1e3,
    "query_planning_s" -> planningMs.sum / 1e3,
    "input_rows" -> inputRows.get.toDouble)
}

/** Host-side readings: CPU time split from /proc/stat and this process's
  * resident-set high-water mark. Missing files read as zeros. */
object Host {

  /** (total, iowait, steal) jiffies of the aggregate cpu line. */
  def cpuTimes(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      (f.take(8).sum, f(4), if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L, 0L) }

  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val hwm = try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
      hwm.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
}
