package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, JsonOut, SparkEntry, Tables}

/** One benchmark run in one JVM: set up, warm, measure whole passes of a
  * workload's op mix for at least `--seconds`, check every output against
  * its reference hash, print one JSON record as the last stdout line.
  *
  * An op is `SparkEntry.queries(id)(spark, sf)` followed by `collect()` of
  * the full result. With `--trace 1` a SparkListener and a
  * StreamingQueryListener are registered and the op is split into its
  * build / plan / execute calls; without it nothing extra runs. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1,
      seconds: Double = 10, trace: Boolean = false, sf: String = "",
      hashes: String = "", localDir: String = "",
      refgen: String = "")

  /** One executed op. Times are nanoTime stamps / durations. */
  final case class OpRec(id: String, startNs: Long, endNs: Long,
      buildNs: Long, planNs: Long, execNs: Long, error: Option[String],
      mismatch: Boolean, newCached: Int, newCkpt: Int) {
    def ok: Boolean = error.isEmpty && !mismatch
    def latencyS: Double = (endNs - startNs) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList, Opts())
    if (o.refgen.nonEmpty) RefGen.run(o) else run(o)
  }

  private def parse(a: List[String], o: Opts): Opts = a match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--sf" :: v :: t => parse(t, o.copy(sf = v))
    case "--hashes" :: v :: t => parse(t, o.copy(hashes = v))
    case "--local-dir" :: v :: t => parse(t, o.copy(localDir = v))
    case "--refgen" :: v :: t => parse(t, o.copy(refgen = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad args: $other")
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Set-ups per run; `setup_s` reports their median. */
  val Setups = 3

  /** Progress on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $msg")

  /** The session `graft.Bench` benches: local[cores], one shuffle
    * partition per core, size-based AQE coalescing, UTC, no UI, the
    * engine's Catalyst extensions. */
  def startSession(localDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark =
      (if (localDir.nonEmpty) b.config("spark.local.dir", localDir) else b)
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
    spark
  }

  /** Footer read + count of every table, concurrently, so cold parquet
    * metadata is set-up cost rather than the first timed op's. */
  def readFooters(spark: SparkSession, sf: String): Unit = {
    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings", "events").map { t =>
      new Thread(() => {
        if (t == "events") Tables.events(spark, sf).count()
        else Tables.t(spark, sf, t).count()
        ()
      })
    }
    counts.foreach(_.start())
    counts.foreach(_.join())
  }

  def errorKey(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: org.apache.spark.SparkThrowable
        if s.getCondition != null => s }
    val cond = root.map(r => s"[${r.getCondition}]").getOrElse("")
    s"${t.getClass.getName}$cond"
  }

  /** Run one op; hashing happens after the end stamp. */
  def runOp(spark: SparkSession, sf: String, id: String, trace: Boolean,
      expected: Map[String, String]): OpRec = {
    val sc = spark.sparkContext
    val before = if (trace) sc.getPersistentRDDs.keySet else Set.empty[Int]
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try {
      val df = SparkEntry.queries(id)(spark, sf)
      t1 = System.nanoTime()
      if (trace) df.queryExecution.executedPlan
      t2 = System.nanoTime()
      val rows = df.collect()
      val t3 = System.nanoTime()
      val (cached, ckpt) =
        if (!trace) (0, 0)
        else {
          val fresh = sc.getPersistentRDDs.filter { case (k, _) =>
            !before.contains(k) }.values
          val n = fresh.count(Bus.isLocalCheckpoint)
          (fresh.size - n, n)
        }
      val mismatch = !expected.get(id).contains(Canon.hash(rows, df.columns))
      OpRec(id, t0, t3, t1 - t0, t2 - t1, t3 - t2, None, mismatch, cached,
        ckpt)
    } catch {
      case NonFatal(e) =>
        OpRec(id, t0, System.nanoTime(), 0, 0, 0, Some(errorKey(e)),
          mismatch = false, 0, 0)
    }
  }

  /** Closed loop over whole passes: `clients` threads take the next op of
    * a shared sequence — pass p is the mix in a seed-fixed order. A pass
    * starts only before the deadline, so a run measures whole passes for at
    * least `seconds`. `busyEndNs` is when the first client ran out of work:
    * up to then every client was busy, which is the span throughput is
    * measured over. */
  final case class Window(recs: Seq[OpRec], startNs: Long, busyEndNs: Long,
      endNs: Long, passes: Int, clearNs: Long) {
    /** Ops completed per second while all clients were busy; an op that
      * straddles the end counts by the share of it inside. */
    def opsPerS: Double = {
      val span = math.max(1L, busyEndNs - startNs)
      recs.filter(_.ok).map { r =>
        val inside = math.min(r.endNs, busyEndNs) - math.max(r.startNs, startNs)
        math.max(0L, inside).toDouble / math.max(1L, r.endNs - r.startNs)
      }.sum / (span / 1e9)
    }
  }

  def loop(spark: SparkSession, sf: String, mix: Mix, seed: Long,
      firstPass: Int, maxPasses: Int, seconds: Double, trace: Boolean,
      expected: Map[String, String]): Window = {
    val n = mix.ids.size
    val orders = new ConcurrentHashMap[Int, IndexedSeq[String]]()
    def order(p: Int): IndexedSeq[String] = orders.computeIfAbsent(p,
      _ => new scala.util.Random(seed * 1000003L + p).shuffle(mix.ids).toIndexedSeq)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val allowed = new ConcurrentHashMap[Int, java.lang.Boolean]()
    def mayStart(p: Int): Boolean = p < maxPasses && allowed.computeIfAbsent(p,
      _ => p == 0 || System.nanoTime() < deadline)
    val next = new AtomicInteger(0)
    val recs = new ConcurrentLinkedQueue[OpRec]()
    val clearNs = new AtomicLong
    val firstIdle = new AtomicLong(Long.MaxValue)
    def client(): Unit = {
      var go = true
      while (go) {
        val i = next.getAndIncrement()
        val p = i / n
        if (!mayStart(p)) {
          firstIdle.accumulateAndGet(System.nanoTime(), math.min(_, _))
          go = false
        } else {
          if (i % n == 0 && mix.clearEachPass) {
            val c0 = System.nanoTime()
            Tables.clearCaches(spark)
            clearNs.addAndGet(System.nanoTime() - c0)
          }
          recs.add(runOp(spark, sf, order(firstPass + p)(i % n), trace,
            expected))
        }
      }
    }
    val threads = (0 until mix.clients).map { c =>
      val t = new Thread(() => client(), s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val all = recs.asScala.toSeq
    Window(all, start, firstIdle.get, System.nanoTime(),
      math.ceil(all.size.toDouble / n).toInt, clearNs.get)
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def run(o: Opts): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val mix = Mixes(o.workload, cores)
    val expected = RefGen.load(o.hashes)
    // Set-up, three times: session + extensions + table footers, the first
    // counted from JVM start. A warm workload then runs one untimed pass
    // (memo builds, codegen, JIT) on the last session.
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until Setups).foreach { rep =>
      val t0 = System.currentTimeMillis()
      if (spark != null) {
        Tables.clearCaches(spark)
        spark.stop()
      }
      spark = startSession(o.localDir)
      readFooters(spark, o.sf)
      setups += (System.currentTimeMillis() - (if (rep == 0) jvmStartMs else t0)) / 1e3
      log(s"set-up ${rep + 1} done")
    }
    val warm =
      if (mix.warm) Some(loop(spark, o.sf, mix, o.seed, -1, 1, 0,
        trace = false, expected))
      else None
    val warmS = warm.map(w => (w.endNs - w.startNs) / 1e9).getOrElse(0.0)
    log(f"warm pass took $warmS%.2f s")
    val sc = spark.sparkContext
    val sparkProbe = new SparkProbe
    val streamProbe = new StreamProbe
    if (o.trace) {
      sc.addSparkListener(sparkProbe)
      spark.streams.addListener(streamProbe)
    }
    val (tot0, io0, st0) = Host.cpuTimes()
    val w = loop(spark, o.sf, mix, o.seed, 0, Int.MaxValue, o.seconds,
      o.trace, expected)
    val (tot1, io1, st1) = Host.cpuTimes()
    log(s"measured ${w.recs.size} ops in ${w.passes} passes")
    if (o.trace) Bus.drain(sc)
    val sp = sparkProbe.snapshot()
    val st = streamProbe.snapshot()
    val pinned = sc.getPersistentRDDs.size
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    val ok = w.recs.filter(_.ok)
    val nOps = math.max(1, w.recs.size).toDouble
    val windowS = (w.endNs - w.startNs) / 1e9
    val opsPerS = w.opsPerS
    val lat = ok.map(_.latencyS)
    val failures = w.recs.filterNot(_.ok).groupBy(r =>
      r.error.getOrElse("hash_mismatch")).map { case (k, v) => k -> v.size }
    val failedIds = w.recs.filterNot(_.ok).groupBy(_.id).map { case (k, v) =>
      k -> v.size }
    val dCpu = math.max(1L, tot1 - tot0).toDouble
    def perOp(v: Double): Double = v / nOps
    val layers: Map[String, Double] =
      if (!o.trace) Map.empty
      else Map(
        "sparkentry.build_s" -> perOp(w.recs.map(_.buildNs).sum / 1e9),
        "planner.plan_s" -> perOp(w.recs.map(_.planNs).sum / 1e9),
        "spark.exec_s" -> perOp(w.recs.map(_.execNs).sum / 1e9),
        "spark.peak_exec_mem_mb" -> sparkProbe.peakExecMem.get / 1e6,
        "tables.clear_s" -> w.clearNs / 1e9 / math.max(1, w.passes),
        "tables.new_cached" -> perOp(w.recs.map(_.newCached).sum.toDouble),
        "tables.new_checkpoints" -> perOp(w.recs.map(_.newCkpt).sum.toDouble),
        "tables.pinned_rdds" -> pinned.toDouble,
        "tables.cached_mb" -> cachedMb,
        "harness.failed_ops" -> w.recs.count(!_.ok).toDouble,
        "harness.traced_ops_per_s" -> opsPerS) ++
        sp.map { case (k, v) =>
          s"spark.$k" -> (if (k == "failed_tasks") v else perOp(v)) } ++
        st.map { case (k, v) => s"streams.$k" -> perOp(v) }

    val conf = spark.conf.getAll.filter { case (k, _) =>
      !Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
        "spark.driver.host", "spark.executor.id", "spark.app.submitTime")(k)
    }
    val rec = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "cores" -> cores, "clients" -> mix.clients,
      "sf" -> o.sf, "spark_version" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "conf" -> conf,
      "setup_runs_s" -> setups.toSeq, "warm_s" -> warmS,
      "setup_s" -> (percentile(setups.toSeq, 0.5) + warmS),
      "warm_failed" -> warm.map(_.recs.count(!_.ok)).getOrElse(0),
      "attempted" -> w.recs.size, "failed" -> w.recs.count(!_.ok),
      "mismatched" -> w.recs.count(_.mismatch),
      "failures" -> failures, "failed_ids" -> failedIds,
      "passes" -> w.passes, "window_s" -> windowS,
      "busy_s" -> (w.busyEndNs - w.startNs) / 1e9,
      "ops_per_s" -> opsPerS,
      "latency_p50_s" -> percentile(lat, 0.5),
      "latency_p95_s" -> percentile(lat, 0.95),
      "peak_rss_mb" -> Host.peakRssMb(),
      "steal_pct" -> 100.0 * (st1 - st0) / dCpu,
      "iowait_pct" -> 100.0 * (io1 - io0) / dCpu,
      "per_op_median_s" -> ok.groupBy(_.id).map { case (k, v) =>
        k -> percentile(v.map(_.latencyS), 0.5) },
      "layers" -> layers)
    spark.stop()
    println(Json.render(rec))
  }
}

/** JSON rendering for the run record, with the engine's string escaper. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => JsonOut.str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)(Ordering.String)
        .map { case (k, x) => JsonOut.str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => JsonOut.str(other.toString)
  }
}
