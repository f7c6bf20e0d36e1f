package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Concurrent callers on one shared session. Checkpoints pinned by a
  * query belong to the invocation that built them, so another thread
  * re-invoking the same query must not free blocks a live result still
  * reads, and graph loops must not leak their conf into the shared
  * session. Every output is checked against its golden hash.
  */
class ConcurrencySpec extends SparkSpecBase {
  import GoldenSpec.golden

  test("a second thread's build of the same query leaves the first " +
    "thread's result readable") {
    val a = Executors.newSingleThreadExecutor()
    val b = Executors.newSingleThreadExecutor()
    try {
      // q_collocation pins a lazy checkpoint of its bigram counts per
      // invocation, so the second build must not free the first's blocks
      val id = "q_collocation"
      val dfA = on(a)(SparkEntry.queries(id)(spark, sf))
      on(b)(SparkEntry.queries(id)(spark, sf))
      assert(on(a)(Golden.hash(dfA)) == golden(id))
    } finally {
      a.shutdown()
      b.shutdown()
    }
  }

  test("four threads running a mixed batch all match their golden hashes") {
    // memo consumers (search, PMI, contamination), a convergence loop over
    // a memoized relation (dedup clusters), a fixed-round loop and two
    // convergence loops on cloned child sessions
    val ids = Seq("q_search_wand", "q_search_bm25", "q_cooccur_pmi",
      "q_dedup_cluster", "q_contamination", "q_graph_hits",
      "q_hits_converge", "q_pagerank_converge")
    // memory-sink names are unique per session: one thread streams
    val orders = (0 until 4).map { c =>
      new scala.util.Random(c).shuffle(
        if (c == 0) ids :+ "s_stream_tumbling" else ids)
    }
    val results = new ConcurrentLinkedQueue[(Int, String, String)]()
    val go = new CountDownLatch(1)
    val threads = orders.zipWithIndex.map { case (order, c) =>
      new Thread(() => {
        go.await()
        order.foreach { id =>
          val got =
            try Golden.hash(SparkEntry.queries(id)(spark, sf))
            catch { case NonFatal(e) => s"threw $e" }
          results.add((c, id, got))
        }
      }, s"concurrency-spec-$c")
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    val all = results.asScala.toSeq
    assert(all.size == orders.map(_.size).sum)
    val bad = all.filter { case (_, id, got) => got != golden(id) }
    assert(bad.isEmpty, bad.map { case (c, id, got) =>
      s"thread $c $id: $got" }.mkString("; "))
  }

  test("graph loops leave the caller's conf alone") {
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) == "true")
    val id = "q_hits_converge"
    val seen = new ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => while (!done.get) {
      seen.add(spark.conf.get(aqe))
      Thread.sleep(1)
    }, "concurrency-spec-poller")
    poller.start()
    val got = try Golden.hash(SparkEntry.queries(id)(spark, sf))
      finally { done.set(true); poller.join() }
    assert(got == golden(id))
    val off = seen.asScala.count(_ == "false")
    assert(seen.size > 0 && off == 0,
      s"the shared session read $aqe=false in $off of ${seen.size} " +
        s"polls during $id")

    // why the layouts are checkpointed with AQE off: under AQE the
    // checkpoint forgets its partitioning, and with it the caller
    // re-shuffles the layout at every consumer
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_custkey").as("c"), col("o_orderkey").as("o"))
    def layout(kvs: (String, String)*) = Tables.scoped(spark, kvs: _*) {
      in => Tables.localCheckpoint(in(base).repartition(3, col("c")))
    }
    def partitioning(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collectFirst {
        case r: LogicalRDD => r.outputPartitioning
      }.get
    partitioning(layout(aqe -> "false")) match {
      case HashPartitioning(Seq(k: Attribute), 3) => assert(k.name == "c")
      case p => fail(s"AQE-off layout reports $p")
    }
    assert(partitioning(layout()).isInstanceOf[UnknownPartitioning])
    val grouped = layout(aqe -> "false").groupBy("c").count()
      .queryExecution.executedPlan.toString
    assert(!grouped.contains("Exchange"),
      s"a rebound layout was re-shuffled by its key:\n$grouped")
    assert(spark.conf.get(aqe) == "true")
  }
}
