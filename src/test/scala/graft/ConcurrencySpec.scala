package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Concurrent callers on one shared session. Checkpoints pinned by a
  * query belong to the invocation that built them, so another thread
  * re-invoking the same query must not free blocks a live result still
  * reads, and conf-toggling builds must not leak their settings into
  * each other. Every output is checked against its golden hash.
  */
class ConcurrencySpec extends SparkSpecBase {
  import GoldenSpec.golden

  test("a second thread's build of the same query leaves the first " +
    "thread's result readable") {
    val a = Executors.newSingleThreadExecutor()
    val b = Executors.newSingleThreadExecutor()
    try {
      val id = "q_search_wand"
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
    // a memoized relation (dedup clusters) and a fixed-round loop
    val ids = Seq("q_search_wand", "q_search_bm25", "q_cooccur_pmi",
      "q_dedup_cluster", "q_contamination", "q_graph_hits")
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
}
