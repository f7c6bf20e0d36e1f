package graft

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** Properties of the duplicate-clustering operator (connected components
  * over verified minhash pairs): label correctness, not just the golden
  * hash — every invariant a dedup consumer relies on.
  */
class PipelineGraphSpec extends SparkSpecBase {

  private lazy val out = queries.PipelineGraph.qDedupCluster(spark, sf).cache()

  test("one row per sampled doc, keep iff doc is its cluster's minimum") {
    val sampled = Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0).select("doc_id").distinct().count()
    assert(out.count() == sampled)
    assert(out.filter(col("keep") =!= (col("doc_id") === col("cluster")))
      .count() == 0)
    // the component label is the reachable minimum, so cluster <= doc_id
    assert(out.filter(col("cluster") > col("doc_id")).count() == 0)
  }

  test("cluster sizes are consistent and keeps are one-per-cluster") {
    val sizes = out.groupBy("cluster").agg(
      count(lit(1)).as("n"), sum(when(col("keep"), 1).otherwise(0)).as("k"))
    assert(sizes.filter(col("k") =!= 1).count() == 0)
    assert(out.join(sizes, "cluster").filter(col("csize") =!= col("n"))
      .count() == 0)
  }

  test("label propagation converges on a deep chain (diameter >> one round)") {
    // The real near-dup graph only exercises shallow components; pin the
    // loop's convergence on the adversarial shape — a 12-node chain whose
    // diameter forces many two-hop rounds — plus an isolated node and a
    // separate triangle, all labeled with their component minimum.
    val s = spark
    import s.implicits._
    val chain = (1L to 11L).map(i => (i, i + 1)).toList
    val tri = List((20L, 21L), (21L, 22L), (20L, 22L))
    val edges = (chain ++ tri).toDF("d1", "d2")
    val nodes = ((1L to 12L).toList ++ List(15L) ++ (20L to 22L).toList)
      .toDF("doc_id")
    val got = queries.PipelineGraph.connectedComponents(nodes, edges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = ((1L to 12L).map(_ -> 1L) ++ Seq(15L -> 15L) ++
      (20L to 22L).map(_ -> 20L)).toArray
    assert(got.sameElements(want))
  }

  test("the cluster relation is memoized: both consumers share one instance") {
    // q_dedup_cluster and q_dedup_priority must scan the SAME persisted
    // labels — a second propagation loop is the regression this pins.
    val a = queries.PipelineGraph.dedupClusters(spark, sf)
    val b = queries.PipelineGraph.dedupClusters(spark, sf)
    assert(a eq b)
    // and the shared relation is actually persisted (storage-backed)
    assert(a.storageLevel.useMemory || a.storageLevel.useDisk)
  }

  test("priority keep rows take the WindowGroupLimit path") {
    val plan = queries.PipelineGraph.qDedupPriority(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("every verified near-dup edge lands inside one cluster") {
    val edges = queries.PipelinePlus.minhashPairs(spark, sf)
      .filter(col("est_jaccard") >= 0.875)
    val l1 = out.select(col("doc_id").as("d1"), col("cluster").as("c1"))
    val l2 = out.select(col("doc_id").as("d2"), col("cluster").as("c2"))
    assert(edges.join(l1, "d1").join(l2, "d2")
      .filter(col("c1") =!= col("c2")).count() == 0)
  }

  test("q_hits_converge builds its co-purchase edge list once") {
    // the loop's two layouts and its width are cut from one checkpointed
    // lineitem⋈orders edge list: exactly one SQL execution reads the
    // lineitem file per invocation
    val id = "q_hits_converge"
    val sc = spark.sparkContext
    SparkEntry.queries(id)(spark, sf).collect()
    TestBus.drain(sc)
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("lineitem.parquet") =>
          scans.incrementAndGet()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(id)(spark, sf).collect()
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(scans.get == 1,
      s"${scans.get} SQL executions scanned lineitem.parquet during $id")
  }
}
