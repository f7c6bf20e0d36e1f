package graft

import org.apache.spark.storage.StorageLevel

import graft.queries.SearchStats

/** Memo-cache lifecycle (round 11, verdict item #7; sweep SCOPED in
  * round 12 per the round-11 advice): the engine's memoized relations
  * key on (applicationId, sfDir) and persist() without unpersist —
  * fine in the driver's one-shot protocol, but a long-lived session
  * sweeping many sfDirs accumulates pinned relations.
  * [[Tables.clearCaches]] must release ALL of them, including the
  * loop-internal localCheckpoint RDDs that DataFrame.unpersist cannot
  * reach — whichever owner holds them: the session owner (memo builds,
  * direct calls that bypass SparkEntry) or an invocation owner on any
  * thread — plus the postings memo, the term dictionary built on it and
  * the corpus-scalar aux cache,
  * and must NOT touch anything the HOST application pinned
  * itself (a blanket sweep would permanently break a host-owned
  * localCheckpointed RDD: its blocks cannot be recomputed).
  */
class CacheLifecycleSpec extends SparkSpecBase {

  test("clearCaches releases engine pins across a two-SF sweep, " +
    "spares host-owned relations, and consumers rebuild") {
    val sc = spark.sparkContext
    // the HOST side of the shared session: its own persisted RDD and its
    // own localCheckpointed RDD (the unrecomputable case) — both must
    // survive the engine's cache sweep
    val hostRdd = sc.parallelize(1 to 100, 2).setName("host-owned")
    hostRdd.persist(StorageLevel.MEMORY_ONLY)
    val hostCkpt = sc.parallelize(1 to 50, 2).setName("host-ckpt")
    hostCkpt.localCheckpoint()
    assert(hostCkpt.count() == 50)
    // drive the cache-heavy families (tokens, shingles, minhash pairs,
    // cluster labels — each persists + localCheckpoints) at TWO sfDirs
    val sfA = "/root/testdata/sf0.001"
    val sfB = "/root/testdata/sf0.01"
    val preEngine = sc.getPersistentRDDs.keySet
    val expected = SparkEntry.queries("q_dedup_cluster")(spark, sfA).collect()
    SparkEntry.queries("q_dedup_cluster")(spark, sfB).collect()
    SparkEntry.queries("q_contamination")(spark, sfA).collect()
    def pinsOf(body: => Unit): collection.Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      body
      sc.getPersistentRDDs.keySet.diff(before)
    }
    // an invocation owner that is not the test thread's
    val worker = java.util.concurrent.Executors.newSingleThreadExecutor()
    val workerPins = try pinsOf(on(worker)(
      SparkEntry.queries("q_collocation")(spark, sfA).collect()))
    finally worker.shutdown()
    // a direct call bypassing SparkEntry pins into the session owner
    val directPins = pinsOf(SearchStats.qCollocation(spark, sfA).collect())
    assert(workerPins.nonEmpty && directPins.nonEmpty,
      "the second-thread and direct calls should have pinned checkpoints")
    // the postings memo, the term dictionary and the corpus scalars, at
    // both sfDirs
    val postA = Tables.postings(spark, sfA)
    val postRows = postA.orderBy("term", "doc_id").collect()
    Tables.postings(spark, sfB).count()
    val lexA = Tables.lexicon(spark, sfA)
    val lexRows = lexA.orderBy("term").collect()
    Tables.lexicon(spark, sfB).count()
    val statsA = Tables.corpusStats(spark, sfA)
    Tables.corpusStats(spark, sfB)
    assert(postA.storageLevel != StorageLevel.NONE)
    assert(lexA.storageLevel != StorageLevel.NONE)
    val enginePinned = sc.getPersistentRDDs.keySet.diff(preEngine)
    assert(enginePinned.nonEmpty, "the sweep should have pinned relations")
    Tables.clearCaches(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(enginePinned).isEmpty,
      s"engine pins survived clearCaches: " +
        sc.getPersistentRDDs.collect {
          case (id, r) if enginePinned(id) => r.name
        }.mkString(","))
    // host relations untouched — still registered AND still at their
    // storage level (unpersist would have reset it to NONE)
    assert(after.contains(hostRdd.id) && after.contains(hostCkpt.id),
      "clearCaches evicted host-owned RDDs")
    assert(hostRdd.getStorageLevel != StorageLevel.NONE)
    assert(hostCkpt.count() == 50,
      "host localCheckpoint blocks were destroyed by the engine sweep")
    // the postings and term dictionary buffers are released, and every
    // memo rebuilds equal
    assert(postA.storageLevel == StorageLevel.NONE,
      "clearCaches left the postings memo cached")
    val postA2 = Tables.postings(spark, sfA)
    assert(!(postA2 eq postA))
    assert(postA2.orderBy("term", "doc_id").collect().toSeq == postRows.toSeq,
      "post-clear postings rebuild diverged")
    assert(lexA.storageLevel == StorageLevel.NONE,
      "clearCaches left the term dictionary cached")
    val lexA2 = Tables.lexicon(spark, sfA)
    assert(!(lexA2 eq lexA))
    assert(lexA2.orderBy("term").collect().toSeq == lexRows.toSeq,
      "post-clear term dictionary rebuild diverged")
    val statsA2 = Tables.corpusStats(spark, sfA)
    assert(!(statsA2 eq statsA) && statsA2 == statsA,
      "corpus scalars were not re-derived equal after clearCaches")
    // consumers rebuild from parquet after the reset — same answer
    val rebuilt = SparkEntry.queries("q_dedup_cluster")(spark, sfA).collect()
    assert(rebuilt.toSeq == expected.toSeq,
      "post-clear rebuild diverged from the pre-clear answer")
    hostRdd.unpersist(true)
    hostCkpt.unpersist(true)
  }
}
