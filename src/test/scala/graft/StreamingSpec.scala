package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** Structured Streaming semantics (SURVEY.md §2.12 s_* rows). */
class StreamingSpec extends SparkSpecBase {

  test("streaming tumbling window matches the batch formulation") {
    val streamed = streaming.Streams.sStreamTumbling(spark, sf)
      .select(col("win_start"), col("event_type"), col("n"))
    val batch = queries.Events.qEvtTumbling(spark, sf)
      .select(col("hr").as("win_start"), col("event_type"), col("n"))
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming dedup removes the duplicate second delivery") {
    val dedup = streaming.Streams.sStreamDedup(spark, sf)
    val total = dedup.agg(sum("n_unique")).head.getLong(0)
    val events = Tables.events(spark, sf).count()
    assert(total == events, "each event must survive exactly once")
  }

  test("late-data drop: late replays never exceed on-time counts") {
    val windows = streaming.Streams.sStreamLate(spark, sf)
    val counted = windows.agg(sum("n")).head.getLong(0)
    val events = Tables.events(spark, sf).count()
    assert(counted <= events)
    assert(windows.count() > 0)
  }

  test("stateful running totals equal batch per-user aggregates") {
    val state = streaming.Streams.sStreamStateful(spark, sf)
    val batch = Tables.events(spark, sf)
      .filter(col("user_id") < 8)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("value_sum"))
    val diff = state.except(batch).count() + batch.except(state).count()
    assert(diff == 0)
  }

  test("transformWithState running totals equal batch per-user aggregates") {
    val state = streaming.Streams.sStreamTws(spark, sf)
    val batch = Tables.events(spark, sf)
      .filter(col("user_id") < 8)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("value_sum"))
    val diff = state.except(batch).count() + batch.except(state).count()
    assert(diff == 0)
    // the session-level state store provider must be restored afterwards
    // (getOption surfaces the session default, so assert "not RocksDB")
    assert(!spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("stream-static join matches the batch join aggregates") {
    val streamed = streaming.Streams.sStreamJoin(spark, sf)
    val batch = Tables.events(spark, sf)
      .join(Tables.t(spark, sf, "customer"),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
    val diff = streamed.except(batch).count() + batch.except(streamed).count()
    assert(diff == 0)
  }

  test("stream-stream interval join matches the batch self-join") {
    val streamed = streaming.Streams.sStreamStreamJoin(spark, sf)
    val ev = Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = v.join(p,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
    val diff = streamed.except(batch).count() + batch.except(streamed).count()
    assert(diff == 0)
  }

  test("file-source stream drains the directory and matches batch totals") {
    val fs = streaming.Streams.sStreamFile(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
    val diff = fs.except(batch).count() + batch.except(fs).count()
    assert(diff == 0)
  }

  test("foreachBatch sink: no loss or duplication across batches") {
    val fe = streaming.Streams.sStreamForeach(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
    val joined = fe.join(batch.withColumnRenamed("n", "n_b")
      .withColumnRenamed("total", "total_b"), "event_type")
    assert(joined.filter(col("n") =!= col("n_b") ||
      col("total") =!= col("total_b")).count() == 0)
    assert(fe.agg(max("n_batches")).head.getLong(0) >= 2,
      "expected multiple micro-batches to land in the sink")
  }

  test("streaming session windows match batch sessionization counts") {
    val streamed = streaming.Streams.sStreamSession(spark, sf)
    // batch analog: 30-min-gap sessionization per user (q_evt_session)
    val batch = queries.Events.qEvtSession(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"))
    val diff = streamed.except(batch).count() + batch.except(streamed).count()
    assert(diff == 0)
  }

  test("streaming index maintenance converges to the batch index") {
    val streamed = streaming.Streams.sStreamIndex(spark, sf)
      .select("term", "ids", "df")
    val batch = queries.Search.qInvertedIndex(spark, sf)
      .select("term", "ids", "df")
    val diff = streamed.except(batch).count() + batch.except(streamed).count()
    assert(diff == 0,
      "post-last-batch streaming index differs from the batch build")
  }

  test("streaming sliding windows match the batch slide-bucket expansion") {
    // compare the money column too (round-8 advice): total is exact
    // integer cents, so the comparison covers the float-sum risk that
    // micro-batch state accumulation order creates
    val streamed = streaming.Streams.sStreamSliding(spark, sf)
      .select("win_start", "n", "total_cents")
    val batch = queries.Events.qEvtSliding(spark, sf)
      .select(col("win_start"), col("n"))
      .join(Tables.events(spark, sf)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)"))
          .as("total_cents"))
        .select(col("window.start").as("win_start"), col("total_cents")),
        Seq("win_start"))
    val diff = streamed.except(batch).count() + batch.except(streamed).count()
    assert(diff == 0, "sliding stream diverged from the batch expansion")
  }

  test("complete-mode totals carry state across the two feed batches") {
    val streamed = streaming.Streams.sStreamComplete(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("total_cents"))
    val diff = streamed.except(batch).count() + batch.except(streamed).count()
    assert(diff == 0,
      "complete-mode final table differs from the batch aggregate")
  }

  test("streams keep the conf set across start(): batches, state width, " +
    "state store") {
    import StreamingQueryListener._
    val names = new ConcurrentHashMap[UUID, String]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val ended = new LinkedBlockingQueue[UUID]()
    val listener = new StreamingQueryListener {
      // onQueryStarted runs before start() returns; the other events
      // arrive in order on the listener bus, so a query's progress is
      // all in once its termination event is
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        names.put(e.runId, e.name)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        ended.put(e.runId)
    }
    /** The executed micro-batches of the run of `name`. */
    def batches(name: String): Seq[StreamingQueryProgress] = {
      var run: UUID = null
      while (run == null) {
        val id = ended.poll(120, TimeUnit.SECONDS)
        assert(id != null, s"$name: no termination event")
        if (names.get(id) == name) run = id
      }
      progress.asScala.toSeq
        .filter(p => p.runId == run && p.durationMs.containsKey("addBatch"))
    }
    spark.streams.addListener(listener)
    try {
      val runs = Seq(
        "s_stream_dedup" -> (streaming.Streams.sStreamDedup _),
        "s_stream_stream_join" -> (streaming.Streams.sStreamStreamJoin _),
        "s_stream_outer_join" -> (streaming.Streams.sStreamOuterJoin _),
        "s_stream_tws" -> (streaming.Streams.sStreamTws _)
      ).map { case (name, op) => op(spark, sf); name -> batches(name) }.toMap
      // no-data batches off: each data feed is exactly one batch
      assert(runs("s_stream_dedup").size == 2)
      assert(runs("s_stream_stream_join").size == 1)
      assert(runs("s_stream_outer_join").size == 2)
      for ((name, ps) <- runs; p <- ps) {
        assert(p.stateOperators.nonEmpty, s"$name: no state operator")
        assert(p.stateOperators.forall(_.numShufflePartitions == 2),
          s"$name batch ${p.batchId}: " +
            p.stateOperators.map(_.numShufflePartitions).mkString(","))
      }
      assert(runs("s_stream_tws").nonEmpty && runs("s_stream_tws").forall(
        _.stateOperators.forall(_.customMetrics.keySet.asScala
          .exists(_.startsWith("rocksdb")))),
        "s_stream_tws did not run on the RocksDB state store")
    } finally spark.streams.removeListener(listener)
  }
}
