package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery}
import graft.Tables

/** Structured Streaming rows (SURVEY.md §2.12 s_*): the same logical ops
  * as the batch events queries, run through readStream-equivalent
  * MemoryStream sources with watermarks and state.
  *
  * Each returns the materialized memory-sink table as a deterministic
  * batch DataFrame (feed order is fixed, windows are flushed by a
  * far-future sentinel event), so Verify can dump rows; semantics are
  * additionally unit-tested in StreamingSpec.
  */
object Streams {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  private val sentinelTs = Timestamp.valueOf("2030-01-01 00:00:00")

  // The whole s_* family feeds from the same immutable sorted array;
  // without memoization every operator (×3 bench runs each) re-pays the
  // parquet scan + driver collect + sort.
  //
  // HARNESS-ONLY collect: MemoryStream is the driver contract's feed (the
  // streaming rows must flow through an in-memory source/sink), so the
  // test table is materialized on the driver BY DESIGN. A production
  // deployment swaps this scaffold for readStream on Kafka/files — the
  // query plans downstream are identical and never collect.
  private val eventRows = Tables.memo { (spark, sfDir) =>
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().sortBy(_.event_id)
  }

  private def newStream(spark: SparkSession): MemoryStream[Ev] =
    MemoryStream[Ev](Encoders.product[Ev], spark)

  /** Fresh per-run checkpoint dir on tmpfs ([[graft.TmpDirs.createShm]]):
    * offset/commit logs and state deltas are per-micro-batch fsyncs —
    * measurably the fixed cost of these pipelines on a disk-backed
    * /tmp. Unique per query START (never reused), so a bench re-run can
    * never resume a previous run's state. */
  private def ckpt(): String = graft.TmpDirs.createShm("graft_ckpt_")

  /** Stateful streaming ops allocate one state store per shuffle
    * partition PER MICRO-BATCH; at harness scale 32 stores make the
    * MemoryStream pipelines scheduling-bound (9s vs 1s measured; round 6
    * re-measured 8 → 2 as a further win — state-store setup + task
    * launch dominates these single-box micro-batches, while each
    * partition's data is tiny). On a cluster this conf is a deploy-time
    * sizing decision; the harness value only has to keep the local
    * pipelines compute-bound. Every query starts with it. */
  private val StreamWidth = "spark.sql.shuffle.partitions" -> "2"

  /** No-data micro-batches OFF for queries whose OUTPUT never depends
    * on them (round 13, generalizing the round-12 s_stream_outer_join
    * batch collapse): an append-mode dedup/inner-join emits its rows in
    * the data batch itself — the automatic post-batch no-data cycle
    * only advances state eviction, which is output-invisible — so each
    * one skipped is a whole micro-batch cycle (state-store setup + WAL
    * commit) saved. NOT applied to the windowed-aggregation family
    * (tumbling/sliding/session/late): there the no-data batch IS the
    * emitter of watermark-closed windows. */
  private val NoDataBatchesOff =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** Starts `w` with a fresh checkpoint, [[StreamWidth]] and `kvs` set
    * on the session conf across `start()` only: `start()` copies the
    * conf into the query's own session, which keeps it for the whole
    * run, so other threads never see the keys once it returns. Queries
    * start on the caller's session, not a [[Tables.scoped]] clone: a
    * listener on the caller's session hears no progress from a query
    * started on a clone. Then runs `drain` and stops the query. */
  private def run(spark: SparkSession, w: DataStreamWriter[Row],
      kvs: (String, String)*)(drain: StreamingQuery => Unit): Unit = {
    val q = Tables.withConf(spark, (StreamWidth +: kvs): _*) {
      w.option("checkpointLocation", ckpt()).start()
    }
    try drain(q) finally q.stop()
  }

  /** Drains `q`, then adds each of `feeds` and drains again. */
  private def feed(feeds: Seq[() => Any])(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    feeds.foreach { f => f(); q.processAllAvailable() }
  }

  /** The memory-sink run: streams `df` into the memory table `name` in
    * output `mode` through the data queued before the start and each of
    * `feeds`, stops, and returns the table. */
  private def toMemory(spark: SparkSession, name: String, mode: String,
      kvs: (String, String)*)(df: DataFrame, feeds: (() => Any)*)
      : DataFrame = {
    run(spark, df.writeStream.format("memory").queryName(name)
      .outputMode(mode), kvs: _*)(feed(feeds))
    spark.table(name)
  }

  /** Tumbling 1h window + watermark, append mode. The sentinel advances
    * the watermark past every real window so append emits them all. */
  def sStreamTumbling(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = newStream(spark)
    // data + sentinel in ONE batch: the watermark advances at batch
    // END, and the (enabled-by-default) no-data follow-up batch then
    // emits every closed window — same append-mode output as a
    // separate sentinel feed, two fewer micro-batch cycles. Cross-
    // batch watermark progression stays exercised (batch → no-data
    // batch eviction); the multi-feed shapes live in s_stream_late /
    // s_stream_dedup where batch boundaries ARE the semantics. Queued
    // BEFORE start() (round 13, family-wide): data added after start()
    // races the first trigger, which can split the feed into two data
    // batches — queueing first pins exactly one.
    stream.addData(eventRows(spark, sfDir).toSeq :+
      Ev(-1L, sentinelTs, -1L, "sentinel", 0.0))
    toMemory(spark, "s_stream_tumbling", "append")(stream.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total")))
      .filter(col("event_type") =!= "sentinel")
      .orderBy("win_start", "event_type")
  }

  /** Streaming exact dedup on event_id: every event is fed twice; the
    * sink must contain each exactly once. dropDuplicatesWithinWatermark
    * (not plain dropDuplicates on a non-event-time key) so the state
    * store evicts keys older than the watermark instead of growing
    * unboundedly — the actual production-dedup contract. */
  def sStreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // no-data batches off + first feed queued before start(): the
    // dedup's append rows all emit IN their data batch (first-seen rows
    // pass, duplicates are dropped against state), so the automatic
    // no-data eviction cycle between the two deliveries bought nothing
    // — 3 micro-batches → 2, and the two-DATA-batch shape (second
    // delivery deduped against batch-0 STATE — the semantics under
    // test) is untouched.
    val rows = eventRows(spark, sfDir)
    val stream = newStream(spark)
    stream.addData(rows.toSeq)
    toMemory(spark, "s_stream_dedup", "append", NoDataBatchesOff)(
      stream.toDF()
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id"),
      () => stream.addData(rows.toSeq)) // exact duplicates, second delivery
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type")
  }

  /** Late-data drop: batch 1 advances the watermark; batch 2 replays
    * events older than watermark − 10 min, which must be dropped from the
    * windowed aggregation. */
  def sStreamLate(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = eventRows(spark, sfDir)
    val cutoff = rows.map(_.ts.getTime).max
    val (early, late) = rows.partition(_.ts.getTime >= cutoff - 3 * 3600 * 1000L)
    val stream = newStream(spark)
    // Only the last 3 hours arrive first → watermark = max − 10 min.
    // Queued before start() so the first trigger cannot split the feed.
    stream.addData(early.toSeq)
    toMemory(spark, "s_stream_late", "append")(stream.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n")),
      // Everything older is now late beyond the watermark → dropped.
      // The sentinel rides in the SAME batch: the drop decision for the
      // late rows uses batch 1's watermark (watermarks only advance at
      // batch END), so the late-drop semantics are identical while one
      // whole micro-batch cycle disappears; the post-batch no-data batch
      // then flushes the surviving windows, as in s_stream_tumbling.
      // MEASURED REJECTION (round 13): collapsing the two no-data
      // batches via noDataMicroBatches=false + a second sentinel feed
      // (the s_stream_outer_join pattern) CHANGES THE OUTPUT — without
      // the intermediate no-data batch the late windows' state is never
      // evicted, the "late" replays land in still-open windows and 531
      // windows emit instead of 3 (oracle-diffed at sf0.001). The
      // no-data cycles here are load-bearing eviction, not overhead.
      () => stream.addData(
        late.toSeq :+ Ev(-1L, sentinelTs, -1L, "sentinel", 0.0)))
      .filter(col("win_start") < lit(sentinelTs))
      .orderBy("win_start")
  }

  /** Custom per-user running state via flatMapGroupsWithState: running
    * event count + value sum per user, updated across two batches. */
  def sStreamStateful(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = eventRows(spark, sfDir).filter(_.user_id < 8)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val stream = newStream(spark)
    stream.addData(b1.toSeq) // queued before start() — one batch per feed
    val updater = (user: Long, evs: Iterator[Ev],
        state: GroupState[(Long, Double)]) => {
      val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
      val batch = evs.toSeq
      val next = (n0 + batch.size, s0 + batch.map(_.value).sum)
      state.update(next)
      Iterator((user, next._1, next._2))
    }
    finalStatePerUser(toMemory(spark, "s_stream_stateful", "update")(
      stream.toDS()
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(updater)
        .toDF("user_id", "n_events", "value_sum"),
      () => stream.addData(b2.toSeq)))
  }

  /** Update mode appends one row per (user, batch); keep the final
    * state — the PAIR from the row with the highest n_events, not two
    * independent maxes (value_sum can decrease if values are negative).
    * ONE definition shared by the flatMapGroupsWithState and
    * transformWithState operators, so the pair-recovery subtlety cannot
    * drift between them.
    */
  private def finalStatePerUser(table: DataFrame): DataFrame =
    table
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        round(expr("max_by(value_sum, n_events)"), 4).as("value_sum"))
      .orderBy("user_id")

  /** Stream-static join: the event stream enriched per micro-batch against
    * a static parquet dim (customer) — no state store, the static side is
    * (re)broadcast per batch, which is exactly the cluster-scale shape.
    * Complete-mode aggregation keeps the memory sink deterministic.
    */
  def sStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = graft.Tables.t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val stream = newStream(spark)
    stream.addData(eventRows(spark, sfDir).toSeq) // queued before start()
    toMemory(spark, "s_stream_join", "complete")(stream.toDF()
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total")))
      .orderBy("c_mktsegment", "event_type")
  }

  /** Stream-STREAM interval join: view and purchase streams joined on
    * user within a 1-hour attribution window. Both sides carry
    * watermarks, so each side's join state evicts once the other side's
    * watermark passes the interval bound — the state-bounded shape that
    * survives an unbounded stream (an un-watermarked stream-stream join
    * buffers forever). NOTE: for an INNER stream-stream join the
    * watermark bounds STATE only — matches are emitted in the
    * micro-batch where both rows are present, so no sentinel/flush
    * batch is needed here. (An OUTER variant WOULD need a later batch
    * to advance the watermark before unmatched rows emit null-padded.)
    */
  def sStreamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // Round 13 (StreamProf: 3 micro-batches → 1): adding the two feeds
    // AFTER start() raced the first trigger — the views landed as batch
    // 0 and the purchases as batch 1 — and the post-data no-data cycle
    // only advanced state eviction. For an INNER stream-stream join
    // matches emit in the batch where both rows are present and the
    // watermark bounds STATE only, so both feeds queued before start()
    // (one combined batch) plus no-data batches off emit the exact same
    // rows with two fewer micro-batch cycles.
    val vs = newStream(spark)
    val ps = newStream(spark)
    val evs = eventRows(spark, sfDir)
    vs.addData(evs.filter(_.event_type == "view").toSeq)
    ps.addData(evs.filter(_.event_type == "purchase").toSeq)
    val views = vs.toDF()
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "10 minutes")
    val purchases = ps.toDF()
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    toMemory(spark, "s_stream_stream_join", "append", NoDataBatchesOff)(
      views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR")))
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Stream-stream LEFT-OUTER interval join (round 10): the unmatched-
    * attribution case [[sStreamStreamJoin]]'s inner join cannot express
    * — views that did NOT convert within the 1-hour window emit
    * null-padded, but only once BOTH watermarks have passed the join
    * bound (before that, a future purchase could still match). The feed
    * therefore needs what the inner join explicitly didn't: sentinel
    * batches. Watermarks advance at batch COMMIT from the previous
    * batch's max event time, so two sentinel rounds follow the data
    * batch — the first moves both watermarks past every real event, the
    * second gives the join a batch in which to evict state and release
    * the null-padded rows. Output is row-level: one row per matched
    * (view, purchase) pair plus one per never-matched view, aggregated
    * per user — exactly the batch left-join relation, which is the
    * oracle. State stays bounded by watermark + interval on BOTH sides
    * at any stream length.
    */
  def sStreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = newStream(spark)
    val ps = newStream(spark)
    val views = vs.toDF()
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "10 minutes")
    val purchases = ps.toDF()
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    // Two micro-batches, not five (round-12 task 4; StreamProf showed 2
    // data batches from an addData/trigger race + 2 auto no-data
    // watermark batches + the sentinel-2 batch, each paying the ~1-2 s
    // state-store/harness floor):
    //   - BOTH sources' data plus the first sentinel are queued BEFORE
    //     the query starts, so batch 0 is one combined batch — during
    //     it the watermark is still the initial 0, so the sentinel
    //     cannot evict or null-pad any real view early (matches emit on
    //     inner semantics regardless of watermark), but at batch-0
    //     COMMIT it advances both watermarks past every real event;
    //   - no-data micro-batches are disabled for this query, so the
    //     watermark-advance eviction runs IN the sentinel-2 batch
    //     (batch 1): all real unmatched views emit null-padded there,
    //     under the batch-0-commit watermark.
    // Same cross-batch state discipline (state survives batch 0, evicts
    // in batch 1), same output relation — the golden hash is unchanged.
    val evs = eventRows(spark, sfDir)
    vs.addData(evs.filter(_.event_type == "view").toSeq :+
      Ev(-1L, sentinelTs, -1L, "sentinel", 0.0))
    ps.addData(evs.filter(_.event_type == "purchase").toSeq :+
      Ev(-2L, sentinelTs, -2L, "sentinel", 0.0))
    val sentinel2 = Timestamp.valueOf("2030-01-02 00:00:00")
    toMemory(spark, "s_stream_outer_join", "append", NoDataBatchesOff)(
      views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer"),
      () => {
        vs.addData(Ev(-3L, sentinel2, -3L, "sentinel", 0.0))
        ps.addData(Ev(-4L, sentinel2, -4L, "sentinel", 0.0))
      })
      .filter(col("v_user") >= 0)
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("p_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("user_id")
  }

  val sStreamOuterJoinSql: String =
    """WITH v AS (SELECT user_id, ts, event_id FROM events
      |    WHERE event_type = 'view'),
      |p AS (SELECT user_id, ts, event_id FROM events
      |    WHERE event_type = 'purchase'),
      |j AS (SELECT v.user_id, v.event_id AS v_id, p.event_id AS p_id
      |  FROM v LEFT JOIN p ON p.user_id = v.user_id
      |    AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
      |    AND CAST(p.ts AS TIMESTAMP)
      |        <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR)
      |SELECT user_id, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN p_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matched,
      |  CAST(sum(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unmatched
      |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Native streaming session windows: session_window(ts, 30 min) per
    * user with watermark-driven state eviction; the sentinel closes every
    * open session so append mode emits them all.
    */
  def sStreamSession(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = newStream(spark)
    // single data+sentinel batch queued before start() — see
    // s_stream_tumbling for why this emits the same append-mode rows
    // with fewer batch cycles
    stream.addData(eventRows(spark, sfDir).toSeq :+
      Ev(-1L, sentinelTs, -1L, "sentinel", 0.0))
    toMemory(spark, "s_stream_session", "append")(stream.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("user_id"), col("n_events")))
      .filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** foreachBatch sink: each micro-batch appended to a parquet dataset —
    * the production pattern for arbitrary/transactional sinks. Three
    * batches in, re-read the dataset, aggregate; totals must equal the
    * fed rows exactly (no loss, no duplication across batch boundaries).
    */
  def sStreamForeach(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.TmpDirs.create("graft_febatch_")
    val rows = eventRows(spark, sfDir)
    val batches = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val stream = newStream(spark)
    stream.addData(batches.head.toSeq) // queued before start()
    run(spark, stream.toDF().writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(dir)
      })(feed(batches.tail.map(bs => () => stream.addData(bs.toSeq))))
    spark.read.parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"),
        countDistinct("batch_id").as("n_batches"))
      .orderBy("event_type")
  }

  // The 3-part source directory is harness SETUP for the drain under
  // test, not part of the streaming op — written once, like eventRows;
  // every run still drains it through 3 fresh micro-batches with a fresh
  // checkpoint.
  private val fileSrcDir = Tables.memo { (spark, sfDir) =>
    val d = graft.TmpDirs.create("graft_filestream_")
    Tables.events(spark, sfDir).repartition(3).write.mode("overwrite")
      .parquet(d)
    d
  }

  /** File-source streaming: readStream over a parquet directory with
    * Trigger.AvailableNow — the backfill-then-stop pattern for draining
    * a warehouse directory through a streaming topology. maxFilesPerTrigger
    * forces multiple micro-batches over the 3 part files.
    */
  def sStreamFile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    val dir = fileSrcDir(spark, sfDir)
    run(spark, spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
      .writeStream.format("memory").queryName("s_stream_file")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())) { q =>
      require(q.awaitTermination(120000), "s_stream_file: AvailableNow " +
        "drain timed out — refusing to return a partial result")
    }
    spark.table("s_stream_file").orderBy("event_type")
  }

  /** Spark 4 `transformWithState` (the StatefulProcessor arbitrary-state
    * API that replaces flatMapGroupsWithState): per-user running count +
    * value sum held in a typed ValueState, updated across two micro-
    * batches. Requires the RocksDB state store provider — the same
    * provider a production cluster runs for large state (incremental
    * checkpoint, state >> heap) — set for this query's start only.
    */
  def sStreamTws(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import spark.implicits._
    val rows = eventRows(spark, sfDir).filter(_.user_id < 8)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val stream = newStream(spark)
    stream.addData(b1.toSeq) // queued before start() — one batch per feed
    val proc = new org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, (Long, Long, Double)] {
      @transient private var agg:
          org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
      override def init(outputMode: OutputMode,
          timeMode: TimeMode): Unit =
        agg = getHandle.getValueState[(Long, Double)]("agg",
          Encoders.product[(Long, Double)], TTLConfig.NONE)
      override def handleInputRows(user: Long, evs: Iterator[Ev],
          timers: org.apache.spark.sql.streaming.TimerValues)
          : Iterator[(Long, Long, Double)] = {
        val (n0, s0) = if (agg.exists()) agg.get() else (0L, 0.0)
        val batch = evs.toSeq
        val next = (n0 + batch.size, s0 + batch.map(_.value).sum)
        agg.update(next)
        Iterator((user, next._1, next._2))
      }
    }
    finalStatePerUser(toMemory(spark, "s_stream_tws", "update",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(proc, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "value_sum"),
      () => stream.addData(b2.toSeq)))
  }

  case class Doc(doc_id: Long, text: String)

  /** Streaming index maintenance — the reference's inverted index kept
    * up to date by a document stream: docs arrive in two micro-batches,
    * the term→(sorted postings, df) aggregation runs in complete mode
    * (collect_set is a mergeable streaming aggregate; count(DISTINCT) is
    * not supported in streaming, so df derives from the same set), and
    * after the last batch the maintained index must EQUAL the batch
    * q_inverted_index build — asserted in StreamingSpec. At production
    * scale the same plan runs against a file/queue source with the
    * memory sink swapped for a keyed upsert sink.
    */
  // ──────────────── DuckDB batch-equivalence oracles (round 6) ────────────────
  // A streaming operator's materialized output must equal the
  // declarative batch answer over the same fed rows — THE streaming
  // correctness property (exactly-once: no loss, no duplication,
  // correct watermark drops, final state = cumulative aggregate).
  // StreamingSpec asserts the same equalities in-engine; these SQL
  // strings hand the check to the driver's independent DuckDB gate,
  // upgrading the whole s_* family from oracle=unit to oracle-checked.
  // Conventions: CAST(ts AS TIMESTAMP) (SURVEY §1.3), BIGINT casts on
  // integer aggregates, round(…, 4) exactly where the operator rounds,
  // total ORDER BY on group keys (determinism rule A). Session-window
  // edge: streaming breaks sessions at gap ≥ 30 min (touching windows
  // do not overlap) — the SQL mirrors ≥; ts is µs-grained so an
  // exact-1800.000000s gap is measure-zero (verified absent at all
  // three SFs).

  val sStreamTumblingSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
      |  event_type, count(*) AS n, round(sum(value), 4) AS total
      |FROM events GROUP BY win_start, event_type
      |ORDER BY win_start, event_type""".stripMargin

  val sStreamDedupSql: String =
    """SELECT event_type, count(*) AS n_unique
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Mirrors the harness cutoff EXACTLY: the early/late split compares
    * java.sql.Timestamp.getTime MILLISECONDS (floor of the µs value),
    * so the SQL floors to ms before the 3-hour comparison. Late events
    * always fall ≥ 2 h below the watermark (window end ≤ max−2 h <
    * max−10 min), so the drop set is deterministic. */
  val sStreamLateSql: String =
    """WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
      |    AS win_start, epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms
      |  FROM events),
      |m AS (SELECT max(ms) AS mx FROM e)
      |SELECT win_start, count(*) AS n FROM e, m
      |WHERE ms >= mx - 10800000
      |GROUP BY win_start ORDER BY win_start""".stripMargin

  /** Final per-user state after all batches = the cumulative aggregate
    * (update-mode rows carry strictly increasing n_events, so the
    * max_by recovery in [[finalStatePerUser]] lands on the totals). */
  val sStreamStatefulSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  round(sum(value), 4) AS value_sum
      |FROM events WHERE user_id < 8
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  val sStreamJoinSql: String =
    """SELECT c_mktsegment, event_type, count(*) AS n,
      |  round(sum(value), 4) AS total
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin

  val sStreamStreamJoinSql: String =
    """SELECT v.user_id AS user_id, count(*) AS n_pairs
      |FROM events v JOIN events p
      |  ON p.user_id = v.user_id
      |  AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
      |  AND CAST(p.ts AS TIMESTAMP)
      |      <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
      |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      |GROUP BY v.user_id ORDER BY user_id""".stripMargin

  val sStreamSessionSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |flagged AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
      |    OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END
      |    AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Mirrors the 3-way feed split: batches are `grouped(n/3 + 1)` over
    * the event_id-sorted rows, so an event's batch id is
    * `rank // (n/3 + 1)` and per-type n_batches follows exactly. */
  val sStreamForeachSql: String =
    """WITH o AS (SELECT event_type, value,
      |    row_number() OVER (ORDER BY event_id) - 1 AS rn,
      |    count(*) OVER () AS cnt FROM events)
      |SELECT event_type, count(*) AS n, round(sum(value), 4) AS total,
      |  CAST(count(DISTINCT rn // (cnt // 3 + 1)) AS BIGINT) AS n_batches
      |FROM o GROUP BY event_type ORDER BY event_type""".stripMargin

  val sStreamFileSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // s_stream_index's oracle is the batch inverted index itself:
  // SparkEntry points it at Search.qInvertedIndexSql.

  def sStreamIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // HARNESS-ONLY collect (see eventRows): the MemoryStream feed, not a
    // production path — readStream on a real source replaces it 1:1.
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").as[Doc].collect().sortBy(_.doc_id)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[Doc](Encoders.product[Doc], spark)
    stream.addData(b1.toSeq) // queued before start() — one batch per feed
    toMemory(spark, "s_stream_index", "complete")(
      graft.queries.Search.postingsProjection(stream.toDF()
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term")
        .agg(sort_array(collect_set(col("doc_id"))).as("id_set"))),
      () => stream.addData(b2.toSeq))
      .orderBy("term")
  }

  /** Streaming 1h/15min SLIDING windows + watermark, append mode — the
    * streaming twin of the batch q_evt_sliding: each event lands in its
    * 4 containing slide buckets; the sentinel advances the watermark so
    * append emits every real window (sentinel windows at 2030 filtered
    * by the 2029 fence). Oracle: the batch slide-bucket expansion over
    * the same events. */
  def sStreamSliding(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = newStream(spark)
    // data + sentinel queued before start() (see s_stream_tumbling)
    stream.addData(eventRows(spark, sfDir).toSeq :+
      Ev(-1L, sentinelTs, -1L, "sentinel", 0.0))
    toMemory(spark, "s_stream_sliding", "append")(stream.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      // exact integer cents, not a rounded double sum: micro-batch state
      // accumulates in a different order than the oracle's single pass,
      // and round(4) cannot repair a half-grid double (the
      // s_stream_complete lesson, applied here after round-8 advice)
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("total_cents"))
      .select(col("window.start").as("win_start"), col("n"),
        col("total_cents")))
      .filter(col("win_start") < lit("2029-01-01").cast("timestamp"))
      .orderBy("win_start")
  }

  val sStreamSlidingSql: String =
    """SELECT CAST(to_timestamp(
      |    floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900 - k * 900)
      |    AS TIMESTAMP) AS win_start,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM events, unnest(generate_series(0, 3)) AS t(k)
      |GROUP BY win_start ORDER BY win_start""".stripMargin

  /** COMPLETE-mode streaming aggregation: running per-type totals with
    * the memory sink replaced every trigger — the live-dashboard output
    * mode (append emits only closed windows; complete re-emits the
    * whole result). Fed in two batches so the final table PROVES state
    * carried across triggers; after the last trigger it must equal the
    * batch group-by exactly. */
  def sStreamComplete(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = eventRows(spark, sfDir)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val stream = newStream(spark)
    // totals in exact integer CENTS (the qUpsertLatest discipline): a
    // complete-mode float sum accumulates across micro-batch state in a
    // different order than the oracle's single pass, and per-type sums
    // here are large enough to brush the round(4) grid
    stream.addData(b1.toSeq) // queued before start() — one batch per feed
    toMemory(spark, "s_stream_complete", "complete")(stream.toDF()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("total_cents")),
      () => stream.addData(b2.toSeq))
      .orderBy("event_type")
  }

  val sStreamCompleteSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
}
