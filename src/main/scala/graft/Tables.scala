package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table readers + shared helpers for all queries.
  *
  * Design notes (scale): every reader returns a plain parquet-backed
  * DataFrame so Catalyst keeps pushdown/pruning. The search family reads
  * session-wide materializations instead: the positional token stream
  * ([[tokens]]), the [[postings]] index built from it, the term
  * dictionary ([[lexicon]]) built from that, and the corpus scalars
  * ([[corpusStats]]) (SURVEY.md §4.3).
  */
object Tables {

  /** The generator emits parquet timestamps annotated
    * `isAdjustedToUTC=false`, which Spark 4 surfaces as TIMESTAMP_NTZ by
    * default. Everything downstream (range frames on `unix_micros`, ts
    * literals cast with `cast("timestamp")`, the DuckDB oracle's naive
    * TIMESTAMP under a UTC session) is written against TimestampType, so
    * pin the reader to the classic mapping. Session TZ is UTC in every
    * entrypoint, making the two readings value-identical.
    *
    * The pin happens ONCE per session (round-5 advice: a per-call
    * `conf.set` is both redundant churn and a hidden override of any
    * later deliberate conf change in the same session — with the
    * once-per-app guard, code that re-sets either conf after the first
    * table read keeps its setting). `nanosAsLong` is pinned here too so
    * [[events]] can read a TIMESTAMP(NANOS) file (Spark 4 otherwise
    * refuses the annotation outright, SURVEY.md §1.3).
    */
  private val confPinned =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def pinParquetConfs(spark: SparkSession): Unit =
    confPinned.getOrElseUpdate(spark.sparkContext.applicationId, {
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      true
    })

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    pinParquetConfs(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** `events.ts` has shipped as both TIMESTAMP(NANOS,false) — which Spark
    * 4.x refuses to read natively (SURVEY.md §1.3) and the legacy conf
    * surfaces as a long of epoch-nanos — and plain TIMESTAMP(MICROS).
    * Normalize either encoding to a µs TimestampType column. The ns→µs
    * conversion uses INTEGER division: double division can round the last
    * microsecond. DuckDB reads the same column as a naive TIMESTAMP either
    * way; oracle SQL keeps CAST(ts AS TIMESTAMP) (a no-op on µs data).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = t(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  // ─────────────── pinned-state ownership ───────────────
  //
  // Every checkpoint the engine pins belongs to exactly one owner, and
  // owners are released explicitly. The contract: a thread that
  // re-invokes query X has finished with its previous X result; other
  // threads' results are released only by [[clearCaches]].

  /** The checkpoint RDDs pinned on behalf of one owner, released
    * together. Ids, not RDD references: the context tracks persisted
    * RDDs weakly, and an owner must not keep a dead lineage reachable. */
  private final class Owner(sc: SparkContext) {
    private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def add(id: Int): Unit = ids.add(id)
    def release(blocking: Boolean): Unit = {
      val live = sc.getPersistentRDDs
      ids.asScala.foreach(id => live.get(id).foreach(rdd =>
        try rdd.unpersist(blocking)
        catch { case scala.util.control.NonFatal(_) => () }))
      ids.clear()
    }
  }

  /** The owner of this thread's pins; null means the session owner. */
  private val currentOwner = new ThreadLocal[Owner]

  /** Pins that outlive invocations: memo builds and direct calls that
    * bypass [[SparkEntry.queries]], one owner per application. */
  private val sessionOwners =
    new java.util.concurrent.ConcurrentHashMap[String, Owner]()

  /** Per-invocation owners keyed by (applicationId, query id, thread). */
  private val invocationOwners =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String, Thread), Owner]()

  private def withOwner[T](owner: Owner)(body: => T): T = {
    val prev = currentOwner.get
    currentOwner.set(owner)
    try body finally currentOwner.set(prev)
  }

  /** The engine's only `Dataset.localCheckpoint` call: checkpoints `ds`
    * and records the returned plan's checkpoint RDD in the current
    * owner — the running invocation, or the session owner inside a memo
    * build or outside any invocation. Persisted memo buffers are never
    * recorded: [[clearCaches]] releases them through their DataFrames. */
  def localCheckpoint[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val out = ds.localCheckpoint(eager)
    val sc = ds.sparkSession.sparkContext
    val owner = Option(currentOwner.get).getOrElse(sessionOwners
      .computeIfAbsent(sc.applicationId, _ => new Owner(sc)))
    out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
      .foreach(owner.add)
    out
  }

  /** Runs one [[SparkEntry.queries]] invocation under a fresh owner.
    * First releases the previous owner of the same (application, query,
    * thread), plus any owner of the same query whose thread has exited:
    * a single-threaded caller keeps at most one live copy per query, and
    * concurrent callers never free each other's blocks. No lock is held
    * around the build. */
  private[graft] def invocation[T](spark: SparkSession, query: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val me = Thread.currentThread
    invocationOwners.keySet.asScala.foreach { case k @ (app, q, t) =>
      if (app == sc.applicationId && q == query && (t == me || !t.isAlive))
        Option(invocationOwners.remove(k)).foreach(_.release(blocking = false))
    }
    val owner = new Owner(sc)
    invocationOwners.put((sc.applicationId, query, me), owner)
    withOwner(owner)(body)
  }

  /** Starts `body` on a new named daemon thread under the calling
    * thread's owner (captured here: a thread-local does not reach other
    * threads). The returned function joins the thread and returns its
    * result, rethrowing its exception. */
  private[graft] def fork[T](name: String)(body: => T): () => T = {
    val owner = currentOwner.get
    var out: Either[Throwable, T] = null
    val t = new Thread(() => {
      out = try Right(withOwner(owner)(body))
        catch { case e: Throwable => Left(e) }
    }, name)
    t.setDaemon(true)
    t.start()
    () => { t.join(); out.fold(e => throw e, identity) }
  }

  /** Runs `body` against a clone of `spark` with each `key -> value` set
    * on the clone only, so the caller's conf is never written and other
    * threads never see the keys. `body` gets `in`, which rebinds a
    * relation built on the caller's session into the clone; the
    * relation `body` returns is rebound into the caller's session, which
    * plans and runs it under its own conf. Memos and table reads stay on
    * the caller's session: they key on the application, so a memo first
    * built on a clone would stay bound to the clone's conf. A clone is
    * its own artifact session to the executors, so its first job
    * compiles its generated code again (about 90 ms more than the same
    * job on the caller's session, sf0.01 on local[4]). So a looping op
    * opens one scope per invocation and builds everything that needs
    * the keys inside it, its layouts included, rather than one scope
    * per layout plus one for the loop. */
  private[graft] def scoped(spark: SparkSession, kvs: (String, String)*)(
      body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val child = org.apache.spark.sql.graft.Shim.cloneSession(spark)
    kvs.foreach { case (k, v) => child.conf.set(k, v) }
    val out = body(df =>
      org.apache.spark.sql.graft.Shim.ofRows(child, df.queryExecution.logical))
    org.apache.spark.sql.graft.Shim.ofRows(spark, out.queryExecution.logical)
  }

  private val confLock = new Object

  /** Runs `body` with each `key -> value` set on the shared session conf,
    * then restores every key, or unsets it if it was unset before. Held
    * only across a stream `start()`, which copies the session conf into
    * the stream's own session: streams must start on the caller's
    * session, whose listeners see their progress. The lock keeps two
    * toggled starts from interleaving their save/restore pairs (A saves
    * true, B saves false, A restores true, B restores false, and the
    * setting stays off). Graph code does not take it: its loops run on
    * [[scoped]] clones. No memo build takes the conf lock, so the lock
    * order is always conf → memo. */
  private[graft] def withConf[T](spark: SparkSession, kvs: (String, String)*)(
      body: => T): T = confLock.synchronized {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ─────────────── memo caches ───────────────

  /** Atomic memoize-for-persist. `concurrent.Map.getOrElseUpdate` may
    * evaluate the by-name default MORE THAN ONCE under contention — only
    * one value wins the putIfAbsent, and a losing value that was already
    * `.persist()`ed leaks in storage memory with no handle to unpersist
    * it. Serializing the build per cache closes the race; the lock is
    * uncontended after first materialization. The build pins into the
    * session owner: a memoized relation outlives the invocation that
    * built it, so its checkpoints are released only by [[clearCaches]]
    * (a re-invoking thread has finished with its previous result, not
    * with the memo). The entry is keyed on (applicationId, sfDir).
    */
  private[graft] def memo[T](
      cache: scala.collection.concurrent.TrieMap[String, T],
      spark: SparkSession, sfDir: String)(build: => T): T =
    cache.synchronized {
      cache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$sfDir",
        withOwner(null)(build))
    }

  /** Every memoized-DataFrame cache in the engine registers here at
    * object-init, giving [[clearCaches]] a handle on all of them. The
    * memo maps key on (applicationId, sfDir) and persist() without
    * unpersist — correct in the driver's one-shot protocol (one SF per
    * JVM, caches die with it), but a long-lived session sweeping many
    * sfDirs accumulates pinned relations. */
  private val dfCaches = scala.collection.mutable.ArrayBuffer
    .empty[scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.DataFrame]]

  private[graft] def registerCache()
      : scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.DataFrame] = {
    val c = scala.collection.concurrent.TrieMap
      .empty[String, org.apache.spark.sql.DataFrame]
    dfCaches.synchronized { dfCaches += c }
    c
  }

  /** Memo maps for non-DataFrame derived state (collected model
    * profiles, sketch bytes). Nothing is pinned on the context, so
    * [[clearCaches]] just clears them — a long-lived session's
    * per-sfDir entries don't accumulate, and a post-clear rebuild
    * re-derives from parquet like the DataFrame caches. */
  private val auxCaches = scala.collection.mutable.ArrayBuffer
    .empty[scala.collection.concurrent.TrieMap[String, _]]

  private[graft] def registerAuxCache[T]()
      : scala.collection.concurrent.TrieMap[String, T] = {
    val c = scala.collection.concurrent.TrieMap.empty[String, T]
    auxCaches.synchronized { auxCaches += c }
    c
  }

  /** Release everything the engine has pinned: every registered memo
    * entry is unpersisted and dropped, then the session owners and every
    * invocation owner release their checkpoints. Only engine-owned pins
    * are touched; a host application's own persisted or checkpointed
    * RDDs survive. Per the ownership contract this is the only release
    * of other threads' results and of memoized relations: after the
    * call, previously returned results are INVALID (their checkpoint
    * blocks are gone) and consumers must re-request, which rebuilds
    * from the parquet sources. Call between SF sweeps in a long-lived
    * session; the one-shot drivers (Verify/Bench/Smoke) never need it. */
  def clearCaches(spark: SparkSession): Unit = dfCaches.synchronized {
    dfCaches.foreach { c =>
      c.values.foreach(df =>
        try df.unpersist(true)
        catch { case scala.util.control.NonFatal(_) => () })
      c.clear()
    }
    auxCaches.synchronized { auxCaches.foreach(_.clear()) }
    (sessionOwners.values.asScala ++ invocationOwners.values.asScala)
      .foreach(_.release(blocking = true))
    sessionOwners.clear()
    invocationOwners.clear()
  }

  // Tokenized documents are reused by the whole §2.9 search family plus
  // several §2.10 pipeline ops; persist once per (session, sfDir).
  private val tokenCache =
    registerCache()

  /** (doc_id, pos, term) token stream, in document order. The corpus is
    * space-joined single-space lowercase tokens with no empties
    * (SURVEY.md §1.2), so a plain split is exact tokenization. `pos` is
    * the token's 0-based offset in its document (posexplode's own
    * base); an op that needs another base shifts it where it reads it.
    * This is the engine's one tokenization: positional ops read these
    * rows or the positions in [[postings]], never the corpus text.
    * A consumer that de-duplicates rows must project `pos` away first.
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame = {
    memo(tokenCache, spark, sfDir) {
      t(spark, sfDir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .persist()
    }
  }

  private val postingsCache =
    registerCache()

  /** The positional inverted index, built once per (session, sfDir):
    * one row per (term, doc_id) posting with its term frequency `tf`,
    * its ascending 0-based token positions `pos` (the [[tokens]] base;
    * `tf` = size(pos)), the term's document frequency `df` and the
    * document's token length `dl` — the index-time statistics every
    * ranking function reads, so no search query re-aggregates the token
    * stream, joins a stat table or re-tokenizes the corpus.
    *
    * Layout: range-partitioned on `term` to the token cache's own
    * partition count, then sorted by (term, doc_id) within each
    * partition, and persisted. The sort gives every cached batch tight
    * `term` bounds, so a `term IN (…)` or prefix filter skips batches
    * at the in-memory scan; the range partitioning satisfies term-keyed
    * aggregates and windows without an Exchange.
    *
    * Round 12 measured a persisted `tokens.distinct()` (a docTerms
    * cache) slower for every consumer: it sat at the shuffle width, so
    * it added tasks, and its unordered batches pruned nothing, so
    * filtered consumers lost their term pushdown. This memo differs in
    * three ways: its width is derived from the token cache, not a
    * knob; it is term-clustered, so term filters prune batches; and it
    * carries df/dl, which replaces the separate stat relations and the
    * joins every ranking query made against them. */
  def postings(spark: SparkSession, sfDir: String): DataFrame = {
    memo(postingsCache, spark, sfDir) {
      val toks = tokens(spark, sfDir)
      toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"),
          sort_array(collect_list("pos")).as("pos"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
        .repartitionByRange(toks.rdd.getNumPartitions, col("term"))
        .sortWithinPartitions("term", "doc_id")
        .persist()
    }
  }

  private val lexiconCache =
    registerCache()

  /** The term dictionary, built once per (session, sfDir) from the
    * [[postings]]: one row per term with its document frequency `df`
    * and its collection frequency `ctf` (the sum of its postings' tf).
    * Vocabulary-level reads — fuzzy, prefix and spelling lookups, top-df
    * picks, frequency ranks, a query term's ctf — scan these rows
    * instead of re-aggregating the postings per call. The postings are
    * range-partitioned on `term`, so the build needs no Exchange. */
  def lexicon(spark: SparkSession, sfDir: String): DataFrame =
    memo(lexiconCache, spark, sfDir) {
      postings(spark, sfDir).groupBy("term", "df")
        .agg(sum("tf").as("ctf"))
        .persist()
    }

  /** Distinct (doc_id, term) pairs — the postings without their stats. */
  def docTerms(spark: SparkSession, sfDir: String): DataFrame =
    postings(spark, sfDir).select("doc_id", "term")

  /** Corpus-level scalars: document count, mean document length (as
    * the double the ranking functions divide by) and token total. */
  final case class CorpusStats(nDocs: Long, avgdl: Double, nTokens: Long)

  private val corpusStatsCache = registerAuxCache[CorpusStats]()

  /** [[CorpusStats]] once per (session, sfDir), for queries to inline as
    * literals: a scalar subquery per query costs a job and a broadcast
    * each time. `avgdl` is Spark's `avg` over the per-document lengths,
    * the value the stat subqueries produced, so scores are unchanged. */
  def corpusStats(spark: SparkSession, sfDir: String): CorpusStats = {
    memo(corpusStatsCache, spark, sfDir) {
      val r = postings(spark, sfDir).select("doc_id", "dl").distinct()
        .agg(avg(col("dl").cast("double")), sum("dl"))
        .head()
      CorpusStats(t(spark, sfDir, "documents").count(), r.getDouble(0),
        r.getLong(1))
    }
  }

  /** 3-token shingles of a corpus text column, shared by the fingerprint /
    * n-gram-dedup / contamination family. Docs with fewer than 3 tokens
    * yield the whole text as their single shingle — the oracle SQL mirrors
    * the same CASE — so short docs can't hit out-of-bounds element_at
    * (ANSI mode) or a null-propagating concat that diverges from DuckDB.
    */
  def shingles3(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shingles3Arr(split(text, " "), text)

  // The distinct shingle relation feeds ≥6 §2.10 consumers (boilerplate,
  // source-overlap, decontam, ngram-dedup×2, fingerprint, novelty,
  // contamination); without the memo the explode+distinct runs once per
  // consumer — it was the slowest row of the round-8 graded bench
  // (q_boilerplate computed it in two plan branches).
  private val shingleCache =
    registerCache()

  /** Distinct (doc_id, source, sh) 3-token-shingle relation over the
    * corpus, persisted once per (session, sfDir) — the [[tokens]]
    * discipline. `doc_id` is unique, so the distinct over
    * (doc_id, source, sh) is exactly the distinct over (doc_id, sh) with
    * the functional `source` carried along; consumers that need
    * (source, sh) or a doc_id-sample re-distinct/filter the CACHED rows
    * instead of re-exploding the corpus. At cluster scale this is the
    * "materialize the shared shingle table once" move a real pipeline
    * makes; locally `.persist()` (memory-and-disk) bounds the cost to
    * one explode + one distinct shuffle per session.
    */
  def shingles(spark: SparkSession, sfDir: String): DataFrame = {
    memo(shingleCache, spark, sfDir) {
      t(spark, sfDir, "documents")
        .withColumn("arr", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          explode(shingles3Arr(col("arr"), col("text"))).as("sh"))
        .distinct()
        .persist()
    }
  }

  /** 60-bit content-hash bucket: first 15 hex chars of md5(c) as a
    * BIGINT. EXACTLY 15 chars — 60 bits — so the long can never go
    * negative, matching DuckDB's `('0x' || substring(md5(x),1,15))
    * ::BIGINT`; a 16-char copy would overflow to negative buckets and
    * silently break every keep-rate / split comparison. Callers apply
    * their own modulus (split %100, sampling %1e6, simhash raw). ONE
    * definition for the four bucket-hash queries. */
  def md5Bucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Adjacent-token pairs of a token array — zip the array against its
    * own 1-shifted tail; `combine` shapes each pair ("a b" string for
    * the n-gram counters, a (w1, w2) struct for collocations). ONE
    * definition for the three bigram-expansion queries (q_ngrams,
    * q_ngram_lm, q_collocation), the md5Bucket/shingles3 precedent: a
    * slice off-by-one edited into one copy cannot silently miss the
    * others. Built inside a single projection — no self-join, and no
    * per-element re-split (the element_at(split(...)) trap). */
  def bigramsArr(arr: org.apache.spark.sql.Column)(
      combine: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(
      slice(arr, lit(1), size(arr) - 1),
      slice(arr, lit(2), size(arr) - 1),
      combine)

  /** Variant taking a pre-bound token-array column. Callers on a hot path
    * must `withColumn("arr", split(...))` first and pass that attribute:
    * inlining the split here puts it inside the transform lambda, where
    * it re-evaluates per shingle — O(len²) per doc (3× measured on the
    * fingerprint family at sf0.1).
    */
  def shingles3Arr(arr: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(arr) >= 3,
      transform(sequence(lit(1), size(arr) - 2),
        i => concat_ws(" ",
          element_at(arr, i),
          element_at(arr, i + 1),
          element_at(arr, i + 2))))
      .otherwise(array(text))

  /** DuckDB rendering of [[shingles3]] — interpolate over a relation that
    * exposes `text` and `arr` (= string_split(text, ' ')). */
  val shingles3Sql: String =
    """CASE WHEN len(arr) >= 3
      |  THEN list_transform(generate_series(1, len(arr) - 2),
      |    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
      |  ELSE [text] END""".stripMargin

  /** DuckDB rendering of [[graft.functions.Fnv1a64]] over a byte-value
    * list expression: fold (xor → ×prime) in HUGEINT, reduced mod 2⁶⁴
    * each step (a UBIGINT multiply would raise on overflow; the ≤2⁶⁴ ×
    * ≤2⁴¹ product stays inside signed 128-bit). `list_prepend` seeds the
    * offset basis so an empty byte list folds to the basis, matching
    * `Fnv1a64.hash(Array.empty)`. ONE definition for the four
    * FNV-oracled rows (x_expr_custom, q_mm_decode via its hash input,
    * q_mm_frames) — SchemaCanarySpec pins the ASCII precondition these
    * oracles share (see [[asciiBytesSql]]). */
  def fnv1a64Sql(byteListExpr: String): String =
    s"""list_reduce(list_prepend(14695981039346656037::HUGEINT, $byteListExpr),
       |  (acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT)
       |              % 18446744073709551616::HUGEINT)""".stripMargin

  /** UTF-8 byte values of an ASCII string column as a HUGEINT list.
    * `unicode(char)` equals the byte ONLY for ASCII input — the driver
    * corpus is pure ASCII (SchemaCanarySpec asserts it, failing loud
    * with a pointer here if a regeneration ever ships non-ASCII text).
    * The `c <> ''` guard keeps an empty string from feeding
    * `unicode('')` (string_split('','') yields ['']). */
  def asciiBytesSql(strExpr: String): String =
    s"[unicode(c)::HUGEINT for c in string_split($strExpr, '') if c <> '']"

  /** Two's-complement view of an unsigned-64 HUGEINT — what Spark's
    * LongType holds for the same bit pattern. */
  def toSignedLongSql(hugeExpr: String): String =
    s"""CAST(CASE WHEN $hugeExpr >= 9223372036854775808::HUGEINT
       |  THEN $hugeExpr - 18446744073709551616::HUGEINT
       |  ELSE $hugeExpr END AS BIGINT)""".stripMargin

  // app -> sfDir the views currently point at; registration is skipped
  // only when unchanged (round 12: q_sql_api re-registered all 10 views
  // per invocation — 10 parquet footer/schema reads per bench run for
  // identical view definitions). Registered as an aux cache so
  // clearCaches() forces re-registration afterwards.
  private val viewsFor = registerAuxCache[String]()

  /** Register the standard tables as temp views for spark.sql queries.
    * Events is registered with the ts already normalized to µs timestamps.
    * Idempotent per (session, sfDir); re-pointing to a different sfDir
    * re-registers everything.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    viewsFor.synchronized {
      val app = spark.sparkContext.applicationId
      if (!viewsFor.get(app).contains(sfDir)) {
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings").foreach { name =>
          t(spark, sfDir, name).createOrReplaceTempView(name)
        }
        events(spark, sfDir).createOrReplaceTempView("events")
        viewsFor.put(app, sfDir)
      }
    }
}
