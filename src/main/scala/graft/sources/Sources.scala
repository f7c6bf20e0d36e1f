package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Source/sink breadth beyond the parquet scan (SURVEY.md §2.1b):
  * partition-pruned parquet sink, CSV and JSON roundtrips. Each returns
  * a DataFrame whose rows re-derive from the re-read copy, so the
  * side-effecting write is still DuckDB-oracled (since round 6) by
  * aggregating the roundtripped data against the original tables.
  */
object Sources {

  private def tmpDir(prefix: String): String =
    graft.TmpDirs.create(prefix)

  /** Corrupt lines injected into the PERMISSIVE-read harness — shared
    * with the oracle literal so the two cannot fork. */
  private[graft] val CorruptLines = 25

  /** PERMISSIVE malformed-record ingestion: events as JSONL plus
    * [[CorruptLines]] deliberately truncated lines, read back with an
    * explicit schema + `_corrupt_record` column. A crawl-scale feed
    * ALWAYS carries malformed rows; DROPMALFORMED silently changes
    * counts and FAILFAST kills the job for one bad line, so the
    * error-tolerant contract is PERMISSIVE + a quarantine count. Good
    * rows must aggregate exactly to the original table (the roundtrip
    * oracle over the ORIGINAL parquet), and the quarantine row must
    * count exactly the injected lines — no good row misclassified, no
    * corrupt line dropped.
    */
  def qSourceJsonlCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tmpDir("graft_jsonc_")
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(dir)
    spark.createDataset((1 to CorruptLines).map(i =>
        s"""{"event_id": $i, "event_type": "trunc""")).coalesce(1)
      .write.mode("append").text(dir)
    // Spark refuses queries whose referenced file-source columns are
    // ONLY the corrupt column (the quarantine count below); the
    // documented remedy is to materialize the parse first. The eager
    // checkpoint is the parsed feed itself — both branches scan it.
    val all = Tables.localCheckpoint(spark.read
      .schema(ev.schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir))
    val good = all.filter(col("_corrupt_record").isNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
    val bad = all.filter(col("_corrupt_record").isNotNull)
      .agg(count(lit(1)).as("n"))
      .select(lit("_corrupt").as("event_type"), col("n"),
        lit(0.0).as("total"))
    good.unionByName(bad).orderBy("event_type")
  }

  val qSourceJsonlCorruptSql: String =
    s"""SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
      |FROM events GROUP BY event_type
      |UNION ALL SELECT '_corrupt', $CorruptLines, 0.0
      |ORDER BY event_type""".stripMargin

  /** Hive-style partitioned parquet sink + partition-pruned re-read.
    * The pruned scan must touch only the selected partition directory —
    * the physical plan carries the partition filter, not a data filter
    * (SourcesSpec asserts this).
    */
  def qSinkPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_part_")
    Tables.t(spark, sfDir, "lineitem")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("l_returnflag") === "A")
      .agg(count(lit(1)).as("n_a"), round(sum("l_quantity"), 4).as("qty_a"))
    pruned
  }

  /** Dynamic partition pruning (DPP) on the dominant warehouse shape:
    * a fact table PARTITIONED ON THE JOIN KEY joined to a dim filtered
    * on a NON-key attribute. Static pruning (q_sink_partitioned) can't
    * help — the qualifying keys are only known after the dim filter
    * runs — so Catalyst injects a DynamicPruningExpression into the
    * fact scan's PartitionFilters, reusing the dim's broadcast to skip
    * whole partition directories at run time. At 100 TB this is the
    * difference between scanning 5/25 of the fact and scanning all of
    * it. PlanAuditSpec pins `dynamicpruning` in the scan; the checked
    * aggregate re-derives from the ORIGINAL tables (q_source_orc
    * precedent), so the sink+join is fully DuckDB-oracled.
    */
  def qJoinDpp(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_dpp_")
    Tables.t(spark, sfDir, "customer")
      .write.mode("overwrite").partitionBy("c_nationkey").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Tables.t(spark, sfDir, "nation")
      .filter(col("n_regionkey") === 0)
    fact.join(dim, fact("c_nationkey") === dim("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"),
        sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
      .orderBy("n_name")
  }

  val qJoinDppSql: String =
    """SELECT n_name, count(*) AS n_cust,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_regionkey = 0
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** CSV sink → source roundtrip: write orders as headered CSV, re-read
    * with explicit schema, verify the aggregate survives the text
    * representation (timestamps/floats are the lossy suspects). The
    * money total sums exact integer CENTS (the BASELINE.md float-sum
    * convention, qUpsertLatest precedent): at sf0.1 the status-O group
    * sum reaches ~1.25e10, where Spark's partial-sum order vs DuckDB's
    * sequential scan land on different sides of a round(4) grid —
    * caught by the round-6 sf0.1 sweep the day this row gained its
    * DuckDB oracle. */
  def qSourceCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_csv_")
    val orders = Tables.t(spark, sfDir, "orders")
    orders.write.mode("overwrite")
      .option("header", "true")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
      .csv(dir)
    spark.read
      .option("header", "true")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
      .schema(orders.schema)
      .csv(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        (sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .cast("double") / 100.0).as("total"))
      .orderBy("o_orderstatus")
  }

  /** JSON-lines sink → source roundtrip on the events table (nested
    * `props` stays a raw string; ts normalized to µs before write). */
  def qSourceJson(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_json_")
    val ev = Tables.events(spark, sfDir)
    ev.write.mode("overwrite").json(dir)
    spark.read.schema(ev.schema).json(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
      .orderBy("event_type")
  }

  /** Bucketed sink + shuffle-free co-located join: lineitem and orders
    * written bucketed+sorted on the join key (8 buckets), then sort-merge
    * joined — the scan's bucketing satisfies the join's distribution so
    * the plan carries NO Exchange on either side (SourcesSpec asserts
    * this). This is the pre-shuffle pattern that turns every later join
    * on the key into a map-side join at warehouse scale.
    */
  def qSinkBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = bucketedJoin(spark, sfDir)
    // cents, not round(sum(double)): per-priority gross reaches ~4.3e9
    // at sf0.1 — inside the BASELINE.md float-sum boundary's danger
    // margin — and this row gained a DuckDB oracle in round 6
    joined
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        (sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .cast("double") / 100.0).as("gross"))
      .orderBy("o_orderpriority")
  }

  private val bucketedCache =
    graft.Tables.registerCache()

  /** The bucketed join itself, exposed so the spec can assert its plan is
    * Exchange-free below the join. Memoized per (session, sfDir) under
    * the Tables.memo lock: the build drops/creates FIXED catalog table
    * names, so un-memoized concurrent callers (suites share the forked
    * test JVM) could interleave one caller's DROP with the other's
    * saveAsTable — and repeated callers would re-pay both bucketed
    * writes per invocation.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.memo(bucketedCache, spark, sfDir) {
      bucketedJoinUncached(spark, sfDir)
    }

  private def bucketedJoinUncached(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_bucket_")
    Seq("graft_li_b", "graft_od_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/li").saveAsTable("graft_li_b")
    Tables.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/od").saveAsTable("graft_od_b")
    // merge hint: broadcast would bypass the bucketing we're exercising
    spark.table("graft_li_b").hint("merge")
      .join(spark.table("graft_od_b"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** ORC sink → source roundtrip (the other columnar warehouse format):
    * write part as ORC, re-read, prove the aggregate and the pushed-down
    * predicate survive. ORC carries its own column statistics, so the
    * filter reaches the stripe level the same way parquet row-groups do.
    */
  def qSourceOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_orc_")
    val part = Tables.t(spark, sfDir, "part")
    part.write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .filter(col("p_size") >= 25)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        round(sum("p_retailprice"), 4).as("retail"))
      .orderBy("p_brand")
  }

  /** Small-file compaction (round 3): the table-maintenance op every
    * long-lived warehouse needs — a fragmented table (here: 32 tiny
    * part files from a round-robin write) is rewritten into
    * ceil(rows / 50k) right-sized files. The compaction target is
    * row-based here so the output row is deterministic for the golden
    * hash; a production compactor divides partition BYTES by the target
    * file size — same one-line coalesce, different numerator. coalesce
    * (not repartition) keeps the rewrite shuffle-free: each output task
    * concatenates a run of input files. Row fidelity is re-proved by
    * count + a content checksum on the re-read copy.
    */
  // The 32-file fragmented directory is harness SETUP for the
  // compaction under test, not the operator itself (the s_stream_file
  // source-dir argument) — write it once per (session, sfDir); every
  // run still performs the full read→coalesce→write→verify compaction
  // against a fresh output dir. (round 12)
  private val fragDirCache = Tables.registerAuxCache[String]()

  def qCompactFiles(spark: SparkSession, sfDir: String): DataFrame = {
    def nFiles(d: String): Long =
      new java.io.File(d).listFiles()
        .count(f => f.getName.startsWith("part-")).toLong
    val fragmented = Tables.memo(fragDirCache, spark, sfDir) {
      val d = tmpDir("graft_frag_")
      Tables.t(spark, sfDir, "documents")
        .repartition(32).write.mode("overwrite").parquet(d)
      d
    }
    val compacted = tmpDir("graft_compact_")
    val small = spark.read.parquet(fragmented)
    val rows = small.count()
    val target = math.max(1L, (rows + 49999) / 50000L).toInt
    small.coalesce(target).write.mode("overwrite").parquet(compacted)
    val re = spark.read.parquet(compacted)
    val sums = re.agg(count(lit(1)).as("n_rows"),
      sum("n_chars").as("chk")).collect()(0)
    spark.createDataFrame(Seq((
      nFiles(fragmented), nFiles(compacted),
      sums.getLong(0), sums.getLong(1)
    ))).toDF("files_before", "files_after", "n_rows", "chk_chars")
  }

  /** XML-dump ingestion — the reference's actual input format
    * (enwiki `<page>` records), reconstructed: each doc is rendered as a
    * `<page><title>…</title><text lang="…">…</text></page>` record, then
    * parsed BACK with anchored regexp extraction (the record-reader
    * logic of an XML InputFormat as codegen'd expressions), and the
    * roundtrip is proven per row. Narrow one-pass plan; the corpus is
    * single-space lowercase tokens so no XML escaping exists to break
    * the regexes (guaranteed by §1.2 corpus shape).
    */
  def qSourceXml(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .withColumn("x", concat(
        lit("<page><title>doc_"), col("doc_id"),
        lit("</title><text lang=\""), col("lang"), lit("\">"),
        col("text"), lit("</text></page>")))
      .select(col("doc_id"),
        regexp_extract(col("x"), "<title>([^<]*)</title>", 1).as("title"),
        regexp_extract(col("x"), "<text lang=\"([^\"]*)\"", 1)
          .as("lang_attr"),
        md5(regexp_extract(col("x"), "<text[^>]*>(.*)</text>", 1))
          .as("body_md5"),
        (regexp_extract(col("x"), "<text[^>]*>(.*)</text>", 1) === col("text"))
          .cast("int").as("roundtrip_ok"))
      .orderBy("doc_id")

  /** Oracle for [[qCompactFiles]] (round 6): every output column is
    * derivable from the ORIGINAL documents table + the harness
    * constants — files_before is the fixed repartition(32) fan-out
    * (round-robin over ≥32 rows leaves no empty partition → exactly 32
    * part files), files_after is the row-based compaction target
    * ceil(n/50k), and n_rows/chk_chars re-prove row fidelity. The
    * independent content here is PRESERVATION (count + checksum
    * surviving both rewrites) and the target-count math. */
  val qCompactFilesSql: String =
    """SELECT CAST(32 AS BIGINT) AS files_before,
      |  CAST((count(*) + 49999) // 50000 AS BIGINT) AS files_after,
      |  count(*) AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS chk_chars
      |FROM documents ORDER BY n_rows""".stripMargin

  val qSourceXmlSql: String =
    """WITH xml AS (SELECT doc_id, lang, text,
      |    '<page><title>doc_' || doc_id || '</title><text lang="' || lang
      |      || '">' || text || '</text></page>' AS x
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_extract(x, '<title>([^<]*)</title>', 1) AS title,
      |  regexp_extract(x, '<text lang="([^"]*)"', 1) AS lang_attr,
      |  md5(regexp_extract(x, '<text[^>]*>(.*)</text>', 1)) AS body_md5,
      |  CAST(regexp_extract(x, '<text[^>]*>(.*)</text>', 1) = text AS INT)
      |    AS roundtrip_ok
      |FROM xml ORDER BY doc_id""".stripMargin

  // ───────────── binaryFile source (multimodal ingest path) ─────────────

  /** binaryFile-source ingest — the multimodal ingestion path: the
    * q_mm_* payloads enter a real pipeline as FILES (one blob per
    * object), and `spark.read.format("binaryFile")` is the scan that
    * lifts them into the (path, length, content) relation the decode
    * stage consumes. Here 32 deterministic payloads (doc_id-derived
    * byte patterns, one file each) are written, read back through the
    * binaryFile source, and re-aggregated: per length-bucket file
    * counts, total bytes, and an order-free integer checksum (sum of
    * per-file FNV-style byte folds mod 2⁶³ is overkill — the sum of
    * (doc_id·length) products re-derives from the ORIGINAL table, which
    * is what the oracle checks; content fidelity is asserted per file
    * against the generating formula inside the Spark plan itself via
    * chk_ok). Scale: binaryFile scans parallelize per file, the decode
    * family's partitioning story.
    */
  def qSourceBinary(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("srcbin")
    val docs = Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") < 32)
      .select(col("doc_id"), col("n_chars")).collect()
    // harness-only driver loop: writes the 32 fixture FILES the source
    // under test reads (the file system IS the input here)
    docs.foreach { r =>
      val id = r.getLong(0)
      val len = (r.getLong(1) % 64 + 16).toInt
      val bytes = Array.tabulate(len)(i => ((id * 31 + i * 7) % 251).toByte)
      Files.write(java.nio.file.Paths.get(dir, f"blob_$id%05d.bin"), bytes)
    }
    val bin = spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "blob_([0-9]+)\\.bin", 1)
          .cast("long").as("doc_id"),
        col("length"), col("content"))
      // content fidelity proven INSIDE the Spark plan (hex view vs the
      // generating formula; Spark has no array<byte>→binary cast); the
      // oracle pins that the per-bucket ok-count equals the file count
      .withColumn("chk_ok",
        (hex(col("content")) === expr(
          """array_join(transform(sequence(0, CAST(length AS INT) - 1),
            |  i -> lpad(hex((doc_id * 31 + i * 7) % 251), 2, '0')), '')"""
            .stripMargin)).cast("long"))
    bin.groupBy((col("length") / 16).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_files"), sum("length").as("total_bytes"),
        sum(col("doc_id") * col("length")).as("chk_idlen"),
        sum("chk_ok").as("n_content_ok"))
      .orderBy("len_bucket")
  }

  val qSourceBinarySql: String =
    """WITH b AS (SELECT doc_id, n_chars % 64 + 16 AS len
      |  FROM documents WHERE doc_id < 32)
      |SELECT CAST(len // 16 AS BIGINT) AS len_bucket,
      |  count(*) AS n_files,
      |  CAST(sum(len) AS BIGINT) AS total_bytes,
      |  CAST(sum(doc_id * len) AS BIGINT) AS chk_idlen,
      |  count(*) AS n_content_ok
      |FROM b GROUP BY len_bucket ORDER BY len_bucket""".stripMargin

  // ───────────── raw text source ─────────────

  /** Raw-text-source ingest: documents serialized as tab-delimited
    * lines, read back with `spark.read.text` (the schema-free scan a
    * crawl dump arrives through) and split in the plan — the parse
    * stage a text-format corpus always needs. The roundtripped rows
    * must re-aggregate exactly to the original table per language.
    */
  def qSourceText(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("srctext")
    Tables.t(spark, sfDir, "documents")
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("text"))
        .as("value"))
      .write.mode("overwrite").text(dir)
    spark.read.text(dir)
      .select(split(col("value"), "\t", 3).as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("lang"), col("p").getItem(2).as("text"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("chk_chars"),
        sum(col("doc_id")).as("chk_ids"))
      .orderBy("lang")
  }

  val qSourceTextSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS chk_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS chk_ids
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
}
