package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 search breadth (SURVEY.md §2.9): regex retrieval and
  * segment-index merging — the remaining index-lifecycle pieces around
  * the WAND/compression internals in [[SearchIndex]].
  *
  * Scale notes: regex retrieval is one narrow codegen'd scan (the regex
  * runs inside WholeStageCodegen; only `doc_id` and the match count
  * survive the projection). Segment merge is the compaction primitive of
  * every log-structured index: both segments' posting lists and their
  * merge come out of ONE term-keyed aggregate over the term-partitioned
  * postings — no join, and no shuffle before the final sort.
  */
object SearchExtra {

  // Alternation-of-literals only: identical non-overlapping leftmost
  // match semantics in java.util.regex (Spark) and RE2 (DuckDB).
  private val Pattern = "(fast|slow) (join|merge)"

  /** Regex retrieval: documents matching a token-bigram pattern, ranked
    * by match count. The predicate and count run in one narrow scan —
    * no shuffle until the bounded top-50 sort. */
  def qSearchRegex(spark: SparkSession, sfDir: String): DataFrame =
    Search.topK(Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(Pattern)).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0), 50, "n_hits")

  val qSearchRegexSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$Pattern')) AS BIGINT) AS n_hits
       |FROM documents
       |WHERE len(regexp_extract_all(text, '$Pattern')) > 0
       |ORDER BY n_hits DESC, doc_id LIMIT 50""".stripMargin

  /** LSM-style segment merge: two index segments (even/odd docs —
    * stand-ins for "yesterday's index" and "today's delta") compacted
    * into one merged index. Each segment's posting list is a
    * parity-conditional collect in the same term-keyed aggregate (a
    * term missing from one segment gets an empty list there), and the
    * merge sorts their concatenation. Output is the merged df, each
    * segment's df and the posting list serialized to the string wire
    * format (the result hash reads scalar cells only).
    */
  def qIndexMerge(spark: SparkSession, sfDir: String): DataFrame = {
    def seg(parity: Int) =
      collect_list(when(col("doc_id") % 2 === parity, col("doc_id")))
    Tables.docTerms(spark, sfDir)
      .groupBy("term")
      .agg(seg(0).as("ids_a"), seg(1).as("ids_b"))
      .withColumn("merged",
        sort_array(concat(col("ids_a"), col("ids_b"))))
      .select(col("term"),
        size(col("merged")).cast("long").as("df"),
        size(col("ids_a")).cast("long").as("df_a"),
        size(col("ids_b")).cast("long").as("df_b"),
        array_join(transform(col("merged"), _.cast("string")), ",")
          .as("postings"))
      .orderBy("term")
  }

  val qIndexMergeSql: String =
    """WITH dt AS (SELECT DISTINCT doc_id, term
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)),
      |sa AS (SELECT term, list(doc_id ORDER BY doc_id) AS ids_a
      |  FROM dt WHERE doc_id % 2 = 0 GROUP BY term),
      |sb AS (SELECT term, list(doc_id ORDER BY doc_id) AS ids_b
      |  FROM dt WHERE doc_id % 2 = 1 GROUP BY term),
      |m AS (SELECT coalesce(sa.term, sb.term) AS term,
      |    coalesce(sa.ids_a, []) AS ids_a, coalesce(sb.ids_b, []) AS ids_b
      |  FROM sa FULL OUTER JOIN sb ON sa.term = sb.term)
      |SELECT term,
      |  CAST(len(ids_a) + len(ids_b) AS BIGINT) AS df,
      |  CAST(len(ids_a) AS BIGINT) AS df_a,
      |  CAST(len(ids_b) AS BIGINT) AS df_b,
      |  array_to_string(list_sort(list_concat(ids_a, ids_b)), ',')
      |    AS postings
      |FROM m ORDER BY term""".stripMargin

  private val BoolTerms = Seq("spark", "join", "stream", "vector", "batch")

  /** Nested boolean retrieval: (spark AND join AND NOT stream) OR
    * (vector AND batch). Postings for the 5 query terms collapse to
    * per-doc presence bits in ONE partial-aggregable max(CASE) pass —
    * the filter on the bounded term set prunes the token stream before
    * the doc_id shuffle, and arbitrary boolean nesting is then a scalar
    * predicate over the bit columns (no per-clause set ops, no
    * intersect/except chain). Docs containing none of the terms can
    * satisfy neither positive clause, so pre-filtering them is exact.
    */
  def qSearchBoolean(spark: SparkSession, sfDir: String): DataFrame = {
    def bit(t: String) =
      max(when(col("term") === t, 1L).otherwise(0L)).as(s"has_$t")
    val flags = Tables.docTerms(spark, sfDir)
      .filter(col("term").isin(BoolTerms: _*))
      .groupBy("doc_id")
      .agg(bit("spark"), bit("join"), bit("stream"), bit("vector"),
        bit("batch"))
    flags.filter(
      (col("has_spark") === 1 && col("has_join") === 1
        && col("has_stream") === 0)
        || (col("has_vector") === 1 && col("has_batch") === 1))
      .orderBy("doc_id")
  }

  val qSearchBooleanSql: String =
    """WITH dt AS (SELECT DISTINCT doc_id, term
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  WHERE term IN ('spark', 'join', 'stream', 'vector', 'batch')),
      |f AS (SELECT doc_id,
      |    max(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS has_spark,
      |    max(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS has_join,
      |    max(CASE WHEN term = 'stream' THEN 1 ELSE 0 END) AS has_stream,
      |    max(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS has_vector,
      |    max(CASE WHEN term = 'batch' THEN 1 ELSE 0 END) AS has_batch
      |  FROM dt GROUP BY doc_id)
      |SELECT doc_id, CAST(has_spark AS BIGINT) AS has_spark,
      |  CAST(has_join AS BIGINT) AS has_join,
      |  CAST(has_stream AS BIGINT) AS has_stream,
      |  CAST(has_vector AS BIGINT) AS has_vector,
      |  CAST(has_batch AS BIGINT) AS has_batch
      |FROM f
      |WHERE (has_spark = 1 AND has_join = 1 AND has_stream = 0)
      |   OR (has_vector = 1 AND has_batch = 1)
      |ORDER BY doc_id""".stripMargin
}
