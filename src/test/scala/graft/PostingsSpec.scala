package graft

import org.apache.spark.sql.functions._

/** The postings memo (term, doc_id, tf, df, dl) and the corpus scalars
  * the search family reads instead of re-aggregating the token stream.
  */
class PostingsSpec extends SparkSpecBase {

  test("postings equal a fresh token-stream derivation of tf, df and dl") {
    val toks = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val df = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val fresh = tf.join(df, "term").join(dl, "doc_id")
      .select("term", "doc_id", "tf", "df", "dl")
    val memo = Tables.postings(spark, sf)
    assert(memo.columns.toSeq == Seq("term", "doc_id", "tf", "df", "dl"))
    assert(memo.exceptAll(fresh).isEmpty, "postings rows missing from tokens")
    assert(fresh.exceptAll(memo).isEmpty, "token rows missing from postings")
  }

  test("corpus scalars equal the documents count and the dl mean and sum") {
    val cs = Tables.corpusStats(spark, sf)
    val dl = Tables.tokens(spark, sf).groupBy("doc_id")
      .agg(count(lit(1)).as("dl"))
    val r = dl.agg(avg(col("dl").cast("double")), sum("dl")).head()
    assert(cs.nDocs == Tables.t(spark, sf, "documents").count())
    // the exact double the per-query avgdl subquery produced
    assert(cs.avgdl == r.getDouble(0))
    assert(cs.nTokens == r.getLong(1))
    assert(cs.nTokens == Tables.tokens(spark, sf).count())
  }

  test("postings are persisted once, at the token cache's width") {
    val p = Tables.postings(spark, sf)
    assert(p.storageLevel.useMemory || p.storageLevel.useDisk,
      "postings are not persisted")
    assert(Tables.postings(spark, sf) eq p)
    assert(p.rdd.getNumPartitions ==
      Tables.tokens(spark, sf).rdd.getNumPartitions)
  }

  test("a term IN filter reaches the postings' in-memory scan") {
    val q = Tables.postings(spark, sf).filter(col("term").isin("spark", "join"))
    val scan = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("InMemoryTableScan")).getOrElse("")
    assert(scan.contains("IN (spark,join)"),
      s"term predicate is not on the in-memory scan: $scan")
  }
}
