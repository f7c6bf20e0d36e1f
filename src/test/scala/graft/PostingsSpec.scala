package graft

import org.apache.spark.sql.functions._

/** The positional postings memo (term, doc_id, tf, pos, df, dl), the
  * term dictionary (term, df, ctf) and the corpus scalars the search
  * family reads instead of re-aggregating or re-tokenizing the corpus.
  */
class PostingsSpec extends SparkSpecBase {

  /** Asserts that the postings memo over `dir` equals a fresh
    * derivation of tf, the 0-based position lists, df and dl from the
    * documents text. */
  private def assertFreshPostings(dir: String): Unit = {
    val toks = Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val tf = toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"),
      sort_array(collect_list("pos")).as("pos"))
    val df = toks.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val fresh = tf.join(df, "term").join(dl, "doc_id")
      .select("term", "doc_id", "tf", "pos", "df", "dl")
    val memo = Tables.postings(spark, dir)
    assert(memo.columns.toSeq ==
      Seq("term", "doc_id", "tf", "pos", "df", "dl"))
    assert(memo.exceptAll(fresh).isEmpty, "postings rows missing from tokens")
    assert(fresh.exceptAll(memo).isEmpty, "token rows missing from postings")
  }

  test("postings equal a fresh token-stream derivation of tf, df and dl") {
    assertFreshPostings(sf)
  }

  /** Asserts that the term dictionary over `dir` equals a fresh
    * derivation of df and ctf from the documents text, and that a
    * second request returns the same memoized relation. */
  private def assertFreshLexicon(dir: String): Unit = {
    val fresh = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("ctf"))
    val memo = Tables.lexicon(spark, dir)
    assert(memo.columns.toSeq == Seq("term", "df", "ctf"))
    assert(memo.exceptAll(fresh).isEmpty, "lexicon rows missing from tokens")
    assert(fresh.exceptAll(memo).isEmpty, "token terms missing from lexicon")
    assert(Tables.lexicon(spark, dir) eq memo)
  }

  test("the term dictionary equals a fresh token-stream derivation of df and ctf") {
    assertFreshLexicon(sf)
  }

  /** A copy of sf0.001 whose `documents` is 3 files of contiguous doc_id
    * ranges, so the token cache and the postings memo run at width > 1
    * (every fixture table is one file); the other tables are copied. */
  private lazy val splitSf: String = {
    val dir = TmpDirs.create("graft_split_sf_")
    new java.io.File(sf).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        f.getName != "documents.parquet")
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(dir, f.getName)))
    Tables.t(spark, sf, "documents")
      .repartitionByRange(3, col("doc_id")).sortWithinPartitions("doc_id")
      .write.parquet(s"$dir/documents.parquet")
    assert(new java.io.File(s"$dir/documents.parquet").listFiles()
      .count(_.getName.startsWith("part-")) == 3)
    dir
  }

  test("postings over a 3-file documents table span several partitions") {
    assert(Tables.postings(spark, splitSf).rdd.getNumPartitions > 1)
    assertFreshPostings(splitSf)
  }

  test("the term dictionary over a 3-file documents table is exact") {
    assert(Tables.lexicon(spark, splitSf).rdd.getNumPartitions > 1)
    assertFreshLexicon(splitSf)
  }

  test("the search mix hashes to its golden values over a split documents") {
    // the 31 ids of perfbench's `search` workload, then the golden ids
    // that read the token cache's positions or rows: directly, through
    // PipelinePlus.sampleTerms, or through a memo built from it
    // (q_agg_cms reads it too but is a unit row with no golden hash)
    val searchMix = Seq(
      "q_search_and", "q_search_or", "q_search_not", "q_search_phrase",
      "q_search_prefix", "q_search_proximity", "q_search_boolean",
      "q_search_regex", "q_search_fuzzy", "q_fuzzy_deletion",
      "q_spell_correct", "q_autocomplete", "q_search_bm25", "q_bm25f",
      "q_bm25_prf", "q_search_qld", "q_search_pl2", "q_search_wand",
      "q_search_rrf", "q_search_diverse", "q_vsm_cosine", "q_idx_prefix",
      "q_idx_stopword", "q_idx_champion", "q_idx_skiplist", "q_idx_impact",
      "q_index_merge", "q_search_snippet", "q_search_facets",
      "q_search_hybrid", "q_sim_cosine_topk")
    assert(searchMix.distinct.size == 31)
    val tokenReaders = Seq(
      "q_idx_positional", "q_span_mask", "q_keyphrase_rake",
      "q_repetition_filter", "q_tok_vocab", "q_bpe_pairs",
      "q_tok_oov", "q_feature_hash", "q_heavy_hitters", "q_dedup_minhash_w",
      "q_surprisal", "q_quality_bucket", "q_dedup_near", "q_minhash_err",
      "q_simjoin_prefix", "q_dedup_simhash", "q_dedup_minhash",
      "q_dedup_cluster")
    val bad = (searchMix ++ tokenReaders).filter(id =>
      Golden.hash(SparkEntry.queries(id)(spark, splitSf)) !=
        GoldenSpec.golden(id))
    assert(bad.isEmpty, s"ids drifted on the split copy: $bad")
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
