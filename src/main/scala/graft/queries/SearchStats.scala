package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 corpus-statistics additions to the search core (SURVEY.md
  * §2.9): the positional index artifact, log-likelihood-ratio
  * collocations (the statistically-sound complement to q_cooccur_pmi),
  * and a Zipf rank-frequency fit — the diagnostic that tells an index
  * designer how skewed the posting-length distribution is.
  */
object SearchStats {

  // ─────────────── positional inverted index ───────────────

  /** Positional index: term → df, collection frequency, and the full
    * doc:positions posting wire format (shipped as md5 — the driver
    * comparator hashes scalar cells). Postings are ordered numerically
    * by doc_id via a struct sort (lexicographic string order would put
    * doc 10 before doc 2); positions are shifted to 1-based here to
    * match the oracle's generate_series indexing. Scale: one term-keyed
    * aggregate over the postings, which already carry each posting's
    * sorted position list and are term-partitioned, so no Exchange.
    */
  def qIdxPositional(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.postings(spark, sfDir)
      .select(col("term"), col("doc_id"), col("tf"),
        array_join(transform(col("pos"), p => (p + 1).cast("string")), ",")
          .as("plist"))
      .withColumn("entry", concat(col("doc_id"), lit(":"), col("plist")))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        md5(concat_ws(";", transform(
          sort_array(collect_list(struct(col("doc_id"), col("entry")))),
          x => x.getField("entry")))).as("postings_md5"))
      .orderBy("term")
  }

  val qIdxPositionalSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents),
      |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, arr[i] AS term
      |  FROM d, unnest(generate_series(1, len(arr))) AS t(i)),
      |pd AS (SELECT term, doc_id,
      |    array_to_string(list(pos ORDER BY pos), ',') AS plist,
      |    count(*) AS n FROM p GROUP BY term, doc_id)
      |SELECT term, CAST(count(*) AS BIGINT) AS df,
      |  CAST(sum(n) AS BIGINT) AS cf,
      |  md5(string_agg(doc_id || ':' || plist, ';' ORDER BY doc_id))
      |    AS postings_md5
      |FROM pd GROUP BY term ORDER BY term""".stripMargin

  // ─────────────── log-likelihood-ratio collocations ───────────────

  private def xlogx(c: Column): Column =
    when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))

  /** Dunning log-likelihood-ratio collocations: top-20 bigrams whose
    * co-occurrence beats the independence model — unlike PMI, LLR does
    * not blow up on rare pairs, which is why index-time phrase detection
    * uses it. All four contingency cells come from exact integer bigram
    * counts; the xlogx sum is one fixed per-row expression tree (no
    * aggregate merge order), round(4). Scale: counts are vocab²-bounded
    * aggregates; the margin tables broadcast.
    */
  def qCollocation(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = Tables.t(spark, sfDir, "documents")
      .withColumn("arr", split(col("text"), " "))
      .select(explode(Tables.bigramsArr(col("arr"))(
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // 4 consumers (c1t, c2t, nt, the scored join) — without the lazy
    // checkpoint each re-ran the corpus bigram explode+count (round 12)
    val cnt = Tables.localCheckpoint(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")), eager = false)
    val c1t = cnt.groupBy("w1").agg(sum("c12").as("c1"))
    val c2t = cnt.groupBy("w2").agg(sum("c12").as("c2"))
    val nt = cnt.agg(sum("c12").as("n"))
    cnt.join(broadcast(c1t), "w1").join(broadcast(c2t), "w2")
      .crossJoin(broadcast(nt))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(lit(2) * (
          xlogx(col("c12"))
            + xlogx(col("c1") - col("c12"))
            + xlogx(col("c2") - col("c12"))
            + xlogx(col("n") - col("c1") - col("c2") + col("c12"))
            - xlogx(col("c1")) - xlogx(col("n") - col("c1"))
            - xlogx(col("c2")) - xlogx(col("n") - col("c2"))
            + xlogx(col("n"))), 4).as("llr"))
      .orderBy(desc("llr"), asc("w1"), asc("w2"))
      .limit(20)
  }

  val qCollocationSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents),
      |bg AS (SELECT arr[i] AS w1, arr[i + 1] AS w2
      |  FROM d, unnest(generate_series(1, len(arr) - 1)) AS t(i)),
      |cnt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |c1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
      |  FROM cnt GROUP BY 1),
      |c2t AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2
      |  FROM cnt GROUP BY 1),
      |nt AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM cnt)
      |SELECT w1, w2, c12, c1, c2,
      |  round(2 * (
      |    (CASE WHEN c12 > 0 THEN c12 * ln(CAST(c12 AS DOUBLE))
      |          ELSE 0 END)
      |    + (CASE WHEN c1 - c12 > 0
      |         THEN (c1 - c12) * ln(CAST(c1 - c12 AS DOUBLE)) ELSE 0 END)
      |    + (CASE WHEN c2 - c12 > 0
      |         THEN (c2 - c12) * ln(CAST(c2 - c12 AS DOUBLE)) ELSE 0 END)
      |    + (CASE WHEN n - c1 - c2 + c12 > 0
      |         THEN (n - c1 - c2 + c12)
      |           * ln(CAST(n - c1 - c2 + c12 AS DOUBLE)) ELSE 0 END)
      |    - (CASE WHEN c1 > 0 THEN c1 * ln(CAST(c1 AS DOUBLE))
      |            ELSE 0 END)
      |    - (CASE WHEN n - c1 > 0
      |         THEN (n - c1) * ln(CAST(n - c1 AS DOUBLE)) ELSE 0 END)
      |    - (CASE WHEN c2 > 0 THEN c2 * ln(CAST(c2 AS DOUBLE))
      |            ELSE 0 END)
      |    - (CASE WHEN n - c2 > 0
      |         THEN (n - c2) * ln(CAST(n - c2 AS DOUBLE)) ELSE 0 END)
      |    + n * ln(CAST(n AS DOUBLE))), 4) AS llr
      |FROM cnt JOIN c1t USING (w1) JOIN c2t USING (w2) CROSS JOIN nt
      |ORDER BY llr DESC, w1, w2 LIMIT 20""".stripMargin

  // ─────────────── Zipf rank-frequency fit ───────────────

  /** Zipf fit: OLS of ln(freq) on ln(rank) over the term vocabulary —
    * slope ≈ −1 is the natural-language signature; the synthetic
    * corpus's flat vocabulary shows up as a slope near 0, which is
    * exactly what the diagnostic is for. The global rank window runs
    * over the term dictionary (one row per term, ≪ corpus — q_tok_vocab
    * precedent), never the token stream; the regression aggregates are
    * single-pass mergeable co-moments (q_corr_stats precedent), round(4).
    */
  def qZipfFit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lexicon(spark, sfDir).select(col("term"), col("ctf").as("c"))
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("c"), asc("term"))))
      .agg(count(lit(1)).as("n_terms"),
        round(expr("regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 4)
          .as("slope"),
        round(expr("regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 4)
          .as("icept"),
        round(expr("regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 4)
          .as("r2"))
      .orderBy("n_terms")

  val qZipfFitSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
      |r AS (SELECT term, c,
      |    row_number() OVER (ORDER BY c DESC, term) AS rank FROM tf)
      |SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |  round(regr_slope(ln(CAST(c AS DOUBLE)),
      |    ln(CAST(rank AS DOUBLE))), 4) AS slope,
      |  round(regr_intercept(ln(CAST(c AS DOUBLE)),
      |    ln(CAST(rank AS DOUBLE))), 4) AS icept,
      |  round(regr_r2(ln(CAST(c AS DOUBLE)),
      |    ln(CAST(rank AS DOUBLE))), 4) AS r2
      |FROM r ORDER BY n_terms""".stripMargin

  // ─────────────── per-segment index statistics ───────────────

  /** Index observability: per segment (even/odd doc split — the same
    * segmentation q_index_merge compacts), distinct terms, posting
    * count, and token total. One aggregate pass over the postings: a
    * posting is one row and its tf is its token count, so only the
    * term count needs a distinct.
    */
  def qSegmentStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.postings(spark, sfDir)
      .groupBy((col("doc_id") % 2).as("segment"))
      .agg(countDistinct("term").as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum("tf").as("n_tokens"))
      .orderBy("segment")

  val qSegmentStatsSql: String =
    """WITH tok AS (SELECT doc_id, doc_id % 2 AS segment,
      |    unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT segment, count(DISTINCT term) AS n_terms,
      |  count(DISTINCT (term, doc_id)) AS n_postings,
      |  count(*) AS n_tokens
      |FROM tok GROUP BY segment ORDER BY segment""".stripMargin

  // ─────────────── typeahead autocomplete ───────────────

  /** Typeahead: top-3 completions per 2-char prefix, ranked by corpus
    * frequency (tf desc, term asc). The rank window partitions the
    * term dictionary by prefix — bounded keys, tiny partitions — which
    * is exactly the precomputed completion table a search box serves
    * from.
    */
  def qAutocomplete(spark: SparkSession, sfDir: String): DataFrame = {
    val byPrefix = Window.partitionBy("prefix")
      .orderBy(desc("tf"), asc("term"))
    Tables.lexicon(spark, sfDir).select(col("term"), col("ctf").as("tf"))
      .filter(length(col("term")) >= 2)
      .withColumn("prefix", substring(col("term"), 1, 2))
      .withColumn("rank", row_number().over(byPrefix))
      .filter(col("rank") <= 3)
      .select(col("prefix"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"))
      .orderBy("prefix", "rank")
  }

  val qAutocompleteSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
      |r AS (SELECT substr(term, 1, 2) AS prefix, term, tf,
      |    row_number() OVER (PARTITION BY substr(term, 1, 2)
      |      ORDER BY tf DESC, term) AS rn
      |  FROM tf WHERE length(term) >= 2)
      |SELECT prefix, CAST(rn AS BIGINT) AS rank, term, tf
      |FROM r WHERE rn <= 3
      |ORDER BY prefix, rn""".stripMargin

  // ─────────────── vector-space-model retrieval ───────────────

  /** Vector-space-model retrieval: cosine between the {spark, join}
    * unit-weight query vector and each doc's tf-idf vector, top-10.
    * Unlike q_search_and's score SUM, VSM length-normalizes by the doc
    * norm — verbose docs stop winning by volume. The per-doc cosines are
    * the memoized [[SearchPlus.vsmScoredM]] list that the fusion and
    * evaluation ops rank from, so this op is its top-10 cut.
    */
  def qVsmCosine(spark: SparkSession, sfDir: String): DataFrame =
    Search.topK(SearchPlus.vsmScoredM(spark, sfDir), 10, "cos")

  val qVsmCosineSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
      |  GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |w AS (SELECT tf.doc_id, tf.term,
      |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS s
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |nrm AS (SELECT doc_id, sqrt(sum(s * s)) AS nrm FROM w
      |  GROUP BY doc_id),
      |dot AS (SELECT doc_id, sum(s) AS dp FROM w
      |  WHERE term IN ('spark', 'join') GROUP BY doc_id)
      |SELECT d.doc_id, round(d.dp / (m.nrm * sqrt(2.0)), 4) AS cos
      |FROM dot d JOIN nrm m USING (doc_id)
      |ORDER BY cos DESC, doc_id LIMIT 10""".stripMargin

  // ─────────────── front-coded dictionary compression ───────────────

  /** Front-coding of the sorted term dictionary (the other half of index
    * compression next to q_index_delta's posting varints): each term
    * stores only its suffix after the longest common prefix with its
    * predecessor. The LCP is the COUNT of prefix lengths that match —
    * prefix matching is monotone in length, so the filter-count equals
    * the LCP without any loop.
    *
    * Two-phase predecessor (round 8, q_equidepth_hist treatment): the
    * round-7 form was ONE unpartitioned lag window over the whole vocab —
    * a single task holding ~10⁸ terms at 100 TB (Heaps' law). Now the
    * lag partitions on the term's FIRST CHARACTER (deterministic bucket,
    * bounded alphabet — corpus tokens are [a-z0-9] runs), and each
    * bucket's first term takes its predecessor from the ≤36-row
    * per-bucket max relation (broadcast). Identical lcp per term →
    * identical output/oracle/golden; the corpus-sized window is gone.
    */
  def qIdxPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables.lexicon(spark, sfDir).select("term")
      .withColumn("b", substring(col("term"), 1, 1))
    // per-bucket boundary: the max term of the PREVIOUS non-empty bucket
    // (bounded ≤|alphabet| rows, so its own window is trivially small)
    val bounds = v.groupBy("b").agg(max("term").as("bmax"))
      .withColumn("prev_bmax", max("bmax").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)))
      .select("b", "prev_bmax")
    val wIn = Window.partitionBy("b").orderBy("term")
    v.join(broadcast(bounds), "b")
      .withColumn("prev",
        coalesce(lag("term", 1).over(wIn), col("prev_bmax")))
      // native codegen'd byte-loop LCP (graft.functions.Lcp) — same
      // answer as the HOF filter-count formulation the oracle keeps
      // (prefix matching is monotone), without the ~5 s one-shot codegen
      // of a 3-level interpreted lambda at every fresh JVM. NULL prev
      // (the global first term) coalesces to 0 like the old CASE arm;
      // the empty-term edge is byte-loop-natural (lcp 0), where the HOF
      // needed an explicit sequence(1, 0) guard.
      .withColumn("lcp",
        coalesce(graft.functions.Lcp.of(col("term"), col("prev")), lit(0)))
      .agg(count(lit(1)).as("n_terms"),
        sum(length(col("term"))).cast("long").as("raw_bytes"),
        sum(length(col("term")) - col("lcp")).cast("long").as("coded_bytes"),
        sum(col("lcp")).cast("long").as("saved_bytes"),
        expr("(sum(lcp) * 1000000) div sum(length(term))").as("saved_ppm"))
      .orderBy("n_terms")
  }

  val qIdxPrefixSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |v AS (SELECT DISTINCT term FROM tok),
      |s AS (SELECT term, lag(term) OVER (ORDER BY term) AS prev FROM v),
      |p AS (SELECT term,
      |    CASE WHEN prev IS NULL THEN 0
      |         ELSE len(list_filter(generate_series(1,
      |             least(length(term), length(prev))),
      |           i -> substr(term, 1, i) = substr(prev, 1, i))) END AS lcp
      |  FROM s)
      |SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(length(term)) AS BIGINT) AS raw_bytes,
      |  CAST(sum(length(term) - lcp) AS BIGINT) AS coded_bytes,
      |  CAST(sum(lcp) AS BIGINT) AS saved_bytes,
      |  CAST((sum(lcp) * 1000000) // sum(length(term)) AS BIGINT)
      |    AS saved_ppm
      |FROM p ORDER BY n_terms""".stripMargin

  // ─────────────── faceted search ───────────────

  /** Faceted search: the (lang × source) facet counts a result page
    * shows next to the 'spark' hit list. The hit set is the term's
    * postings (one row per doc), facets are one partial-aggregable
    * groupBy on the bounded facet space.
    */
  def qSearchFacets(spark: SparkSession, sfDir: String): DataFrame = {
    val hits = Tables.docTerms(spark, sfDir)
      .filter(col("term") === "spark").select("doc_id")
    Tables.t(spark, sfDir, "documents")
      .join(hits, "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang", "source")
  }

  val qSearchFacetsSql: String =
    """WITH tok AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(text, ' ')) AS term FROM documents),
      |hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark')
      |SELECT d.lang, d.source, count(*) AS n_docs,
      |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
      |FROM documents d JOIN hits USING (doc_id)
      |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin

  // ─────────────── stopword pruning impact ───────────────

  /** Stopword-pruning audit: how much of the index disappears if terms
    * with df ≥ 70% of the corpus are dropped — the sizing decision an
    * index builder makes before materializing posting lists. Exact
    * integer arithmetic throughout (df·100 ≥ n_docs·70 avoids any
    * float ratio); one vocab-bounded aggregate over the term
    * dictionary's df, with the corpus size inlined as a literal.
    */
  def qIdxStopword(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lexicon(spark, sfDir).select("term", "df")
      .withColumn("n_docs", lit(Tables.corpusStats(spark, sfDir).nDocs))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("df") * 100 >= col("n_docs") * 70, 1L).otherwise(0L))
          .as("n_stop"),
        sum("df").as("postings"),
        sum(when(col("df") * 100 >= col("n_docs") * 70, col("df"))
          .otherwise(0L)).as("postings_pruned"),
        expr("(sum(CASE WHEN df * 100 >= n_docs * 70 THEN df ELSE 0 END)" +
          " * 1000000) div sum(df)").as("pruned_ppm"))
      .orderBy("n_terms")

  val qIdxStopwordSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |pd AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfp AS (SELECT term, count(*) AS df FROM pd GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(CASE WHEN df * 100 >= n.n_docs * 70 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_stop,
      |  CAST(sum(df) AS BIGINT) AS postings,
      |  CAST(sum(CASE WHEN df * 100 >= n.n_docs * 70 THEN df ELSE 0 END)
      |    AS BIGINT) AS postings_pruned,
      |  CAST((sum(CASE WHEN df * 100 >= n.n_docs * 70 THEN df ELSE 0 END)
      |    * 1000000) // sum(df) AS BIGINT) AS pruned_ppm
      |FROM dfp CROSS JOIN n ORDER BY n_terms""".stripMargin

  // ─────────────── champion lists (tiered index) ───────────────

  /** Tier-1 champion lists: the top-3 docs per term by tf — the
    * precomputed high-score tier a tiered index serves before touching
    * the full posting list. Rank window partitions on term over the
    * postings, which are already term-partitioned: no Exchange.
    */
  def qIdxChampion(spark: SparkSession, sfDir: String): DataFrame = {
    val byTerm = Window.partitionBy("term").orderBy(desc("tf"), asc("doc_id"))
    Tables.postings(spark, sfDir)
      .withColumn("rank", row_number().over(byTerm))
      .filter(col("rank") <= 3)
      .select(col("term"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("tf"))
      .orderBy("term", "rank")
  }

  val qIdxChampionSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |pd AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
      |r AS (SELECT term, doc_id, tf,
      |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id)
      |      AS rn
      |  FROM pd)
      |SELECT term, CAST(rn AS BIGINT) AS rank, doc_id, tf
      |FROM r WHERE rn <= 3 ORDER BY term, rn""".stripMargin

  // ─────────────── windowed co-occurrence counts ───────────────

  /** Context-window co-occurrence: unordered term pairs within a ±2
    * token window (the word2vec-style context-count matrix), top-20 —
    * narrower context than q_cooccur_pmi's whole-doc co-occurrence and
    * looser than q_collocation's strict adjacency. The pair expansion is
    * IN-ROW (each token pairs only with the next two positions), so the
    * stream is ≤ 2 pairs per token — linear in the corpus, no
    * positional self-join.
    */
  def qCooccurWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .withColumn("arr", split(col("text"), " "))
      .select(explode(expr(
        """flatten(transform(arr, (x, i) ->
          |  transform(slice(arr, i + 2, 2), y ->
          |    named_struct(
          |      'w1', CASE WHEN x < y THEN x ELSE y END,
          |      'w2', CASE WHEN x < y THEN y ELSE x END))))"""
          .stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_cooccur"))
      .orderBy(desc("n_cooccur"), asc("w1"), asc("w2"))
      .limit(20)

  val qCooccurWindowSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents),
      |p AS (SELECT doc_id, i AS pos, arr[i] AS term, arr AS arr,
      |    len(arr) AS n
      |  FROM d, unnest(generate_series(1, len(arr))) t(i)),
      |pairs AS (SELECT
      |    CASE WHEN p.term < arr[j] THEN p.term ELSE arr[j] END AS w1,
      |    CASE WHEN p.term < arr[j] THEN arr[j] ELSE p.term END AS w2
      |  FROM p, unnest(generate_series(p.pos + 1,
      |      least(p.pos + 2, p.n))) t2(j))
      |SELECT w1, w2, count(*) AS n_cooccur
      |FROM pairs GROUP BY w1, w2
      |ORDER BY n_cooccur DESC, w1, w2 LIMIT 20""".stripMargin

  // ─────────────── Heaps'-law vocabulary growth (round 7) ───────────────

  /** Heaps'-law vocabulary-growth curve: vocabulary size after ingesting
    * the first 10%, 20%, … 100% of the corpus (by doc_id, the ingestion
    * order) — the diagnostic that sizes term dictionaries and predicts
    * OOV rates as a corpus grows, complementing [[qZipfFit]]'s
    * rank-frequency view. The curve needs only each term's FIRST doc_id
    * (one term-keyed postings aggregate): V(threshold) = |{terms:
    * first_doc ≤ threshold}|, evaluated against a broadcast 10-row
    * decile grid via a bounded theta join — the vocabulary is never
    * re-scanned per decile and the postings are read once. All exact
    * ints.
    */
  def qHeapsLaw(spark: SparkSession, sfDir: String): DataFrame = {
    val fm = Tables.postings(spark, sfDir)
      .groupBy("term").agg(min("doc_id").as("fd"))
    val mx = Tables.t(spark, sfDir, "documents")
      .agg(max("doc_id").as("m"))
    val grid = spark.range(1, 11).select(col("id").as("decile"))
      .crossJoin(broadcast(mx))
      .withColumn("t", expr("m * decile div 10"))
      .select("decile", "t")
    val vocab = fm.join(broadcast(grid), col("fd") <= col("t"))
      .groupBy("decile", "t").agg(count(lit(1)).as("vocab"))
    val docs = Tables.t(spark, sfDir, "documents").select("doc_id")
      .join(broadcast(grid), col("doc_id") <= col("t"))
      .groupBy("decile").agg(count(lit(1)).as("n_docs"))
    vocab.join(broadcast(docs), "decile")
      .select(col("decile"), col("t").as("max_doc_id"), col("n_docs"),
        col("vocab"))
      .orderBy("decile")
  }

  val qHeapsLawSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |fm AS (SELECT term, min(doc_id) AS fd FROM tok GROUP BY term),
      |mx AS (SELECT max(doc_id) AS m FROM documents),
      |grid AS (SELECT unnest(generate_series(1, 10)) AS decile),
      |thr AS (SELECT decile, (SELECT m FROM mx) * decile // 10 AS t
      |  FROM grid)
      |SELECT decile, CAST(t AS BIGINT) AS max_doc_id,
      |  CAST((SELECT count(*) FROM documents WHERE doc_id <= t)
      |    AS BIGINT) AS n_docs,
      |  CAST((SELECT count(*) FROM fm WHERE fd <= t) AS BIGINT) AS vocab
      |FROM thr ORDER BY decile""".stripMargin
}
