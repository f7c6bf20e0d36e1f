package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Search.{topK, topKRanks}

/** Round-3 search-engine extensions (SURVEY.md §2.9): positional
  * proximity search, PMI co-occurrence mining (query-expansion input),
  * snippet/highlight generation.
  *
  * Scale notes: proximity joins two TERM-FILTERED posting lists on
  * doc_id (the filter lands on the scan, so each side is a term's
  * postings, not the corpus); PMI's pair join is per-doc bounded and
  * its df side is vocabulary-bounded; snippets are one narrow pass.
  */
object SearchPlus {

  private val TermA = "spark"
  private val TermB = "query"

  /** Positional postings for one term: (doc_id, pos), read off the
    * postings' position lists. The index is 0-based and DuckDB's
    * generate_series 1-based; proximity only emits position
    * differences, so no shift is needed. */
  private def positions(spark: SparkSession, sfDir: String,
      term: String): DataFrame =
    Tables.postings(spark, sfDir)
      .filter(col("term") === term)
      .select(col("doc_id"), explode(col("pos")).as("pos"))

  /** Proximity search: docs where TermA and TermB occur within 3 token
    * positions; reports the closest distance and the number of close
    * pairs. The classic positional-index query — two posting lists
    * equi-joined on doc_id. */
  def qSearchProximity(spark: SparkSession, sfDir: String): DataFrame = {
    val a = positions(spark, sfDir, TermA).withColumnRenamed("pos", "pa")
    val b = positions(spark, sfDir, TermB).withColumnRenamed("pos", "pb")
    a.join(b, Seq("doc_id"))
      .withColumn("dist", abs(col("pa") - col("pb")))
      .filter(col("dist") <= 3)
      .groupBy("doc_id")
      .agg(min("dist").cast("long").as("min_dist"), count(lit(1)).as("n_pairs"))
      .orderBy("doc_id")
  }

  val qSearchProximitySql: String =
    s"""WITH p AS (SELECT doc_id, i AS pos, arr[i] AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS arr
      |        FROM documents),
      |    unnest(generate_series(1, len(arr))) t(i)),
      |a AS (SELECT doc_id, pos FROM p WHERE term = '$TermA'),
      |b AS (SELECT doc_id, pos FROM p WHERE term = '$TermB')
      |SELECT a.doc_id, min(abs(a.pos - b.pos)) AS min_dist,
      |  count(*) AS n_pairs
      |FROM a JOIN b ON a.doc_id = b.doc_id
      |  AND abs(a.pos - b.pos) <= 3
      |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin

  /** Top-20 term pairs by pointwise mutual information over doc-level
    * co-occurrence — the standard query-expansion / related-terms
    * signal. log2 of a ratio of exact integer counts; round(4) absorbs
    * libm last-ulp differences (q_fn_trig precedent). */
  def qCooccurPmi(spark: SparkSession, sfDir: String): DataFrame = {
    // both self-join sides read the postings' (doc_id, term) pairs, df
    // comes from the term dictionary and n_docs is a literal, so nothing
    // is distinct-ed or checkpointed per invocation
    val dt = Tables.docTerms(spark, sfDir)
    val df_ = Tables.lexicon(spark, sfDir).select("term", "df")
    val pairs = dt.toDF("doc_id", "ta")
      .join(dt.toDF("doc_id", "tb"), Seq("doc_id"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("nab"))
    pairs
      .join(broadcast(df_.toDF("ta", "dfa")), Seq("ta"))
      .join(broadcast(df_.toDF("tb", "dfb")), Seq("tb"))
      .withColumn("n_docs", lit(Tables.corpusStats(spark, sfDir).nDocs))
      .select(col("ta"), col("tb"), col("nab"),
        round(log2(col("nab") * col("n_docs") /
          (col("dfa") * col("dfb"))), 4).as("pmi"))
      .orderBy(desc("pmi"), asc("ta"), asc("tb"))
      .limit(20)
  }

  val qCooccurPmiSql: String =
    """WITH dt AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(text, ' ')) AS term FROM documents),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
      |pairs AS (SELECT a.term AS ta, b.term AS tb, count(*) AS nab
      |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      |  GROUP BY ta, tb)
      |SELECT ta, tb, nab,
      |  round(log2(nab * n_docs / (fa.df * fb.df)), 4) AS pmi
      |FROM pairs JOIN df fa ON fa.term = ta JOIN df fb ON fb.term = tb,
      |  n
      |ORDER BY pmi DESC, ta, tb LIMIT 20""".stripMargin

  /** Snippet generation: for docs matching TermA, a ±2-token window
    * around the FIRST hit (1-based hit position + highlighted text).
    * One narrow pass — split, array_position, slice, re-join; no
    * shuffle before the final presentation sort. */
  def qSearchSnippet(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .withColumn("parts", split(col("text"), " "))
      .withColumn("hit", array_position(col("parts"), TermA))
      .filter(col("hit") > 0)
      .withColumn("from", greatest(col("hit") - 2, lit(1)))
      .withColumn("upto", least(col("hit") + 2, size(col("parts"))))
      .select(col("doc_id"), col("hit"),
        array_join(slice(col("parts"), col("from").cast("int"),
          (col("upto") - col("from") + 1).cast("int")), " ")
          .as("snippet"))
      .orderBy("doc_id")

  val qSearchSnippetSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS parts,
      |    list_position(string_split(text, ' '), '$TermA') AS hit
      |  FROM documents)
      |SELECT doc_id, CAST(hit AS BIGINT) AS hit,
      |  array_to_string(
      |    parts[greatest(hit - 2, 1):least(hit + 2, len(parts))],
      |    ' ') AS snippet
      |FROM d WHERE hit > 0 ORDER BY doc_id""".stripMargin

  /** Keyword extraction: the top-3 TF-IDF terms per document — the
    * classic "about-ness" tags a search index stores alongside each doc.
    * Ranking key is round(score, 4) (grid-aligned on both engines; raw
    * ln() scores can differ in the last ulp across libms and flip a
    * rank) with the term as tiebreak. One doc-keyed window over the
    * already-aggregated tf-idf table — no extra corpus scan.
    */
  def qKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(desc("s4"), asc("term"))
    Search.tfidfRaw(spark, sfDir)
      .withColumn("s4", round(col("score"), 4))
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("term"), col("s4").as("score"))
      .orderBy("doc_id", "rk")
  }

  val qKeywordsSql: String =
    s"""${Search.tfidfCte},
      |r AS (SELECT doc_id, term, round(score, 4) AS s4,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY round(score, 4) DESC, term) AS rk
      |  FROM scores)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, s4 AS score
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ─────────────── hybrid-retrieval rank fusion (round 6) ───────────────

  /** Fusion depth per list and the RRF smoothing constant (k = 60, the
    * value from Cormack/Clarke/Buettcher 2009). Each list is ranked by
    * its ROUNDED score ([[Search.topKRanks]]): both engines rank
    * identical round(4) doubles, so ranks are engine-portable. */
  private val FuseK = 20
  private val RrfC = 60

  /** Reciprocal-rank fusion of two retrieval lists for {spark, join} —
    * the standard hybrid-search combiner (lexical ⊕ vector list, RRF =
    * Σ 1/(c + rankᵢ)): here the BM25 ranking fused with the VSM tf-idf
    * cosine ranking, i.e. two scoring functions over the same index, the
    * shape a user fuses when the second list comes from an ANN index.
    * Scale: each list is a term-filtered-postings TakeOrdered top-K (never a corpus
    * sort); the fusion input is 2K rows. Determinism: ranks are ints;
    * each doc sums ≤ 2 identical doubles (IEEE + is commutative, and
    * ties cannot flip the cut because the ORDER BY is on the round(6)
    * value both engines computed from the same ints).
    */
  def qSearchRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = topKRanks(Search.lexScores(spark, sfDir), FuseK, "score")
    val sem = topKRanks(vsmScoredM(spark, sfDir), FuseK, "cos")
    topK(lex.unionByName(sem)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lists"),
        round(sum(lit(1.0) / (col("r") + RrfC)), 6).as("rrf")), 10, "rrf")
  }

  /** VSM cosine per doc (dp over the two query terms / doc norm,
    * round(4)) — q_vsm_cosine is its top-10 cut, and the fusion lists
    * rank deeper. Memoized + eagerly checkpointed like Search.lexScores:
    * the norm denominator is a FULL-corpus tfidf pass, and four
    * consumers (q_vsm_cosine, RRF, interleave, RBO) each re-derived it
    * per execution. Output is |docs matching either term|-sized —
    * posting-bounded. */
  private[queries] val vsmScoredM = Tables.memo { (spark, sfDir) =>
    Tables.localCheckpoint(vsmScored(spark, sfDir))
  }

  private def vsmScored(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Search.tfidfRaw(spark, sfDir).select("doc_id", "term", "score")
    val nrm = w.groupBy("doc_id")
      .agg(sqrt(sum(col("score") * col("score"))).as("nrm"))
    w.filter(col("term").isin("spark", "join"))
      .groupBy("doc_id").agg(sum(col("score")).as("dp"))
      .join(nrm, "doc_id")
      .select(col("doc_id"),
        round(col("dp") / (col("nrm") * math.sqrt(2.0)), 4).as("cos"))
  }

  private val vsmScoredCtes: String =
    """w AS (SELECT tf.doc_id, tf.term,
      |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS ws
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |nrm AS (SELECT doc_id, sqrt(sum(ws * ws)) AS nrm FROM w
      |  GROUP BY doc_id),
      |dot AS (SELECT doc_id, sum(ws) AS dp FROM w
      |  WHERE term IN ('spark', 'join') GROUP BY doc_id),
      |vsms AS (SELECT d.doc_id,
      |    round(d.dp / (m.nrm * sqrt(2.0)), 4) AS cos
      |  FROM dot d JOIN nrm m USING (doc_id))""".stripMargin

  val qSearchRrfSql: String =
    s"""${Search.bm25ScoredCte(Seq("spark", "join"))},
      |lexs AS (SELECT doc_id, round(sum(s), 4) AS score FROM scored
      |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |lex AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY score DESC, doc_id) AS r FROM lexs),
      |$vsmScoredCtes,
      |sem AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY cos DESC, doc_id) AS r FROM vsms),
      |u AS (SELECT doc_id, r FROM lex WHERE r <= $FuseK
      |  UNION ALL SELECT doc_id, r FROM sem WHERE r <= $FuseK)
      |SELECT doc_id, count(*) AS n_lists,
      |  round(sum(1.0 / (r + $RrfC)), 6) AS rrf
      |FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // ─────────────── diversity-capped re-ranking (round 6) ───────────────

  /** Source-diversified top-10 for the BM25 {spark, join} ranking: at
    * most 2 results per `source` (the federated-results / site-collapse
    * operator every result page runs), then the global cut. Plan: the
    * per-source cap is a row_number window PARTITIONED on source (each
    * partition is one source's matching docs — skew-free, and the
    * rank ≤ 2 filter is again the WindowGroupLimit shape); the final
    * top-10 sorts only the capped set (≤ 2·|sources| rows).
    */
  def qSearchDiverse(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Search.lexScores(spark, sfDir)
    val bySrc = Window.partitionBy("source")
      .orderBy(desc("score"), asc("doc_id"))
    topK(scored
      .join(Tables.t(spark, sfDir, "documents").select("doc_id", "source"),
        "doc_id")
      .withColumn("src_rank", row_number().over(bySrc))
      .filter(col("src_rank") <= 2)
      .select(col("doc_id"), col("source"),
        col("src_rank").cast("long").as("src_rank"), col("score")), 10)
  }

  val qSearchDiverseSql: String =
    s"""${Search.bm25ScoredCte(Seq("spark", "join"))},
      |s2 AS (SELECT doc_id, round(sum(s), 4) AS score FROM scored
      |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |capped AS (SELECT s2.doc_id, d.source, s2.score,
      |    row_number() OVER (PARTITION BY d.source
      |      ORDER BY s2.score DESC, s2.doc_id) AS src_rank
      |  FROM s2 JOIN documents d ON s2.doc_id = d.doc_id)
      |SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank, score
      |FROM capped WHERE src_rank <= 2
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ─────────────── ranking-quality evaluation (round 6) ───────────────

  /** NDCG@10 of the BM25 {spark, join} ranking — the evaluation loop a
    * search engine ships next to the ranker. Relevance labels are the
    * exact integer tf of 'spark' per doc (a deterministic stand-in for
    * human judgments; every retrieved doc matches both terms so rel ≥ 1
    * and IDCG > 0 by construction). DCG = Σ rel/log₂(rank+1) over the
    * retrieved 10; IDCG re-ranks the SAME 10 docs by rel (the
    * retrieved-set NDCG variant); ndcg = DCG/IDCG. Scale: the list is
    * the TakeOrdered top-10; rel is one term's postings (a term-filtered
    * aggregate); the eval itself touches 10 rows. Determinism: integer
    * rel and ranks; log₂ of small ints agrees across engines at the
    * round(4) grid (the q_tfidf ln() precedent).
    */
  def qEvalNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = topKRanks(Search.lexScores(spark, sfDir), 10)
    val rel = Tables.postings(spark, sfDir)
      .filter(col("term") === "spark")
      .select(col("doc_id"), col("tf").as("rel"))
    ranked.join(rel, "doc_id")
      .withColumn("ir", row_number().over(
        Window.orderBy(desc("rel"), asc("doc_id"))))
      .agg(
        round(sum(col("rel") / log2(col("r") + 1)), 4).as("dcg"),
        round(sum(col("rel") / log2(col("ir") + 1)), 4).as("idcg"),
        round(sum(col("rel") / log2(col("r") + 1)) /
          sum(col("rel") / log2(col("ir") + 1)), 4).as("ndcg"))
  }

  /** Balanced interleaving (Joachims 2002) of the BM25 and VSM-cosine
    * top-10 lists — the ONLINE ranker-comparison primitive: the merged
    * list alternates the two rankers' picks (lexical docs at odd slots
    * 2r−1, vector docs at even slots 2r), a doc appearing in both lists
    * keeps its FIRST slot, and the team column attributes each result
    * so clicks can be credited. Complements q_search_rrf (fusion for
    * serving) with the A/B-evaluation interleave. Slot parity makes
    * cross-team ties impossible, so the merge is a min-struct per doc —
    * no sequential draft state; both lists are the same term-filtered
    * TakeOrdered top-K shapes as the fusion, so nothing scans the corpus
    * beyond the postings of the query terms.
    */
  def qEvalInterleave(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = topKRanks(Search.lexScores(spark, sfDir), FuseK, "score")
      .filter(col("r") <= 10)
      .select(col("doc_id"), (col("r") * 2 - 1).as("p"),
        lit("lex").as("team"), col("r"))
    val sem = topKRanks(vsmScoredM(spark, sfDir), FuseK, "cos")
      .filter(col("r") <= 10)
      .select(col("doc_id"), (col("r") * 2).as("p"),
        lit("sem").as("team"), col("r"))
    lex.unionByName(sem)
      .groupBy("doc_id")
      .agg(min(struct(col("p"), col("team"), col("r"))).as("f"))
      .select(col("doc_id"), col("f.p").as("p"), col("f.team").as("team"),
        col("f.r").cast("long").as("orig_rank"))
      .orderBy("p")
      .limit(10)
      .withColumn("pos", row_number().over(Window.orderBy("p")).cast("long"))
      .select("pos", "doc_id", "team", "orig_rank")
      .orderBy("pos")
  }

  val qEvalInterleaveSql: String =
    s"""${Search.bm25ScoredCte(Seq("spark", "join"))},
      |lexs AS (SELECT doc_id, round(sum(s), 4) AS score FROM scored
      |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |lex AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY score DESC, doc_id) AS r FROM lexs),
      |$vsmScoredCtes,
      |sem AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY cos DESC, doc_id) AS r FROM vsms),
      |u AS (SELECT doc_id, 2 * r - 1 AS p, 'lex' AS team, r FROM lex
      |    WHERE r <= 10
      |  UNION ALL SELECT doc_id, 2 * r, 'sem', r FROM sem WHERE r <= 10),
      |f AS (SELECT doc_id, min(p) AS p FROM u GROUP BY doc_id),
      |t AS (SELECT f.doc_id, f.p, u.team, u.r AS orig_rank
      |  FROM f JOIN u ON u.doc_id = f.doc_id AND u.p = f.p
      |  ORDER BY f.p LIMIT 10)
      |SELECT row_number() OVER (ORDER BY p) AS pos, doc_id, team,
      |  orig_rank
      |FROM t ORDER BY pos""".stripMargin

  /** MAP@10 of the same BM25 ranking under BINARY relevance (tf of
    * 'spark' ≥ 2) — the second standard ranking-quality metric next to
    * [[qEvalNdcg]]'s graded NDCG: AP rewards putting relevant docs EARLY,
    * NDCG rewards graded ordering. AP@10 = Σₖ relₖ·P@k / min(R, 10).
    * Exact-integer formulation: P@k = cum_k/k is kept rational with the
    * common denominator lcm(1..10) = 2520, so the numerator
    * Σ relₖ·cumₖ·(2520 div k) is an integer sum — cross-engine exact —
    * and ONE final double division lands on round(4). The eval touches
    * 10 rows; the relevant-set aggregate is one term-filtered pass.
    */
  def qEvalMap(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = topKRanks(Search.lexScores(spark, sfDir), 10)
    val rel = Tables.postings(spark, sfDir)
      .filter(col("term") === "spark" && col("tf") >= 2)
      .select("doc_id")
    val nrel = rel.agg(count(lit(1)).as("n_rel"))
    ranked.join(rel.withColumn("relv", lit(1L)), Seq("doc_id"), "left")
      .withColumn("relv", coalesce(col("relv"), lit(0L)))
      .withColumn("cum", sum("relv").over(Window.orderBy("r")))
      .agg(sum("relv").as("n_rel_ret"),
        sum(col("relv") * col("cum") * (lit(2520L) / col("r"))
          .cast("long")).as("apnum"))
      .crossJoin(broadcast(nrel))
      .select(col("n_rel"), col("n_rel_ret"),
        round(col("apnum") /
          (lit(2520.0) * greatest(least(col("n_rel"), lit(10L)), lit(1L))),
          4).as("ap10"))
  }

  val qEvalMapSql: String =
    s"""${Search.bm25ScoredCte(Seq("spark", "join"))},
      |s2 AS (SELECT doc_id, round(sum(s), 4) AS score FROM scored
      |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |ranked AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY score DESC, doc_id) AS r
      |  FROM s2 ORDER BY score DESC, doc_id LIMIT 10),
      |rel AS (SELECT doc_id FROM tok WHERE term = 'spark'
      |  GROUP BY doc_id HAVING count(*) >= 2),
      |j AS (SELECT ranked.doc_id, ranked.r,
      |    CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END AS relv
      |  FROM ranked LEFT JOIN rel ON rel.doc_id = ranked.doc_id),
      |c AS (SELECT r, relv, sum(relv) OVER (ORDER BY r) AS cum FROM j)
      |SELECT (SELECT count(*) FROM rel) AS n_rel,
      |  CAST(sum(relv) AS BIGINT) AS n_rel_ret,
      |  round(sum(relv * cum * (2520 // r)) /
      |    (2520.0 * greatest(least((SELECT count(*) FROM rel), 10), 1)),
      |    4) AS ap10
      |FROM c ORDER BY ap10""".stripMargin

  val qEvalNdcgSql: String =
    s"""${Search.bm25ScoredCte(Seq("spark", "join"))},
      |s2 AS (SELECT doc_id, round(sum(s), 4) AS score FROM scored
      |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |ranked AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY score DESC, doc_id) AS r
      |  FROM s2 ORDER BY score DESC, doc_id LIMIT 10),
      |rel AS (SELECT doc_id, count(*) AS rel FROM tok
      |  WHERE term = 'spark' GROUP BY doc_id),
      |j AS (SELECT ranked.doc_id, ranked.r, rel.rel,
      |    row_number() OVER (ORDER BY rel.rel DESC, ranked.doc_id) AS ir
      |  FROM ranked JOIN rel USING (doc_id))
      |SELECT round(sum(rel / log2(r + 1)), 4) AS dcg,
      |  round(sum(rel / log2(ir + 1)), 4) AS idcg,
      |  round(sum(rel / log2(r + 1)) / sum(rel / log2(ir + 1)), 4)
      |    AS ndcg
      |FROM j ORDER BY ndcg""".stripMargin

  // ─────────────── rank-biased overlap (round 6, late wave) ───────────────

  private val RboDepth = 10
  private val RboP = 0.9

  /** Truncated rank-biased overlap @10 (Webber et al. 2010) between the
    * BM25 and VSM-cosine top-10 lists — the third leg of the ranker-
    * comparison kit next to [[qEvalInterleave]] (online) and
    * [[qEvalNdcg]]/[[qEvalMap]] (labeled): RBO compares two rankings
    * WITHOUT relevance labels, top-weighted so rank-1 disagreement costs
    * more than rank-10. Reported as the depth-normalized prefix sum
    * rbo = Σ_{d≤10} p^{d−1}·(X_d/d) / Σ_{d≤10} p^{d−1} with p = 0.9,
    * where X_d = |A_1..d ∩ B_1..d| — a weighted average of prefix
    * agreements, 1.0 iff the lists agree at every depth. Scale: both
    * lists are the same term-filtered TakeOrdered top-K shapes as the
    * RRF fusion; a doc in both lists enters the intersection at depth
    * max(r_a, r_b), so X_d needs only the ≤10 common docs joined to a
    * 10-row depth spine — nothing after list extraction touches the
    * corpus. Determinism: X_d and d are exact ints; the 10 p^{d−1}
    * doubles are identical constants in both engines and are summed in
    * the same ascending-d order (one tiny ordered aggregate).
    */
  def qRankRbo(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = topKRanks(Search.lexScores(spark, sfDir), FuseK, "score")
      .filter(col("r") <= RboDepth)
      .select(col("doc_id"), col("r").as("ra"))
    val sem = topKRanks(vsmScoredM(spark, sfDir), FuseK, "cos")
      .filter(col("r") <= RboDepth)
      .select(col("doc_id"), col("r").as("rb"))
    // a pair's intersection entry depth = max(ra, rb); ≤10 rows survive
    val pairs = lex.join(sem, "doc_id")
      .select(greatest(col("ra"), col("rb")).as("entry"))
    val spine = spark.range(1, RboDepth + 1).select(col("id").as("d"))
    spine.join(pairs, col("entry") <= col("d"), "left")
      .groupBy("d")
      .agg(count(col("entry")).as("xd"))
      .select(col("d"), col("xd"),
        (pow(lit(RboP), col("d") - 1) * col("xd") / col("d")).as("term"),
        pow(lit(RboP), col("d") - 1).as("wt"))
      .sort("d")
      .agg(max(when(col("d") === RboDepth, col("xd"))).as("overlap_at_10"),
        round(sum("term") / sum("wt"), 4).as("rbo"))
  }

  val qRankRboSql: String =
    s"""${Search.bm25ScoredCte(Seq("spark", "join"))},
      |lexs AS (SELECT doc_id, round(sum(s), 4) AS score FROM scored
      |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |lex AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY score DESC, doc_id) AS ra FROM lexs
      |  ORDER BY score DESC, doc_id LIMIT $RboDepth),
      |$vsmScoredCtes,
      |sem AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY cos DESC, doc_id) AS rb FROM vsms
      |  ORDER BY cos DESC, doc_id LIMIT $RboDepth),
      |pairs AS (SELECT greatest(ra, rb) AS entry
      |  FROM lex JOIN sem USING (doc_id)),
      |xs AS (SELECT d, count(entry) AS xd,
      |    pow($RboP, d - 1) * count(entry) / d AS term,
      |    pow($RboP, d - 1) AS wt
      |  FROM generate_series(1, $RboDepth) AS t(d)
      |  LEFT JOIN pairs ON entry <= d GROUP BY d ORDER BY d)
      |SELECT CAST(max(CASE WHEN d = $RboDepth THEN xd END) AS BIGINT)
      |    AS overlap_at_10,
      |  round(sum(term) / sum(wt), 4) AS rbo
      |FROM xs ORDER BY rbo""".stripMargin

  // ───────── multi-query ranking eval: MRR@10 (round 6, late) ─────────

  private val MrrQueries = Seq("spark", "join", "merge", "data")

  /** MRR@10 over a 4-query workload — the first eval here that averages
    * ACROSS queries ([[qEvalNdcg]]/[[qEvalMap]] grade one query): each
    * term is its own single-term BM25 ranking, relevance is tf ≥ 2 of
    * that term (the q_eval_map convention), and the query's score is the
    * reciprocal of its FIRST relevant rank in the top 10 (0 if none).
    * Scale: one bm25Scored pass covers all queries (postings of 4 terms,
    * never the corpus); the per-query top-10 is a rank window
    * PARTITIONED on term (the WindowGroupLimit shape — each partition is
    * one term's postings); the eval then touches ≤ 40 rows. Determinism:
    * ranks and relevance are exact ints; rr = 1/k is one division; mrr
    * averages 4 such doubles (fixed tiny set, round(4) grid).
    */
  def qEvalMrr(spark: SparkSession, sfDir: String): DataFrame = {
    val byTerm = Window.partitionBy("term")
      .orderBy(desc("score"), asc("doc_id"))
    val ranked = Search.bm25Scored(spark, sfDir, MrrQueries)
      .select(col("term"), col("doc_id"), round(col("s"), 4).as("score"))
      .withColumn("r", row_number().over(byTerm))
      .filter(col("r") <= 10)
    val rel = Tables.postings(spark, sfDir)
      .filter(col("term").isin(MrrQueries: _*) && col("tf") >= 2)
      .select("term", "doc_id")
    val firstRel = ranked.join(rel, Seq("term", "doc_id"))
      .groupBy("term").agg(min("r").as("first_rel_rank"))
    import spark.implicits._
    val spine = MrrQueries.toDF("term")
    spine.join(firstRel, Seq("term"), "left")
      .select(col("term"),
        coalesce(col("first_rel_rank"), lit(0)).cast("long")
          .as("first_rel_rank"),
        round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 4)
          .as("rr"))
      .withColumn("mrr", round(avg(
        when(col("first_rel_rank") > 0,
          lit(1.0) / col("first_rel_rank")).otherwise(lit(0.0)))
        .over(Window.partitionBy()), 4))
      .orderBy("term")
  }

  val qEvalMrrSql: String = {
    val in = MrrQueries.map(t => s"'$t'").mkString(", ")
    s"""${Search.bm25ScoredCte(MrrQueries)},
      |ranked AS (SELECT term, doc_id, round(s, 4) AS score,
      |    row_number() OVER (PARTITION BY term
      |      ORDER BY round(s, 4) DESC, doc_id) AS r
      |  FROM scored),
      |rel AS (SELECT term, doc_id FROM tok WHERE term IN ($in)
      |  GROUP BY term, doc_id HAVING count(*) >= 2),
      |fr AS (SELECT term, min(r) AS first_rel_rank
      |  FROM ranked JOIN rel USING (term, doc_id)
      |  WHERE r <= 10 GROUP BY term),
      |sp AS (SELECT unnest([$in]) AS term),
      |rows_ AS (SELECT sp.term,
      |    CAST(coalesce(first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
      |    round(coalesce(1.0 / first_rel_rank, 0.0), 4) AS rr,
      |    coalesce(1.0 / first_rel_rank, 0.0) AS rr_raw
      |  FROM sp LEFT JOIN fr ON fr.term = sp.term)
      |SELECT term, first_rel_rank, rr,
      |  round(avg(rr_raw) OVER (), 4) AS mrr
      |FROM rows_ ORDER BY term""".stripMargin
  }

  // ───────── per-source distinctive terms: log-odds (round 6, late) ─────────

  /** Top-3 distinctive terms per source by smoothed log-odds ratio — the
    * "what is this source actually about" audit (Monroe et al. 2008
    * shape with +1 smoothing): lodds = ln((c_st+1)/(n_s−c_st+1)) −
    * ln((c_rest+1)/(n_rest−c_rest+1)), i.e. the term's in-source odds
    * against its odds everywhere else. Complements [[qKeywords]]' TF-IDF
    * (which favors rarity) with a contrastive statistic. Scale: ONE
    * postings pass builds the (source, term) count relation; everything
    * after — the marginal windows, the log-odds, the per-source rank —
    * runs over the |sources|×|vocab| bounded relation, never documents.
    * Determinism: every ln argument is a ratio of exact BIGINTs; ranks
    * compare the round(4) value with the term tiebreak.
    */
  def qTopicLodds(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Tables.postings(spark, sfDir)
      .join(Tables.t(spark, sfDir, "documents")
        .select("doc_id", "source"), "doc_id")
      .groupBy("source", "term").agg(sum("tf").as("cst"))
    val wT = Window.partitionBy("term")
    val wS = Window.partitionBy("source")
    val scored = st
      .withColumn("ct", sum("cst").over(wT))
      .withColumn("ns", sum("cst").over(wS))
      .withColumn("nn", sum("cst").over(Window.partitionBy()))
      .withColumn("crest", col("ct") - col("cst"))
      .withColumn("nrest", col("nn") - col("ns"))
      .withColumn("lodds", round(
        log((col("cst") + 1) / (col("ns") - col("cst") + 1).cast("double")) -
          log((col("crest") + 1) /
            (col("nrest") - col("crest") + 1).cast("double")), 4))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(desc("lodds"), asc("term"))))
      .filter(col("rk") <= 3)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("term"), col("cst"), col("lodds"))
      .orderBy("source", "rk")
  }

  val qTopicLoddsSql: String =
    s"""WITH tok AS (${Search.tokSql}),
      |st AS (SELECT d.source, t.term, count(*) AS cst
      |  FROM tok t JOIN documents d USING (doc_id)
      |  GROUP BY d.source, t.term),
      |m AS (SELECT source, term, cst,
      |    sum(cst) OVER (PARTITION BY term) AS ct,
      |    sum(cst) OVER (PARTITION BY source) AS ns,
      |    sum(cst) OVER () AS nn
      |  FROM st),
      |sc AS (SELECT source, term, cst,
      |    round(ln((cst + 1) / CAST(ns - cst + 1 AS DOUBLE)) -
      |      ln((ct - cst + 1) /
      |        CAST((nn - ns) - (ct - cst) + 1 AS DOUBLE)), 4) AS lodds
      |  FROM m)
      |SELECT source, CAST(rk AS BIGINT) AS rk, term,
      |  CAST(cst AS BIGINT) AS cst, lodds
      |FROM (SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY lodds DESC, term) AS rk FROM sc)
      |WHERE rk <= 3 ORDER BY source, rk""".stripMargin
}
