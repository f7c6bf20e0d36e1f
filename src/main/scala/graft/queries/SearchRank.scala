package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Search.{tokSql, topK, topKRanks}

/** Round-8 ranking & index-layout extensions (SURVEY.md §2.19a):
  * skip-pointer layout, impact-ordered postings, field-weighted BM25F,
  * and PL2 divergence-from-randomness ranking.
  *
  * Scale design shared by all four: the per-term stages run inside
  * posting-list partitions (term-keyed windows — the index-build shape
  * every op in §2.9 already uses), query-time stages touch only
  * term-filtered postings (df/dl ride on each posting, the corpus
  * scalars are literals), and every rank key is either exact-integer or
  * a fixed-association double landing on round(4).
  */
object SearchRank {

  // ───────────────────── skip-pointer layout ─────────────────────

  /** The postings of the k highest-df terms: the top-k cut (a
    * TakeOrdered over the term dictionary) is collected and filters the
    * postings as a literal `term IN (…)`, so the in-memory scan prunes
    * every batch outside those terms and no join is planned. */
  private def topDfPostings(spark: SparkSession, sfDir: String,
      k: Int): DataFrame = {
    val terms = topK(Tables.lexicon(spark, sfDir), k, "df", "term")
      .select("term").collect().map(_.getString(0))
    Tables.postings(spark, sfDir).filter(col("term").isin(terms.toSeq: _*))
  }

  /** Skip pointers for the 10 highest-df posting lists: every ⌈√df⌉-th
    * doc_id in the sorted posting list becomes a skip entry (the classic
    * √df spacing that balances skip hops against linear scans). The
    * positions window partitions on the TERM — one posting list per
    * partition, the standard index-build partition — over
    * [[topDfPostings]].
    * ceil(sqrt(int)) is correctly-rounded IEEE on both engines.
    */
  def qIdxSkiplist(spark: SparkSession, sfDir: String): DataFrame = {
    val wT = Window.partitionBy("term").orderBy("doc_id")
    topDfPostings(spark, sfDir, 10)
      .withColumn("pos", row_number().over(wT))
      .withColumn("skip_len",
        ceil(sqrt(col("df").cast("double"))).cast("long"))
      .filter((col("pos") - 1) % col("skip_len") === 0)
      .groupBy("term", "df", "skip_len")
      .agg(count(lit(1)).as("n_skips"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"), col("doc_id")))),
          x => x.getField("doc_id").cast("string"))).as("skips"))
      .orderBy("term")
  }

  val qIdxSkiplistSql: String =
    s"""WITH tok AS ($tokSql),
       |post AS (SELECT DISTINCT doc_id, term FROM tok),
       |top AS (SELECT term, count(*) AS df FROM post GROUP BY term
       |  ORDER BY df DESC, term LIMIT 10),
       |pos AS (SELECT p.term, t.df, p.doc_id,
       |    row_number() OVER (PARTITION BY p.term ORDER BY p.doc_id)
       |      AS pos,
       |    CAST(ceil(sqrt(CAST(t.df AS DOUBLE))) AS BIGINT) AS skip_len
       |  FROM post p JOIN top t USING (term))
       |SELECT term, df, skip_len, CAST(count(*) AS BIGINT) AS n_skips,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos) AS skips
       |FROM pos WHERE (pos - 1) % skip_len = 0
       |GROUP BY term, df, skip_len ORDER BY term""".stripMargin

  // ───────────────────── impact-ordered postings ─────────────────────

  /** Impact-ordered posting layout for the 5 highest-df terms: postings
    * grouped by quantized impact (tf saturated at 8 — the integer
    * quantization an early-termination engine stores), with the
    * cumulative doc count down the impact tiers. A WAND/MaxScore
    * traversal reads tiers top-down and stops when the cumulative bound
    * is met; this op emits exactly that layout. Per-term tier windows
    * are ≤8 rows; everything else is aggregation over
    * [[topDfPostings]].
    */
  def qIdxImpact(spark: SparkSession, sfDir: String): DataFrame = {
    val tiers = topDfPostings(spark, sfDir, 5)
      .withColumn("impact", least(col("tf"), lit(8L)))
      .groupBy("term", "impact")
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", transform(
          array_sort(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("docs"))
    val wTier = Window.partitionBy("term").orderBy(desc("impact"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tiers.withColumn("cum_docs", sum("n_docs").over(wTier))
      .select("term", "impact", "n_docs", "cum_docs", "docs")
      .orderBy(asc("term"), desc("impact"))
  }

  val qIdxImpactSql: String =
    s"""WITH tok AS ($tokSql),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       GROUP BY doc_id, term),
       |top AS (SELECT term, count(*) AS df FROM tf GROUP BY term
       |  ORDER BY df DESC, term LIMIT 5),
       |tiers AS (SELECT tf.term,
       |    CAST(least(tf.tf, 8) AS BIGINT) AS impact,
       |    count(*) AS n_docs,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
       |      AS docs
       |  FROM tf JOIN top USING (term) GROUP BY tf.term, impact)
       |SELECT term, impact, n_docs,
       |  CAST(sum(n_docs) OVER (PARTITION BY term ORDER BY impact DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_docs,
       |  docs
       |FROM tiers ORDER BY term, impact DESC""".stripMargin

  // ───────────────────── field-weighted BM25F ─────────────────────

  /** BM25F over two synthetic fields (title = the doc's first 5 tokens,
    * weight 2; body = the rest, weight 1) for the {spark, join}
    * conjunctive query: the weighted tf is the exact integer
    * 2·tf_title + tf_body, then the standard BM25 saturation
    * (k1 = 1.2, b = 0.75) over it, scored by [[Search.bm25ScoredOn]]
    * with the weighted tf in its `tf` column, and the 2 per-term scores
    * summed per doc (2 addends — IEEE-commutative across engines). Every
    * input is a column of the two query terms' postings: 2·tf_title +
    * tf_body = tf + |positions < 5|, with df and dl beside it; avgdl and
    * N are literals.
    */
  def qBm25f(spark: SparkSession, sfDir: String): DataFrame = {
    val weighted = Tables.postings(spark, sfDir)
      .filter(col("term").isin("spark", "join"))
      .withColumn("tf", col("tf") + size(filter(col("pos"), p => p < 5)))
    topK(Search.allTerms(Search.bm25ScoredOn(spark, sfDir, weighted), 2), 10)
  }

  val qBm25fSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents),
      |p AS (SELECT doc_id, i - 1 AS p0, arr[i] AS term
      |  FROM d, unnest(generate_series(1, len(arr))) AS t(i)
      |  WHERE arr[i] IN ('spark', 'join')),
      |wtf AS (SELECT doc_id, term,
      |    CAST(sum(CASE WHEN p0 < 5 THEN 2 ELSE 1 END) AS BIGINT) AS wtf
      |  FROM p GROUP BY doc_id, term),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |dfr AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
      |  WHERE term IN ('spark', 'join') GROUP BY term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |ad AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (SELECT w.doc_id, w.term,
      |    ln((n.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0) *
      |      ((w.wtf * 2.2) /
      |       (w.wtf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl))) AS s
      |  FROM wtf w JOIN dfr USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN ad CROSS JOIN n)
      |SELECT a.doc_id, round(a.s + b.s, 4) AS score
      |FROM (SELECT doc_id, s FROM scored WHERE term = 'spark') a
      |JOIN (SELECT doc_id, s FROM scored WHERE term = 'join') b
      |  USING (doc_id)
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ───────────────── PL2 divergence-from-randomness ─────────────────

  /** PL2 DFR ranking (Amati & van Rijsbergen's Poisson model with
    * Laplace after-effect and H2 normalization, c = 1) for the
    * conjunctive {spark, join} query — the third ranking family next to
    * BM25 (probabilistic) and QLD (language modeling):
    * tfn = tf·log2(1 + avgdl/dl), λ = ctf/N, and
    * score_t = (tfn·log2(tfn/λ) + (λ − tfn)·log2(e) + 0.5·log2(2π·tfn))
    * / (tfn + 1). Every constant is spelled with the SAME expression
    * text on both engines (log2(exp(1.0)), pi()) so the IEEE paths
    * agree; the 2 per-term scores sum per doc (2 addends, the same
    * double in either order).
    */
  def qSearchPl2(spark: SparkSession, sfDir: String): DataFrame = {
    // ctf comes from the term dictionary and the corpus scalars are
    // literals: the score chain has no join and no window
    val cs = Tables.corpusStats(spark, sfDir)
    val terms = Seq("spark", "join")
    val scored = Tables.postings(spark, sfDir)
      .filter(col("term").isin(terms: _*))
      .withColumn("ctf", Search.ctfOf(spark, sfDir, terms))
      .withColumn("avgdl", lit(cs.avgdl))
      .withColumn("n_docs", lit(cs.nDocs))
      .withColumn("tfn", expr("tf * log2(1 + avgdl / dl)"))
      .withColumn("lam", expr("ctf / CAST(n_docs AS DOUBLE)"))
      .withColumn("s", expr(
        """(tfn * log2(tfn / lam) + (lam - tfn) * log2(exp(1.0D))
          | + 0.5D * log2(2.0D * pi() * tfn)) / (tfn + 1.0D)""".stripMargin))
    topK(Search.allTerms(scored, 2), 10)
  }

  val qSearchPl2Sql: String =
    s"""WITH tok AS ($tokSql),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ('spark', 'join') GROUP BY doc_id, term),
       |ctf AS (SELECT term, count(*) AS ctf FROM tok
       |  WHERE term IN ('spark', 'join') GROUP BY term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |ad AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (SELECT x.doc_id, x.term,
       |    (tfn * log2(tfn / lam) + (lam - tfn) * log2(exp(1.0))
       |     + 0.5 * log2(2.0 * pi() * tfn)) / (tfn + 1.0) AS s
       |  FROM (SELECT tf.doc_id, tf.term,
       |      tf.tf * log2(1 + ad.avgdl / dl.dl) AS tfn,
       |      ctf.ctf / CAST(n.n_docs AS DOUBLE) AS lam
       |    FROM tf JOIN ctf USING (term) JOIN dl USING (doc_id)
       |    CROSS JOIN ad CROSS JOIN n) x)
       |SELECT a.doc_id, round(a.s + b.s, 4) AS score
       |FROM (SELECT doc_id, s FROM scored WHERE term = 'spark') a
       |JOIN (SELECT doc_id, s FROM scored WHERE term = 'join') b
       |  USING (doc_id)
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ───────────── hybrid retrieval: reciprocal-rank fusion (round 10) ─────────────

  /** Per-arm rank-list depth fed into the fusion. */
  private val RrfK = 20
  /** The standard RRF smoothing constant. */
  private val RrfC = 60L

  /** Hybrid retrieval via reciprocal-rank fusion — the modern two-arm
    * stack: the LEXICAL arm ranks docs by BM25 ({spark, join}, the
    * shared memoized q_search_bm25 list), the SEMANTIC arm ranks the
    * same ids by embedding cosine against query vec 0 (vec_id ≡ doc_id
    * — the embeddings table is the corpus's document-embedding side),
    * and RRF fuses them: score(d) = Σ_arms 1/(60 + rank_arm(d)),
    * computed as EXACT integers 10⁹ div (60 + rank) so the fused order
    * can't fork on float addition. Docs present in only one top-20 arm
    * receive only that arm's contribution (the realistic partial-
    * coverage case). Ranks are deterministic (round(4) arm scores with
    * id tiebreaks). Scale: each arm is its family's existing
    * broadcast-shaped plan; fusion is a ≤ 2·K-row outer join — rank
    * fusion never touches the corpus again.
    */
  def qSearchHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = topKRanks(Search.lexScores(spark, sfDir), RrfK, rank = "lrank")
    val sem = topKRanks(Pipeline.queryCosines(spark, sfDir)
      .withColumnRenamed("vec_id", "doc_id"), RrfK, "cos", "srank")
    topK(lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lrank").cast("long").as("lrank"),
        col("srank").cast("long").as("srank"),
        (coalesce(expr(s"1000000000 div ($RrfC + lrank)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($RrfC + srank)"), lit(0L)))
          .as("rrf_e9")), 10, "rrf_e9")
  }

  val qSearchHybridSql: String =
    s"""${Search.bm25ScoredCte(Seq("spark", "join"))},
       |lexall AS (SELECT doc_id, round(sum(s), 4) AS score FROM scored
       |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
       |lex AS (SELECT doc_id, rk AS lrank FROM (SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |  FROM lexall) WHERE rk <= $RrfK),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cosparts AS (SELECT vec_id AS doc_id,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
       |      AS dot,
       |    sum(CAST(e.embedding[i] AS DOUBLE)
       |      * CAST(e.embedding[i] AS DOUBLE)) AS na2,
       |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb2
       |  FROM embeddings e CROSS JOIN qv q,
       |    unnest(generate_series(1, len(e.embedding))) AS t(i)
       |  WHERE e.vec_id <> 0 GROUP BY vec_id),
       |sem AS (SELECT doc_id, rk AS srank FROM (SELECT doc_id,
       |    row_number() OVER (
       |      ORDER BY round(dot / (sqrt(na2) * sqrt(nb2)), 4) DESC,
       |      doc_id) AS rk
       |  FROM cosparts) WHERE rk <= $RrfK)
       |SELECT doc_id,
       |  CAST(lrank AS BIGINT) AS lrank, CAST(srank AS BIGINT) AS srank,
       |  coalesce(1000000000 // ($RrfC + lrank), 0)
       |    + coalesce(1000000000 // ($RrfC + srank), 0) AS rrf_e9
       |FROM lex FULL OUTER JOIN sem USING (doc_id)
       |ORDER BY rrf_e9 DESC, doc_id LIMIT 10""".stripMargin
}
