package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 index-internals wave (SURVEY.md §2.9): MaxScore/WAND-pruned
  * disjunctive retrieval, delta/varint posting-list compression stats,
  * and fuzzy (edit-distance) term matching — the parts of a search
  * engine that live BELOW the query API.
  *
  * Scale notes: WAND's pruning statistics (per-term score upper bounds,
  * one aggregate row per query term, and the top-ub term's k-th best
  * score, a top-k bounded by k) are collected to pick the threshold and
  * the ESSENTIAL terms as literals; the
  * ranking is then one doc-keyed aggregate over the query terms'
  * postings that keeps only docs holding an essential term, which is
  * the whole point of MaxScore. Posting compression is one term-keyed
  * aggregate (no window — gaps come from the sorted collected list, so
  * there is a single shuffle). Fuzzy matching scans the term dictionary
  * (Tables.lexicon, one row per term), never the corpus.
  */
object SearchIndex {

  private val WandTerms = Seq("spark", "join", "stream")
  private val WandK = 10

  /** MaxScore/WAND-style disjunctive top-k: BM25 OR-query over three
    * terms, answered through the pruned path —
    *
    *   1. one aggregate row per query term: ub_t = max_d s(t,d), the
    *      term's score upper bound
    *   2. those ≤ |query| rows are collected, and [[wandSelect]] picks
    *      theta — the k-th best score of the top-ub term, read by a
    *      top-k over that one term's postings (memory bounded by k) —
    *      and the essential terms
    *   3. one doc-keyed aggregate sums every query term's score per doc
    *      and keeps the docs that hold an essential term; docs appearing
    *      ONLY in non-essential postings can never reach theta.
    *
    * The pruning is exact, so the result equals the plain disjunctive
    * top-k the oracle computes.
    */
  def qSearchWand(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Search.bm25Scored(spark, sfDir, WandTerms)
    val ubs = scored.groupBy("term").agg(max("s"))
      .collect().toSeq.map(r => r.getString(0) -> r.getDouble(1))
    def kth(t: String): Option[Double] =
      scored.filter(col("term") === t).select("s").orderBy(desc("s"))
        .limit(WandK).collect().lift(WandK - 1).map(_.getDouble(0))
    val essential = wandSelect(ubs, kth)._2
    // not Search.perDoc: the essential-term flag rides in the same pass
    Search.topK(scored.groupBy("doc_id")
      .agg(round(sum("s"), 4).as("score"), count(lit(1)).as("nt"),
        max(col("term").isin(essential: _*)).as("ess"))
      .filter(col("ess"))
      .select("doc_id", "score", "nt"), WandK)
  }

  /** WAND's threshold and essential terms from each query term's
    * (term, ub) and a lookup of a term's k-th best score (None below k
    * postings), which is asked for the top-ub term only:
    *   - theta = the k-th best SINGLE-term score on the highest-ub term
    *     (ties to the smaller term) — a valid lower bound of the k-th
    *     best true score, since a doc's true score is at least any one
    *     of its term scores. It is -inf when that term has fewer than k
    *     postings: pruning with an unfounded threshold would be unsound.
    *   - the non-essential terms are the maximal prefix, in ascending
    *     (ub, term) order, whose running ub sum stays below theta; the
    *     rest are essential, in that order.
    * No bounds (no query term in the corpus) gives no essential term. */
  private[graft] def wandSelect(ubs: Seq[(String, Double)],
      kth: String => Option[Double]): (Double, Seq[String]) = {
    val top = ubs.sortWith { case ((t1, u1), (t2, u2)) =>
      u1 > u2 || (u1 == u2 && t1 < t2) }.headOption
    val theta = top.flatMap(t => kth(t._1)).getOrElse(Double.NegativeInfinity)
    val asc = ubs.sortWith { case ((t1, u1), (t2, u2)) =>
      u1 < u2 || (u1 == u2 && t1 < t2) }
    val cum = asc.scanLeft(0.0)(_ + _._2).tail
    (theta, asc.zip(cum).collect { case ((t, _), c) if c >= theta => t })
  }

  /** Oracle: the UNPRUNED disjunctive top-k — pruning exactness is the
    * property under test. */
  val qSearchWandSql: String =
    s"""${Search.bm25ScoredCte(WandTerms)}
       |SELECT doc_id, round(sum(s), 4) AS score, count(*) AS nt
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $WandK""".stripMargin

  /** Delta + varint compression of the inverted index: per term, the
    * sorted posting list as d-gaps (first gap = first doc_id), the
    * LEB128-style varint byte count of those gaps, and the compression
    * ratio vs raw int64 postings. Gap + varint length are computed
    * inside one term-keyed aggregate over the collected sorted list —
    * no per-posting window, one shuffle. Doc ids are < 2^21 at every
    * test SF, so the 4-byte CASE arm is the ceiling; a production
    * encoder extends the same CASE chain.
    */
  def qIndexDelta(spark: SparkSession, sfDir: String): DataFrame = {
    def vlen(g: Column): Column =
      when(g < 128L, 1L).when(g < 16384L, 2L)
        .when(g < 2097152L, 3L).otherwise(4L)
    Tables.docTerms(spark, sfDir)
      .groupBy("term")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .withColumn("gaps",
        transform(sequence(lit(1), size(col("ids"))),
          i => when(i === 1, element_at(col("ids"), 1))
            .otherwise(element_at(col("ids"), i) -
              element_at(col("ids"), i - 1))))
      .select(
        col("term"),
        size(col("ids")).cast("long").as("df"),
        (size(col("ids")) * 8L).as("raw_bytes"),
        aggregate(col("gaps"), lit(0L), (acc, g) => acc + vlen(g))
          .as("vbytes"),
        array_join(transform(col("gaps"), _.cast("string")), ",")
          .as("gap_list"))
      .withColumn("ratio",
        round(col("raw_bytes").cast("double") / col("vbytes"), 4))
      .orderBy("term")
  }

  val qIndexDeltaSql: String =
    """WITH idx AS (SELECT term,
      |    list(DISTINCT doc_id ORDER BY doc_id) AS ids
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY term),
      |g AS (SELECT term, ids,
      |    list_transform(generate_series(1, len(ids)),
      |      i -> CASE WHEN i = 1 THEN ids[1]
      |           ELSE ids[i] - ids[i-1] END) AS gaps
      |  FROM idx)
      |SELECT term, CAST(len(ids) AS BIGINT) AS df,
      |  CAST(len(ids) * 8 AS BIGINT) AS raw_bytes,
      |  CAST(list_sum(list_transform(gaps,
      |    g -> CASE WHEN g < 128 THEN 1 WHEN g < 16384 THEN 2
      |         WHEN g < 2097152 THEN 3 ELSE 4 END)) AS BIGINT) AS vbytes,
      |  array_to_string(gaps, ',') AS gap_list,
      |  round(CAST(len(ids) * 8 AS DOUBLE) /
      |    list_sum(list_transform(gaps,
      |      g -> CASE WHEN g < 128 THEN 1 WHEN g < 16384 THEN 2
      |           WHEN g < 2097152 THEN 3 ELSE 4 END)), 4) AS ratio
      |FROM g ORDER BY term""".stripMargin

  private val FuzzyQ = "sow"

  /** Fuzzy term lookup: vocabulary terms within Levenshtein distance 1
    * of the (misspelled) query term, with their document frequency —
    * the spell-correction half of a "did you mean" pipeline. The scan
    * is over the VOCABULARY (the memoized term dictionary), not the
    * corpus; at web scale the standard upgrade is a deletion-neighborhood
    * index over the same vocab table, which is one more groupBy.
    */
  def qSearchFuzzy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lexicon(spark, sfDir).select("term", "df")
      .withColumn("dist", levenshtein(col("term"), lit(FuzzyQ)))
      .filter(col("dist") <= 1)
      .select(col("term"), col("dist").cast("long").as("dist"), col("df"))
      .orderBy("dist", "term")

  val qSearchFuzzySql: String =
    s"""SELECT term, CAST(levenshtein(term, '$FuzzyQ') AS BIGINT) AS dist,
       |  count(DISTINCT doc_id) AS df
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |      FROM documents)
       |GROUP BY term HAVING levenshtein(term, '$FuzzyQ') <= 1
       |ORDER BY dist, term""".stripMargin

  /** BPE merge application over the vocabulary: each term is exploded to
    * characters and a FIXED, ordered merge list is applied (the apply
    * half of byte-pair encoding; q_bpe_pairs computes the learn half's
    * pair statistics). Tokens are joined with a DOUBLE space so a merge
    * pattern can never straddle two adjacent merge sites; the merge list
    * is chosen so no later pattern overlaps an earlier merge's output
    * (left elements never suffix-match a produced token). One narrow
    * pass over the bounded vocab — corpus-scale BPE applies the same
    * replace chain per document partition.
    */
  private val BpeMerges =
    Seq(("s", "t"), ("e", "r"), ("a", "r"), ("o", "r"), ("i", "n"))

  def qTokBpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    // char explode via global regexp, not split(term, "") — empty-pattern
    // split keeps/drops trailing empties differently across engines
    val chars = rtrim(regexp_replace(col("term"), "(.)", "$1  "))
    val merged = BpeMerges.foldLeft(chars) { case (c, (a, b)) =>
      regexp_replace(c, s"$a  $b", s"$a$b")
    }
    Tables.lexicon(spark, sfDir).select("term")
      .withColumn("pieces",
        regexp_replace(merged, "  ", " "))
      .withColumn("n_pieces",
        size(split(col("pieces"), " ")).cast("long"))
      .orderBy("term")
  }

  val qTokBpeApplySql: String = {
    val chars = """rtrim(regexp_replace(term, '(.)', '\1  ', 'g'))"""
    val merged = BpeMerges.foldLeft(chars) { case (c, (a, b)) =>
      s"replace($c, '$a  $b', '$a$b')"
    }
    s"""SELECT term, replace($merged, '  ', ' ') AS pieces,
       |  CAST(len(string_split(replace($merged, '  ', ' '), ' '))
       |    AS BIGINT) AS n_pieces
       |FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
       |      FROM documents)
       |ORDER BY term""".stripMargin
  }

  // ───────── character 2-gram index (round 7, wave 2) ─────────

  /** Character-bigram (k-gram, k=2) index over the VOCABULARY — the
    * tolerant-retrieval artifact behind wildcard and spell-candidate
    * lookups (Manning/Raghavan/Schütze ch. 3): each distinct term is
    * cut into its inner 2-grams; the index maps 2-gram → matching-term
    * count + the term list (md5 wire format, the qIdxPositional
    * convention — the driver comparator hashes scalar cells). 1-char
    * terms have no 2-gram and drop from both engines identically.
    * Scale: built entirely on the DISTINCT vocabulary (≪ corpus —
    * the q_tok_vocab argument), read off the term dictionary.
    */
  def qKgramIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lexicon(spark, sfDir).select("term")
      .filter(length(col("term")) >= 2) // Spark sequence(1,0) DESCENDS
      .select(col("term"), explode(expr(
        "transform(sequence(1, length(term) - 1)," +
          " i -> substring(term, i, 2))")).as("kgram"))
      .distinct()
      .groupBy("kgram")
      .agg(count(lit(1)).as("n_terms"),
        md5(concat_ws(",", sort_array(collect_set(col("term")))))
          .as("terms_md5"))
      .orderBy("kgram")

  val qKgramIndexSql: String =
    """WITH vocab AS (SELECT DISTINCT unnest(string_split(text, ' '))
      |    AS term FROM documents),
      |kg AS (SELECT DISTINCT substr(term, CAST(i AS INTEGER), 2)
      |    AS kgram, term
      |  FROM vocab, unnest(generate_series(1, len(term) - 1)) t(i))
      |SELECT kgram, CAST(count(*) AS BIGINT) AS n_terms,
      |  md5(array_to_string(list(term ORDER BY term), ',')) AS terms_md5
      |FROM kg GROUP BY kgram ORDER BY kgram""".stripMargin

  // ───────── spell correction / did-you-mean (round 7, wave 4) ─────────

  /** The misspelled query and its 2-grams (a 'spark' transposition). */
  private val Misspell = "spakr"
  private val MisspellGrams = Seq("sp", "pa", "ak", "kr")

  /** "Did you mean" spell correction for a misspelled query term: the
    * [[qKgramIndex]] retrieval recipe — candidate terms must share ≥1
    * character 2-gram with the query (the index lookup that avoids an
    * all-vocab edit-distance scan at real vocabulary sizes), then
    * levenshtein ≤ 2 verifies, and candidates rank by (distance,
    * corpus frequency desc, term). Both engines implement levenshtein
    * identically (unit-cost DP). Everything is vocabulary-bounded; term
    * frequencies are the term dictionary's ctf.
    */
  def qSpellCorrect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lexicon(spark, sfDir).select("term", "ctf")
      .filter(length(col("term")) >= 2)
      .withColumn("grams", expr(
        "transform(sequence(1, length(term) - 1)," +
          " i -> substring(term, i, 2))"))
      .filter(arrays_overlap(col("grams"),
        typedLit(MisspellGrams)))
      .withColumn("dist", levenshtein(col("term"), lit(Misspell)))
      .filter(col("dist") <= 2)
      .select(col("term"), col("dist").cast("long").as("dist"), col("ctf"))
      .orderBy(asc("dist"), desc("ctf"), asc("term"))
      .limit(5)

  val qSpellCorrectSql: String = {
    val grams = MisspellGrams.map(g => s"'$g'").mkString(", ")
    s"""WITH vocab AS (SELECT term, count(*) AS ctf
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY term),
      |kg AS (SELECT term, ctf FROM vocab WHERE len(term) >= 2
      |  AND len(list_intersect(
      |    [substr(term, CAST(i AS INTEGER), 2)
      |     FOR i IN range(1, CAST(len(term) AS INTEGER))],
      |    [$grams])) > 0),
      |c AS (SELECT term, ctf, levenshtein(term, '$Misspell') AS dist
      |  FROM kg WHERE levenshtein(term, '$Misspell') <= 2)
      |SELECT term, CAST(dist AS BIGINT) AS dist, CAST(ctf AS BIGINT)
      |    AS ctf
      |FROM c ORDER BY dist, ctf DESC, term LIMIT 5""".stripMargin
  }

  // ───── deletion-neighborhood fuzzy index (round 11, SymSpell-lite) ─────

  /** 1-deletion variants of a string, PLUS the string itself (the
    * 0-deletion form): two strings at Levenshtein distance ≤ 1 always
    * share a member of each other's deletion neighborhood (equal →
    * itself; 1-sub → both-deleted-at-i; 1-ins/1-del → the shorter
    * string), so an equi-join on deletion keys yields ALL distance-≤1
    * candidates plus a handful of distance-2 false positives that a
    * candidate-bounded levenshtein verify removes. */
  private def delSet(s: String): Seq[String] =
    (s +: (0 until s.length).map(i =>
      s.substring(0, i) + s.substring(i + 1))).distinct

  /** Deletion-neighborhood fuzzy lookup — [[qSearchFuzzy]]'s documented
    * web-scale upgrade (the SymSpell family, public): instead of
    * scanning the whole vocabulary with a levenshtein per term, the
    * vocab is expanded ONCE into (deletion-key, term) index rows — a
    * per-row explode of |term|+1 keys, one groupBy-shaped pass — and a
    * query probes only its own |q|+1 deletion keys via an equi-join.
    * At web scale the index build amortizes over every query, and each
    * probe touches O(df(delkey)) index rows instead of |vocab|;
    * levenshtein runs only on the candidates. Result is IDENTICAL to
    * q_search_fuzzy's full-scan answer (asserted in Wave11Spec) — same
    * (term, dist, df) rows — which is exactly the property a fuzzy
    * index must prove.
    */
  def qFuzzyDeletion(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.lexicon(spark, sfDir).select("term", "df")
    // (delkey, term, df) index rows: the term itself + one row per
    // single-character deletion, built in-row (no join, no UDF)
    val dels = array_distinct(concat(
      array(col("term")),
      transform(sequence(lit(1), length(col("term"))), i =>
        concat(col("term").substr(lit(1), i - 1),
          col("term").substr(i + 1, length(col("term")) - i)))))
    val index = vocab.select(col("term"), col("df"),
      explode(dels).as("delkey"))
    val qKeys = delSet(FuzzyQ)
    index.filter(col("delkey").isin(qKeys: _*))
      .select("term", "df").distinct()
      .withColumn("dist", levenshtein(col("term"), lit(FuzzyQ)))
      .filter(col("dist") <= 1)
      .select(col("term"), col("dist").cast("long").as("dist"), col("df"))
      .orderBy("dist", "term")
  }

  val qFuzzyDeletionSql: String = {
    val qKeys = delSet(FuzzyQ).map(k => s"'$k'").mkString(", ")
    s"""WITH vocab AS (SELECT term, count(DISTINCT doc_id) AS df
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY term),
      |idx AS (SELECT term, df, unnest(list_distinct(list_prepend(term,
      |    list_transform(generate_series(1, len(term)), i ->
      |      substr(term, 1, CAST(i - 1 AS INTEGER))
      |        || substr(term, CAST(i + 1 AS INTEGER),
      |             CAST(len(term) - i AS INTEGER)))))) AS delkey
      |  FROM vocab),
      |cand AS (SELECT DISTINCT term, df FROM idx
      |  WHERE delkey IN ($qKeys))
      |SELECT term, CAST(levenshtein(term, '$FuzzyQ') AS BIGINT) AS dist,
      |  df
      |FROM cand WHERE levenshtein(term, '$FuzzyQ') <= 1
      |ORDER BY dist, term""".stripMargin
  }
}
