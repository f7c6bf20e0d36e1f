package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 data-governance & evaluation extensions (SURVEY.md §2.19b):
  * the datasheet/telemetry/fairness layer a training-data pipeline runs
  * on top of its curation filters, plus three classifier-evaluation
  * views over the shared [[PipelineML.centScored]] nearest-class-mean
  * classifier.
  *
  * Exactness: every ratio is integer ppm (`div` ≡ `//`, all operands
  * non-negative), every squared error is an exact e8 integer, every
  * group key space is bounded (langs × len-buckets, 20 sources, k
  * clusters × 10 labels, the round(4) score grid) — so each op is one
  * narrow corpus pass plus a partial-aggregable tiny exchange.
  */
object PipelineGov {

  // ───────────────── token-length histogram (telemetry) ─────────────────

  /** Log2-bucket histogram of per-doc token counts — the length-mix
    * telemetry every curation run records (a shifted length mix is the
    * first symptom of an upstream extraction bug). Bucket = ⌊log2 dl⌋
    * computed through the exact binary-string-length path (no floating
    * log near power-of-two boundaries). One narrow pass + a ≤64-key
    * aggregate.
    */
  def qDocLenHist(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.t(spark, sfDir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .withColumn("bucket", (length(bin(col("dl"))) - 1).cast("long"))
    val total = d.agg(count(lit(1)).as("n_total"))
    d.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tokens"))
      .crossJoin(broadcast(total))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))")
          .as("bucket_lo"),
        col("n_docs"), col("n_tokens"),
        expr("(n_docs * 1000000) div n_total").as("share_ppm"))
      .orderBy("bucket")
  }

  val qDocLenHistSql: String =
    """WITH d AS (SELECT len(string_split(text, ' ')) AS dl
      |  FROM documents),
      |b AS (SELECT CAST(length(format('{:b}', dl)) - 1 AS BIGINT)
      |    AS bucket, dl FROM d),
      |t AS (SELECT count(*) AS n_total FROM d)
      |SELECT bucket, CAST(1 AS BIGINT) << CAST(bucket AS INT) AS bucket_lo,
      |  count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens,
      |  CAST((count(*) * 1000000) // (SELECT n_total FROM t) AS BIGINT)
      |    AS share_ppm
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ───────────────────── per-source dataset card ─────────────────────

  /** Per-source datasheet rollup — the "dataset card" table a training
    * run publishes: docs, tokens, vocabulary, mean length, language mix
    * (en share), and exact-duplicate rate. Doc-level and token-level
    * stats are two partial-aggregable passes joined on the bounded
    * source key (20 rows); nothing corpus-sized survives the aggregates.
    */
  def qDatasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
    val docStats = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("lang") === "en").cast("long")).as("en_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))
    val tokStats = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("term").as("vocab"))
    docStats.join(tokStats, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        expr("(n_tokens * 1000) div n_docs").as("mean_dl_e3"),
        expr("(en_docs * 1000000) div n_docs").as("en_ppm"),
        expr("((n_docs - n_distinct) * 1000000) div n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  val qDatasetCardSql: String =
    """WITH ds AS (SELECT source, count(*) AS n_docs,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS en_docs,
      |    count(DISTINCT md5(text)) AS n_distinct
      |  FROM documents GROUP BY source),
      |ts AS (SELECT source, count(*) AS n_tokens,
      |    count(DISTINCT term) AS vocab
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
      |        FROM documents) GROUP BY source)
      |SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(vocab AS BIGINT) AS vocab,
      |  CAST((n_tokens * 1000) // n_docs AS BIGINT) AS mean_dl_e3,
      |  CAST((en_docs * 1000000) // n_docs AS BIGINT) AS en_ppm,
      |  CAST(((n_docs - n_distinct) * 1000000) // n_docs AS BIGINT)
      |    AS dup_ppm
      |FROM ds JOIN ts USING (source) ORDER BY source""".stripMargin

  // ───────────────────── filter-cascade economics ─────────────────────

  /** Curation-cascade ordering: measure each quality filter's
    * selectivity, then rank by rejections-per-cost-unit — the greedy
    * rule that puts cheap, aggressive filters first so expensive ones
    * see fewer docs. Costs are the fixed rule-of-thumb units of each
    * filter's evaluation (metadata read 1, tokenize 2, derived ratio 3,
    * corpus-shuffle dedup 8). All flags and ratios are exact integers;
    * the dedup flag's md5 groupBy is the only shuffle.
    */
  def qFilterCascade(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.t(spark, sfDir, "documents")
      .withColumn("dl", size(split(col("text"), " ")).cast("long"))
      .withColumn("h", md5(col("text")))
    val dupCnt = d.groupBy("h").agg(count(lit(1)).as("c"))
    val flags = d.join(dupCnt, "h").select(
      (col("n_chars") >= 300).cast("long").as("f_len"),
      (col("dl") >= 55).cast("long").as("f_tok"),
      (expr("(n_chars - dl + 1) * 10 div dl") >= 45).cast("long").as("f_wl"),
      (col("c") === 1).cast("long").as("f_dup"))
    val agg = flags.agg(count(lit(1)).as("n"),
      sum("f_len").as("p_len"), sum("f_tok").as("p_tok"),
      sum("f_wl").as("p_wl"), sum("f_dup").as("p_dup"))
    agg.select(expr(
      """stack(4,
        |  'len_chars',    CAST(1 AS BIGINT), p_len,
        |  'tok_count',    CAST(2 AS BIGINT), p_tok,
        |  'mean_wordlen', CAST(3 AS BIGINT), p_wl,
        |  'exact_dedup',  CAST(8 AS BIGINT), p_dup)
        |  AS (filter, cost_units, n_pass)""".stripMargin),
      col("n"))
      .select(col("filter"), col("cost_units"), col("n_pass"),
        expr("(n_pass * 1000000) div n").as("pass_ppm"),
        expr("(1000000 - (n_pass * 1000000) div n) div cost_units")
          .as("reject_per_cost"))
      .orderBy(desc("reject_per_cost"), asc("filter"))
  }

  val qFilterCascadeSql: String =
    """WITH d AS (SELECT n_chars, len(string_split(text, ' ')) AS dl,
      |    md5(text) AS h FROM documents),
      |dc AS (SELECT h, count(*) AS c FROM d GROUP BY h),
      |f AS (SELECT
      |    CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS f_len,
      |    CASE WHEN d.dl >= 55 THEN 1 ELSE 0 END AS f_tok,
      |    CASE WHEN (d.n_chars - d.dl + 1) * 10 // d.dl >= 45
      |      THEN 1 ELSE 0 END AS f_wl,
      |    CASE WHEN dc.c = 1 THEN 1 ELSE 0 END AS f_dup
      |  FROM d JOIN dc USING (h)),
      |a AS (SELECT count(*) AS n, sum(f_len) AS p_len,
      |    sum(f_tok) AS p_tok, sum(f_wl) AS p_wl, sum(f_dup) AS p_dup
      |  FROM f),
      |s AS (
      |  SELECT 'len_chars' AS filter, CAST(1 AS BIGINT) AS cost_units,
      |    CAST(p_len AS BIGINT) AS n_pass, n FROM a
      |  UNION ALL SELECT 'tok_count', 2, CAST(p_tok AS BIGINT), n FROM a
      |  UNION ALL SELECT 'mean_wordlen', 3, CAST(p_wl AS BIGINT), n FROM a
      |  UNION ALL SELECT 'exact_dedup', 8, CAST(p_dup AS BIGINT), n FROM a)
      |SELECT filter, cost_units, n_pass,
      |  CAST((n_pass * 1000000) // n AS BIGINT) AS pass_ppm,
      |  CAST((1000000 - (n_pass * 1000000) // n) // cost_units AS BIGINT)
      |    AS reject_per_cost
      |FROM s ORDER BY reject_per_cost DESC, filter""".stripMargin

  // ───────────────────── l-diversity audit ─────────────────────

  /** l-diversity over the quasi-identifier (lang, token-length decile
    * bucket) with `source` as the sensitive attribute — the
    * re-identification audit next to q_kanon's group-size check: a
    * group can be k-anonymous and still leak if every member shares one
    * sensitive value. Emits every group's l (distinct sources) and a
    * risky flag (l < 3). Bounded key space: |langs| × ≤10 buckets.
    */
  def qLdiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .select(col("lang"),
        (size(split(col("text"), " ")).cast("long") / 10)
          .cast("long").as("len_bucket"),
        col("source"))
      .groupBy("lang", "len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("source").as("l_sources"))
      .withColumn("risky", (col("l_sources") < 3).cast("long"))
      .orderBy("lang", "len_bucket")

  val qLdiversitySql: String =
    """WITH d AS (SELECT lang,
      |    CAST(len(string_split(text, ' ')) // 10 AS BIGINT)
      |      AS len_bucket, source
      |  FROM documents)
      |SELECT lang, len_bucket, count(*) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS l_sources,
      |  CAST(CASE WHEN count(DISTINCT source) < 3 THEN 1 ELSE 0 END
      |    AS BIGINT) AS risky
      |FROM d GROUP BY lang, len_bucket ORDER BY lang, len_bucket""".stripMargin

  // ───────────────────── fairness / demographic parity ─────────────────────

  /** Demographic parity of the length-based quality filter across
    * languages — the disparate-impact audit a curation pipeline ships
    * with its filters (a chars-based floor systematically passes fewer
    * CJK docs, and this table is where that shows up). parity_ppm is
    * each group's pass rate as ppm of the BEST group's (the 80%-rule
    * denominator); all integer arithmetic.
    */
  def qFairnessParity(spark: SparkSession, sfDir: String): DataFrame = {
    val byLang = Tables.t(spark, sfDir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum((col("n_chars") >= 300).cast("long")).as("n_pos"))
      .withColumn("pos_ppm", expr("(n_pos * 1000000) div n"))
    val best = byLang.agg(max("pos_ppm").as("best_ppm"))
    byLang.crossJoin(broadcast(best))
      .select(col("lang"), col("n"), col("n_pos"), col("pos_ppm"),
        expr("(pos_ppm * 1000000) div greatest(best_ppm, 1)")
          .as("parity_ppm"))
      .orderBy("lang")
  }

  val qFairnessParitySql: String =
    """WITH g AS (SELECT lang, count(*) AS n,
      |    sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS n_pos
      |  FROM documents GROUP BY lang),
      |p AS (SELECT lang, n, CAST(n_pos AS BIGINT) AS n_pos,
      |    CAST((n_pos * 1000000) // n AS BIGINT) AS pos_ppm FROM g),
      |b AS (SELECT max(pos_ppm) AS best_ppm FROM p)
      |SELECT lang, n, n_pos, pos_ppm,
      |  CAST((pos_ppm * 1000000) // greatest(b.best_ppm, 1) AS BIGINT)
      |    AS parity_ppm
      |FROM p, b ORDER BY lang""".stripMargin

  // ───────────────────── cross-source shingle overlap ─────────────────────

  /** Pairwise source-contamination matrix: for every source pair, the
    * count of shared distinct 3-gram shingles and its ppm of the smaller
    * side's shingle set — the source-level view of q_contamination's
    * doc-level check (which sources copy from each other). The pair
    * stage is a shingle EQUI-join whose fanout per shingle is bounded by
    * |sources|² (20² here), never doc×doc; the output is the bounded
    * 190-row source-pair grid.
    */
  def qSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // Re-distinct of the CACHED (doc_id, source, sh) rows — one shuffle
    // over the memoized relation instead of a second corpus explode —
    // checkpointed (round 12) because THREE consumers (sizes + both
    // self-join sides) each re-ran that distinct shuffle per invocation.
    val sh = Tables.localCheckpoint(Tables.shingles(spark, sfDir)
      .select("source", "sh").distinct(), eager = false)
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("source").as("s1"), col("sh"))
    val b = sh.select(col("source").as("s2"), col("sh"))
    a.join(b, "sh").filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes.select(col("source").as("s1"),
        col("n_sh").as("n1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"),
        col("n_sh").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("shared"),
        expr("(shared * 1000000) div least(n1, n2)").as("overlap_ppm"))
      .orderBy("s1", "s2")
  }

  val qSourceOverlapSql: String =
    s"""WITH sh AS (SELECT DISTINCT source, sh FROM
      |  (SELECT source, unnest(${Tables.shingles3Sql}) AS sh
      |   FROM (SELECT source, text, string_split(text, ' ') AS arr
      |         FROM documents))),
      |sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
      |pairs AS (SELECT a.source AS s1, b.source AS s2, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY s1, s2)
      |SELECT s1, s2, shared,
      |  CAST((shared * 1000000) // least(z1.n_sh, z2.n_sh) AS BIGINT)
      |    AS overlap_ppm
      |FROM pairs JOIN sz z1 ON s1 = z1.source JOIN sz z2 ON s2 = z2.source
      |ORDER BY s1, s2""".stripMargin

  // ───────────────────── Brier score (exact e8) ─────────────────────

  /** Brier score of the [[PipelineML.centScored]] classifier with the
    * cosine mapped to a probability p = (score + 1)/2 on the exact e4
    * grid: squared errors are exact e8 integers (the round(4) score grid
    * makes p_e4 an integer after one truncating halve, identical on both
    * engines for non-negative operands), so the sum is order-free and
    * the mean is one integer division. One narrow pass + a global sum.
    */
  def qEvalBrier(spark: SparkSession, sfDir: String): DataFrame =
    PipelineML.centScored(spark, sfDir)
      .select(
        expr("(CAST(round(score * 10000) AS BIGINT) + 10000) div 2")
          .as("p4"),
        (col("label") === 1).cast("long").as("y"))
      .agg(count(lit(1)).as("n"),
        sum((col("p4") - col("y") * 10000L) *
          (col("p4") - col("y") * 10000L)).as("sum_sq_e8"))
      .select(col("n"), col("sum_sq_e8"),
        expr("sum_sq_e8 div n").as("brier_e8"))

  val qEvalBrierSql: String =
    s"""WITH ${PipelineML.centScoredCte},
      |pe AS (SELECT
      |    (CAST(round(score * 10000) AS BIGINT) + 10000) // 2 AS p4,
      |    CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
      |  FROM scored)
      |SELECT count(*) AS n,
      |  CAST(sum((p4 - y * 10000) * (p4 - y * 10000)) AS BIGINT)
      |    AS sum_sq_e8,
      |  CAST(sum((p4 - y * 10000) * (p4 - y * 10000)) // count(*)
      |    AS BIGINT) AS brier_e8
      |FROM pe ORDER BY n""".stripMargin

  // ───────────────────── cluster × label confusion ─────────────────────

  /** Confusion matrix of the [[PipelineML.semdedupAssign]] clustering
    * against the true labels — the k×10 bounded grid behind
    * q_cluster_purity's per-cluster summary (purity tells you THAT a
    * cluster is mixed; the matrix tells you WITH WHAT). row_ppm shares
    * each cluster's row; the per-cluster window runs over ≤10 rows.
    */
  def qEvalConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val lbl = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val grid = PipelineML.semdedupAssign(spark, sfDir)
      .select("vec_id", "cluster")
      .join(lbl, "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
    grid.withColumn("row_ppm",
      expr("(n * 1000000) div sum(n) over (partition by cluster)"))
      .orderBy("cluster", "label")
  }

  val qEvalConfusionSql: String = {
    // reuse the shared assignment CTEs through PipelineML's oracle text:
    // the semdedup SQL's prologue IS assignSql; inline the same shape.
    s"""WITH ed AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |kk AS (SELECT greatest(3, count(*) // 256) AS k FROM embeddings),
      |vc AS (SELECT e.vec_id, e.v, s.vec_id AS seed_id,
      |    list_cosine_similarity(e.v, s.v) AS cos
      |  FROM ed e, ed s, kk WHERE s.vec_id < kk.k),
      |asg AS (SELECT vec_id, seed_id AS cluster
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, seed_id) AS rk FROM vc)
      |  WHERE rk = 1),
      |g AS (SELECT a.cluster, CAST(e.label AS BIGINT) AS label,
      |    count(*) AS n
      |  FROM asg a JOIN embeddings e USING (vec_id)
      |  GROUP BY a.cluster, label)
      |SELECT cluster, label, n,
      |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY cluster)
      |    AS BIGINT) AS row_ppm
      |FROM g ORDER BY cluster, label""".stripMargin
  }

  // ───────────────────── precision–recall curve ─────────────────────

  /** Precision–recall curve of [[PipelineML.centScored]]: one point per
    * distinct round(4) score threshold (descending), with cumulative
    * TP/FP and integer-ppm precision/recall — the threshold-sweep view
    * next to q_eval_auc's single number and q_eval_f1's single operating
    * point. The cumsum window runs over the DISTINCT ROUNDED score
    * domain (≤20k rows at any corpus size — the q_eval_auc bounded-grid
    * argument), never the corpus.
    */
  def qEvalPrCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val grp = PipelineML.centScored(spark, sfDir)
      .groupBy("score")
      .agg(count(lit(1)).as("g"),
        sum((col("label") === 1).cast("long")).as("pg"))
    val totals = grp.agg(sum("pg").as("p_total"))
    val wDesc = Window.orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grp.crossJoin(broadcast(totals))
      .withColumn("tp", sum("pg").over(wDesc))
      .withColumn("fp", sum(col("g") - col("pg")).over(wDesc))
      .select(col("score"), col("tp"), col("fp"),
        expr("(tp * 1000000) div (tp + fp)").as("precision_ppm"),
        expr("(tp * 1000000) div greatest(p_total, 1)").as("recall_ppm"))
      .orderBy(desc("score"))
  }

  val qEvalPrCurveSql: String =
    s"""WITH ${PipelineML.centScoredCte},
      |grp AS (SELECT score, count(*) AS g,
      |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pg
      |  FROM scored GROUP BY score),
      |t AS (SELECT sum(pg) AS p_total FROM grp),
      |c AS (SELECT score,
      |    sum(pg) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |    sum(g - pg) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      |  FROM grp)
      |SELECT score, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
      |  CAST((tp * 1000000) // greatest((SELECT p_total FROM t), 1)
      |    AS BIGINT) AS recall_ppm
      |FROM c ORDER BY score DESC""".stripMargin

  // ───────────────── deterministic span-corruption stats ─────────────────

  /** T5-style span-corruption statistics under a DETERMINISTIC mask:
    * token (doc, pos) — pos the token cache's 0-based offset, the
    * oracle's i - 1 — is masked iff its 60-bit md5 bucket ≡ 0 (mod 5) —
    * a content-addressed 20% rate both engines reproduce exactly, the
    * q_split_train hash-gate convention. Adjacent masked tokens merge
    * into spans (a span starts where masked ∧ ¬masked-predecessor — one
    * per-doc lag window). Emits per doc: tokens, masked count/ppm, span
    * count, mean span length e3 — the noise-schedule audit a span-
    * corruption pretraining pipeline records.
    */
  def qSpanMask(spark: SparkSession, sfDir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    Tables.tokens(spark, sfDir)
      .withColumn("m",
        (Tables.md5Bucket(concat(col("doc_id"), lit(":"), col("pos")))
          % 5 === 0).cast("long"))
      .withColumn("start",
        (col("m") === 1 &&
          coalesce(lag("m", 1).over(byDoc), lit(0L)) === 0L).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("m").as("n_masked"),
        sum("start").as("n_spans"))
      .select(col("doc_id"), col("n_tok"), col("n_masked"), col("n_spans"),
        expr("(n_masked * 1000000) div n_tok").as("masked_ppm"),
        expr("CASE WHEN n_spans = 0 THEN 0 ELSE " +
          "(n_masked * 1000) div n_spans END").as("mean_span_e3"))
      .orderBy("doc_id")
  }

  val qSpanMaskSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents),
      |p AS (SELECT doc_id, i - 1 AS pos FROM d,
      |  unnest(generate_series(1, len(arr))) AS t(i)),
      |m AS (SELECT doc_id, pos,
      |    CASE WHEN ('0x' || substr(md5(doc_id || ':' || pos), 1, 15))
      |      ::BIGINT % 5 = 0 THEN 1 ELSE 0 END AS m
      |  FROM p),
      |st AS (SELECT doc_id, m,
      |    CASE WHEN m = 1 AND coalesce(lag(m) OVER (PARTITION BY doc_id
      |      ORDER BY pos), 0) = 0 THEN 1 ELSE 0 END AS start
      |  FROM m),
      |a AS (SELECT doc_id, count(*) AS n_tok,
      |    CAST(sum(m) AS BIGINT) AS n_masked,
      |    CAST(sum(start) AS BIGINT) AS n_spans
      |  FROM st GROUP BY doc_id)
      |SELECT doc_id, n_tok, n_masked, n_spans,
      |  CAST((n_masked * 1000000) // n_tok AS BIGINT) AS masked_ppm,
      |  CAST(CASE WHEN n_spans = 0 THEN 0
      |    ELSE (n_masked * 1000) // n_spans END AS BIGINT) AS mean_span_e3
      |FROM a ORDER BY doc_id""".stripMargin

  // ───────────────── log loss on the exact probability grid ─────────────────

  /** Log loss (cross-entropy) of the centroid classifier next to
    * [[qEvalBrier]]: the round(4) cosine maps to the e4 probability
    * grid, clamps to [1, 9999] (the standard eps-clip — ln(0) guard),
    * and each row's loss is ROUNDED TO INTEGER MICRONATS BEFORE the
    * corpus sum — ln of the same exact double is bit-identical on both
    * engines, and integer sums are order-free (the multi-addend
    * double-sum hazard never arises). One narrow pass + a global sum.
    */
  def qEvalLogloss(spark: SparkSession, sfDir: String): DataFrame =
    PipelineML.centScored(spark, sfDir)
      .select(
        expr("""least(greatest(
          |  (CAST(round(score * 10000) AS BIGINT) + 10000) div 2,
          |  1), 9999)""".stripMargin).as("p4"),
        (col("label") === 1).cast("long").as("y"))
      .withColumn("loss_e6", expr(
        """CAST(round(CASE WHEN y = 1
          |  THEN -ln(CAST(p4 AS DOUBLE) / CAST(10000.0 AS DOUBLE))
          |  ELSE -ln(CAST(10000 - p4 AS DOUBLE) / CAST(10000.0 AS DOUBLE))
          |  END * CAST(1000000.0 AS DOUBLE)) AS BIGINT)""".stripMargin))
      .agg(count(lit(1)).as("n"), sum("loss_e6").as("sum_loss_e6"))
      .select(col("n"), col("sum_loss_e6"),
        expr("sum_loss_e6 div n").as("logloss_e6"))

  val qEvalLoglossSql: String =
    s"""WITH ${PipelineML.centScoredCte},
      |pe AS (SELECT least(greatest(
      |    (CAST(round(score * 10000) AS BIGINT) + 10000) // 2, 1), 9999)
      |      AS p4,
      |    CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
      |  FROM scored),
      |l AS (SELECT CAST(round(CASE WHEN y = 1
      |    THEN -ln(CAST(p4 AS DOUBLE) / CAST(10000.0 AS DOUBLE))
      |    ELSE -ln(CAST(10000 - p4 AS DOUBLE) / CAST(10000.0 AS DOUBLE))
      |    END * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS loss_e6
      |  FROM pe)
      |SELECT count(*) AS n, CAST(sum(loss_e6) AS BIGINT) AS sum_loss_e6,
      |  CAST(sum(loss_e6) // count(*) AS BIGINT) AS logloss_e6
      |FROM l ORDER BY n""".stripMargin

  // ───────────── CCNet-style LM quality buckets ─────────────

  /** CCNet-shaped perplexity bucketing: an interpolated
    * bigram+add-one-unigram LM is trained on the trusted source (src0),
    * every doc is scored by its mean transition surprisal, and the
    * corpus splits into head/middle/tail quality buckets at the
    * (grid-resolution) terciles — the classic LM-filtering stage of a
    * web-scale curation pipeline. Exactness: each transition's
    * surprisal is rounded to integer MICRONATS before any sum (ln of
    * identically-spelled exact-rational doubles — bit-identical across
    * engines); the tercile thresholds come from cumulative counts over
    * the e4-grid of doc means (a bounded ≤~2k-row domain, the
    * q_eval_auc argument), NOT from a corpus-sized rank sort. LM tables
    * are |src0| bounded; scoring joins are bigram/unigram equi-joins.
    */
  def qCcnetBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
      .withColumn("arr", split(col("text"), " "))
    // (doc_id, w1, w2) transitions via the in-row zip — no per-doc
    // window shuffle of the token stream (the q_ngram_lm shape)
    val trans = docs.select(col("doc_id"),
      explode(Tables.bigramsArr(col("arr"))(
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val lmTok = docs.filter(col("source") === "src0")
      .select(explode(col("arr")).as("w"))
    val uni = lmTok.groupBy("w").agg(count(lit(1)).as("c2"))
    val tot = lmTok.agg(count(lit(1)).as("t"),
      countDistinct("w").as("v"))
    val bi = docs.filter(col("source") === "src0")
      .select(explode(Tables.bigramsArr(col("arr"))(
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(sum("c12").as("c1"))
    // NOT pre-aggregated to (doc, w1, w2, tf): the model sides (bi, c1,
    // uni) broadcast, so raw transitions flow join→score→per-doc agg
    // with NO shuffle before the doc groupBy — a tf pre-aggregation
    // would ADD a full (doc, w1, w2) exchange to save per-row -ln()
    // evaluations (round 11: measured 1.9 → 2.4 s warm, reverted)
    val scored = trans
      .join(bi, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(uni.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("s_e6", expr(
        """CAST(round(-ln(
          |  CAST(0.7 AS DOUBLE) * (CAST(coalesce(c12, 0) AS DOUBLE)
          |    / greatest(c1, 1)) +
          |  CAST(0.3 AS DOUBLE) * (CAST(coalesce(c2, 0) + 1 AS DOUBLE)
          |    / (t + v))
          |) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)""".stripMargin))
    // ONE corpus scoring pass (guide §2.4): perDoc feeds the tercile
    // grid AND the final bucketing — before round 12 the lazy chain
    // re-derived the whole explode+score+agg subtree once per consumer
    // (t1, t2, n, final = a 249-operator plan with 38 parquet scans).
    // The checkpoint is |docs|×3 longs; both terciles now come out of
    // one conditional aggregation over the bounded grid (n rides along
    // as a window sum instead of a fourth corpus pass).
    val perDoc = Tables.localCheckpoint(scored.groupBy("doc_id")
      .agg(expr("sum(s_e6) div count(*)").as("mean_e6"))
      .withColumn("g4", expr("mean_e6 div 10000")), eager = false)
    val grid = perDoc.groupBy("g4").agg(count(lit(1)).as("gn"))
    val wg = Window.orderBy("g4")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = grid
      .withColumn("cum", sum("gn").over(wg))
      .withColumn("n", sum("gn").over(Window.partitionBy()))
      .agg(min(when(expr("cum * 3 >= n"), col("g4"))).as("t1"),
        min(when(expr("cum * 3 >= 2 * n"), col("g4"))).as("t2"))
    perDoc.crossJoin(broadcast(thr))
      .withColumn("bucket",
        when(col("g4") <= col("t1"), "head")
          .when(col("g4") <= col("t2"), "middle")
          .otherwise("tail"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("mean_e6").as("lo_e6"), max("mean_e6").as("hi_e6"))
      .orderBy("bucket")
  }

  val qCcnetBucketsSql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS arr
      |  FROM documents),
      |tr AS (SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
      |  FROM d, unnest(generate_series(1, len(arr) - 1)) AS t(i)),
      |lt AS (SELECT unnest(arr) AS w FROM d WHERE source = 'src0'),
      |uni AS (SELECT w, count(*) AS c2 FROM lt GROUP BY w),
      |tot AS (SELECT count(*) AS t, count(DISTINCT w) AS v FROM lt),
      |bi AS (SELECT arr[i] AS w1, arr[i+1] AS w2, count(*) AS c12
      |  FROM d, unnest(generate_series(1, len(arr) - 1)) AS t(i)
      |  WHERE source = 'src0' GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12) AS c1 FROM bi GROUP BY w1),
      |sc AS (SELECT tr.doc_id,
      |    CAST(round(-ln(
      |      CAST(0.7 AS DOUBLE) * (CAST(coalesce(bi.c12, 0) AS DOUBLE)
      |        / greatest(c1.c1, 1)) +
      |      CAST(0.3 AS DOUBLE) * (CAST(coalesce(uni.c2, 0) + 1 AS DOUBLE)
      |        / (tot.t + tot.v))
      |    ) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS s_e6
      |  FROM tr LEFT JOIN bi USING (w1, w2) LEFT JOIN c1 USING (w1)
      |  LEFT JOIN uni ON uni.w = tr.w2 CROSS JOIN tot),
      |pd AS (SELECT doc_id, CAST(sum(s_e6) // count(*) AS BIGINT)
      |    AS mean_e6 FROM sc GROUP BY doc_id),
      |pg AS (SELECT doc_id, mean_e6, mean_e6 // 10000 AS g4 FROM pd),
      |grid AS (SELECT g4, count(*) AS gn FROM pg GROUP BY g4),
      |n AS (SELECT count(*) AS n FROM pg),
      |cums AS (SELECT g4, sum(gn) OVER (ORDER BY g4
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM grid),
      |t1 AS (SELECT min(g4) AS t1 FROM cums, n WHERE cum * 3 >= n.n),
      |t2 AS (SELECT min(g4) AS t2 FROM cums, n WHERE cum * 3 >= 2 * n.n)
      |SELECT CASE WHEN g4 <= t1.t1 THEN 'head'
      |    WHEN g4 <= t2.t2 THEN 'middle' ELSE 'tail' END AS bucket,
      |  count(*) AS n_docs, min(mean_e6) AS lo_e6, max(mean_e6) AS hi_e6
      |FROM pg, t1, t2 GROUP BY bucket ORDER BY bucket""".stripMargin
}
