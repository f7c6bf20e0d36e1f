package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 training-prep wave (SURVEY.md §2.20): the operators a team
  * runs between "curated corpus" and "training job" — budgeted source
  * selection, an in-engine naive-Bayes classifier (train + score +
  * confusion in one plan), a distributed logistic-regression gradient
  * step, embedding whitening/outlier detection, hashdiff change capture,
  * and the raw `spark.sql` front-end surface.
  *
  * Determinism: corpus-sized accumulations are exact integers (token
  * counts, micronat-rounded log-probabilities — the q_ccnet_buckets
  * discipline — and micro-unit-rounded gradient terms); floats appear
  * only in bounded-table math or closing per-row expressions on the
  * round(4)/round(6) grid.
  */
object PipelineTrain {

  // ─────────────── token-budget greedy source selection ───────────────

  private val BudgetChars = 30000L

  /** Greedy per-source selection under a character budget: rank each
    * source's docs by length (quality proxy) with a doc_id tiebreak,
    * keep while the running total stays ≤ 30k chars — the "fill each
    * source's token quota with its best documents" mixing step that
    * runs after q_mix_sample decides the quotas. The running sum is a
    * window PARTITIONED by source (never global); at cluster scale the
    * same statement range-partitions per source, and the
    * q_shard_pack bucket-offset rewrite applies if one source
    * dominates. Output: |sources| exact-integer rows.
    */
  def qTokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("cum", sum("n_chars").over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cum") <= BudgetChars, 1L).otherwise(0L))
          .as("kept_docs"),
        sum(when(col("cum") <= BudgetChars, col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .orderBy("source")
  }

  val qTokenBudgetSql: String =
    s"""WITH c AS (SELECT source, n_chars,
       |    sum(n_chars) OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN cum <= $BudgetChars THEN 1 ELSE 0 END)
       |    AS BIGINT) AS kept_docs,
       |  CAST(sum(CASE WHEN cum <= $BudgetChars THEN n_chars ELSE 0 END)
       |    AS BIGINT) AS kept_chars
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ─────────────── multinomial naive Bayes language classifier ──────────

  /** Multinomial naive-Bayes language classifier, trained AND scored in
    * one plan: add-one-smoothed per-(lang, term) token likelihoods +
    * doc-count priors train on the whole corpus, every doc is scored
    * against all 5 language models, and the output is the 5×5 confusion
    * matrix (resubstitution). The model is VOCAB×LANGS rows — vocab
    * grows with the corpus (Heaps' law), so it is NOT force-broadcast;
    * AQE picks broadcast-hash at runtime when the measured model is
    * small. Scoring is one tokens⋈model join
    * and a per-(doc, candidate) exact-integer sum: each log-probability
    * is rounded to integer MICRONATS before summation (the
    * q_ccnet_buckets discipline), so per-doc totals and the argmax are
    * exact on both engines, with a lang-name tiebreak. Scale: one token
    * pass for counts, one broadcast-join pass to score; no corpus
    * self-join.
    */
  def qNaiveBayes(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("term"))
    // Four parallel rollups of the token stream, deliberately NOT
    // folded into one checkpointed dtf pass (round 12, measured): the
    // explode+aggregate scans are cheap codegen pipelines off the
    // parquet/page cache, and the checkpoint's materialization barriers
    // cost more than the duplicated explodes save (1.5–1.8 s plain vs
    // 1.8–2.6 s checkpointed warm at sf0.1).
    val counts = toks.groupBy("lang", "term").agg(count(lit(1)).as("c"))
    val langTotals = toks.groupBy("lang").agg(count(lit(1)).as("tl"))
    val vocab = toks.select("term").distinct()
    val vSize = vocab.agg(count(lit(1)).as("v"))
    // model grid: every (candidate lang, term), zero-count terms included
    val model = vocab.crossJoin(
        broadcast(langTotals.select(col("lang").as("cand"), col("tl"))))
      .join(counts.select(col("lang").as("cand"), col("term"), col("c")),
        Seq("cand", "term"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("cand"), col("term"),
        round(log((coalesce(col("c"), lit(0L)) + 1L).cast("double") /
          (col("tl") + col("v")).cast("double")) * 1e6)
          .cast("long").as("lp"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val priors = docs.groupBy(col("lang").as("cand"))
      .agg(count(lit(1)).as("dl"))
      .crossJoin(broadcast(nDocs))
      .select(col("cand"),
        round(log(col("dl").cast("double") / col("nd").cast("double")) * 1e6)
          .cast("long").as("prior"))
    // NO forced broadcast on the model (round-10 advice): vocab grows
    // with corpus size (Heaps' law), so vocab×langs is NOT a bounded dim
    // like nation/region — a forced broadcast would pin an unbounded
    // relation to driver+executor memory at large SFs. AQE converts the
    // shuffle join to broadcast-hash at runtime whenever the built model
    // is actually small (it is here), which is the right gate: measured
    // size, not a compile-time guess.
    // score on per-(doc, term) term FREQUENCIES, not raw tokens: the
    // model join fans out by |langs|, so shrinking its left side from
    // |tokens| to |distinct doc-terms| divides the join output and the
    // grouped rows by the mean tf. Σ lp over repeated tokens = lp·tf
    // exactly (integer multiply), so totals are bit-identical to the
    // per-token sum. (round 11; measured 2.2 → 1.1 s warm at sf0.1)
    val dtf = toks.groupBy("doc_id", "lang", "term")
      .agg(count(lit(1)).as("tf"))
    val scores = dtf.join(model, "term")
      .groupBy("doc_id", "lang", "cand")
      .agg(sum(col("lp") * col("tf")).as("s"))
      .join(broadcast(priors), "cand")
      .withColumn("total", col("s") + col("prior"))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("total").desc, col("cand"))
    scores.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .groupBy(col("lang"), col("cand").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  val qNaiveBayesSql: String =
    """WITH toks AS (SELECT doc_id, lang,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |counts AS (SELECT lang, term, count(*) AS c
      |  FROM toks GROUP BY lang, term),
      |lt AS (SELECT lang, count(*) AS tl FROM toks GROUP BY lang),
      |vocab AS (SELECT DISTINCT term FROM toks),
      |vs AS (SELECT count(*) AS v FROM vocab),
      |model AS (SELECT lt.lang AS cand, vocab.term,
      |    CAST(round(ln((coalesce(c, 0) + 1)
      |      / CAST(tl + v AS DOUBLE)) * 1000000) AS BIGINT) AS lp
      |  FROM vocab CROSS JOIN lt CROSS JOIN vs
      |  LEFT JOIN counts ON counts.lang = lt.lang
      |    AND counts.term = vocab.term),
      |nd AS (SELECT count(*) AS nd FROM documents),
      |priors AS (SELECT lang AS cand,
      |    CAST(round(ln(count(*) / CAST((SELECT nd FROM nd) AS DOUBLE))
      |      * 1000000) AS BIGINT) AS prior
      |  FROM documents GROUP BY lang),
      |scores AS (SELECT t.doc_id, t.lang, m.cand,
      |    sum(m.lp) + any_value(p.prior) AS total
      |  FROM toks t JOIN model m USING (term)
      |  JOIN priors p ON p.cand = m.cand
      |  GROUP BY t.doc_id, t.lang, m.cand),
      |best AS (SELECT doc_id, lang, cand,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY total DESC, cand) AS rk
      |  FROM scores)
      |SELECT lang, cand AS pred, count(*) AS n
      |FROM best WHERE rk = 1
      |GROUP BY lang, cand ORDER BY lang, pred""".stripMargin

  // ───────── distributed logistic-regression gradient step ─────────

  /** One exact distributed gradient-descent step for logistic
    * regression (y = label ≥ 5, x = the 64-dim embedding, w₀ = 0): at
    * the zero vector σ(w·x) = ½ exactly, so the batch gradient
    * gⱼ = Σᵢ(½ − yᵢ)xᵢⱼ = ½·Σᵢ(1 − 2yᵢ)xᵢⱼ. Each coordinate is rounded
    * to integer MICRO-UNITS (qᵢⱼ = round(10⁶·xᵢⱼ)) so the gradient sum
    * is an exact BIGINT on both engines — no float accumulation across
    * rows — and the weight update w₁ⱼ = −lr·gⱼ/n is one closing
    * division. Output: the 8 strongest coordinates. This is the
    * gradient-aggregation pattern (partial-aggregable per-dim sums); a
    * multi-step loop re-broadcasts w each round, the q_kmeans_iter
    * discipline.
    */
  def qLogregGd(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        when(col("label") >= 5, 1L).otherwise(0L).as("y"),
        posexplode(col("embedding")).as(Seq("p", "xv")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("dim"),
        (lit(1L) - lit(2L) * col("y")).as("sgn"),
        round(col("xv").cast("double") * 1e6).cast("long").as("q"))
    val n = Tables.t(spark, sfDir, "embeddings").agg(count(lit(1)).as("n"))
    x.groupBy("dim")
      .agg(sum(col("sgn") * col("q")).as("gsum"))
      .crossJoin(broadcast(n))
      .select(col("dim"), col("n"), col("gsum"),
        // w₁ = −lr·g/n with lr = 1, g = gsum/(2·10⁶)
        round(-col("gsum").cast("double") /
          (lit(2e6) * col("n").cast("double")), 6).as("w1"))
      .orderBy(abs(col("gsum")).desc, col("dim"))
      .limit(8)
  }

  val qLogregGdSql: String =
    """WITH x AS (SELECT vec_id,
      |    CASE WHEN label >= 5 THEN -1 ELSE 1 END AS sgn,
      |    i AS dim,
      |    CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
      |      * 1000000) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, 64)) t(i)),
      |n AS (SELECT count(*) AS n FROM embeddings),
      |g AS (SELECT dim, CAST(sum(sgn * q) AS BIGINT) AS gsum FROM x
      |  GROUP BY dim)
      |SELECT CAST(dim AS BIGINT) AS dim, n.n, gsum,
      |  round(-gsum / (2000000.0 * n.n), 6) AS w1
      |FROM g, n
      |ORDER BY abs(gsum) DESC, dim LIMIT 8""".stripMargin

  // ───────── THREE logistic-regression gradient steps (round 10) ─────────

  /** Three full batch gradient-descent steps for the same logistic
    * model — the multi-step graduation of [[qLogregGd]]. Per step:
    * margins zᵢ = Σ_d w_d·q_{id} are exact BIGINTs (w and x both on the
    * micro grid, so z is in 10⁻¹² units, ≤ 64·2·10¹² ≪ 2⁶³), the
    * sigmoid is the step's ONE float operation and is immediately
    * re-quantized to micro-probabilities pᵢ = round(10⁶·σ(z)) (the
    * q_dp_count / q_naive_bayes transcendental-then-round discipline —
    * both engines evaluate the same double exp and round half-away),
    * the gradient G_d = Σᵢ(pᵢ−yᵢ)·q_{id} accumulates as an exact BIGINT
    * (no float partial-sum order anywhere), and the update
    * w ← w − round(G_d/(n·10⁶)) is one closing double division whose
    * quotient is O(10⁶) — far from BIGINT-precision loss. Step 1
    * reproduces [[qLogregGd]] exactly (σ(0)·10⁶ = 500000 with no
    * rounding). Output: the 8 strongest coordinates of w₃. Scale: each
    * step is one broadcast of the 64-row w, one vec-keyed partial
    * aggregate, one dim-keyed partial aggregate — 3× the single-step
    * envelope; G_d's BIGINT headroom is ~10¹⁸/(10¹²) = 10⁶ × corpus
    * rows, documented at the operator like q_return_rate's decimal
    * widening.
    */
  def qLogregGd3(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val n = emb.count()
    // EAGER (round 13): x feeds two subtrees per step (the logit join
    // and the gradient join) × 3 steps; a lazy checkpoint let the
    // first step's two concurrent consumer stages each re-run the
    // |emb|×64 posexplode before either cached it
    val x = Tables.localCheckpoint(emb
      .select(col("vec_id"),
        when(col("label") >= 5, 1000000L).otherwise(0L).as("y"),
        posexplode(col("embedding")).as(Seq("p", "xv")))
      .select(col("vec_id"), col("y"),
        (col("p") + 1).cast("long").as("dim"),
        round(col("xv").cast("double") * 1e6).cast("long").as("q")))
    def step(w: DataFrame): DataFrame = {
      val z = x.join(broadcast(w), "dim")
        .groupBy("vec_id", "y")
        .agg(sum(col("w") * col("q")).as("z"))
      val p = z.select(col("vec_id"), col("y"),
        round(lit(1e6) / (lit(1.0) + exp(-(col("z").cast("double") / 1e12))))
          .cast("long").as("p"))
      val g = x.join(p.drop("y"), "vec_id")
        .groupBy("dim")
        .agg(sum((col("p") - col("y")) * col("q")).as("g"))
      Tables.localCheckpoint(w.join(g, "dim")
        .select(col("dim"),
          (col("w") -
            round(col("g").cast("double") / (n * 1e6)).cast("long")).as("w")),
        eager = false)
    }
    val w0 = x.select("dim").distinct().withColumn("w", lit(0L))
    val w3 = step(step(step(w0)))
    w3.select(col("dim"), col("w").as("w3_e6"))
      .orderBy(abs(col("w3_e6")).desc, col("dim"))
      .limit(8)
  }

  val qLogregGd3Sql: String = {
    // one unrolled step: z/p from w{K-1}, gradient, wK
    def step_(prevW: String, k: Int): String =
      s"""z$k AS (SELECT x.vec_id, x.y, sum(w.w * x.q) AS z
        |  FROM x JOIN $prevW w USING (dim) GROUP BY x.vec_id, x.y),
        |p$k AS (SELECT vec_id, y,
        |    CAST(round(1000000.0 / (1 + exp(-(z / 1000000000000.0))))
        |      AS BIGINT) AS p
        |  FROM z$k),
        |g$k AS (SELECT x.dim, sum((p.p - x.y) * x.q) AS g
        |  FROM x JOIN p$k p USING (vec_id) GROUP BY x.dim),
        |w$k AS (SELECT w.dim,
        |    w.w - CAST(round(g.g / (1000000.0 * (SELECT n FROM n)))
        |      AS BIGINT) AS w
        |  FROM $prevW w JOIN g$k g USING (dim))""".stripMargin
    s"""WITH x AS (SELECT vec_id,
      |    CASE WHEN label >= 5 THEN 1000000 ELSE 0 END AS y,
      |    i AS dim,
      |    CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
      |      * 1000000) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, 64)) t(i)),
      |n AS (SELECT count(*) AS n FROM embeddings),
      |w0 AS (SELECT DISTINCT dim, CAST(0 AS BIGINT) AS w FROM x),
      |${step_("w0", 1)},
      |${step_("w1", 2)},
      |${step_("w2", 3)}
      |SELECT CAST(dim AS BIGINT) AS dim, w AS w3_e6 FROM w3
      |ORDER BY abs(w) DESC, dim LIMIT 8""".stripMargin
  }

  // ───────── embedding whitening + Mahalanobis outliers ─────────

  /** Diagonal-whitening outlier detection over the embedding corpus:
    * per-dimension mean/stddev (the q_embed_dim_var moment pass —
    * 64 bounded rows, broadcast back), each vector's diagonal
    * Mahalanobis distance Σⱼ((xⱼ−mⱼ)/sⱼ)², and the top-10 outliers —
    * the "which embeddings don't belong?" audit run before training on
    * them. The presentation sort keys on the ROUNDED distance with a
    * vec_id tiebreak, so the cross-engine rank is stable wherever the
    * round(4) values agree. Scale: two narrow passes + a 64-row
    * broadcast; the top-k is a TakeOrdered, never a global sort.
    */
  def qEmbedWhiten(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "v")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val st = x.groupBy("dim")
      .agg(avg("v").as("m"), expr("stddev_samp(v)").as("s"))
    x.join(broadcast(st), "dim")
      .groupBy("vec_id")
      .agg(sum(pow((col("v") - col("m")) / col("s"), 2)).as("d2"))
      .select(col("vec_id"), round(col("d2"), 4).as("maha_sq"))
      .orderBy(col("maha_sq").desc, col("vec_id"))
      .limit(10)
  }

  val qEmbedWhitenSql: String =
    """WITH x AS (SELECT vec_id, i AS dim,
      |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
      |  FROM embeddings, unnest(generate_series(1, 64)) t(i)),
      |st AS (SELECT dim, avg(v) AS m, stddev_samp(v) AS s
      |  FROM x GROUP BY dim),
      |d AS (SELECT vec_id, sum(pow((v - m) / s, 2)) AS d2
      |  FROM x JOIN st USING (dim) GROUP BY vec_id)
      |SELECT vec_id, round(d2, 4) AS maha_sq
      |FROM d ORDER BY round(d2, 4) DESC, vec_id LIMIT 10""".stripMargin

  // ───────── hashdiff change-data-capture classification ─────────

  /** Data-vault-style hashdiff change detection between two order
    * snapshots: the new snapshot drops every 13th key (deletes), bumps
    * every 7th key's total by 500 cents (updates), and re-keys every
    * 17th key above a 10¹⁰ offset (inserts); ONE md5 over the
    * pipe-joined attribute tuple per row then classifies each full-
    * outer-joined key as added / removed / changed / unchanged without
    * comparing columns individually — the satellite-update pattern that
    * stays one hash column wide no matter how wide the row gets.
    * Per-class counts and the exact-cents delta close the audit. Scale:
    * one equi-join on the key, hash computed in the row pass.
    */
  def qCdcHashdiff(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.t(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_orderpriority").as("pr"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    def hashed(df: DataFrame): DataFrame =
      df.withColumn("hd",
        md5(concat_ws("|", col("st"), col("pr"),
          col("cents").cast("string"))))
    val old = hashed(o)
    val upd = o.filter(col("k") % 13 =!= 0)
      .withColumn("cents",
        when(col("k") % 7 === 0, col("cents") + 500L).otherwise(col("cents")))
    val ins = o.filter(col("k") % 17 === 0)
      .select((col("k") + 10000000000L).as("k"), col("st"), col("pr"),
        col("cents"))
    val nw = hashed(upd.unionByName(ins))
    old.select(col("k"), col("hd").as("h_old"), col("cents").as("c_old"))
      .join(nw.select(col("k"), col("hd").as("h_new"),
        col("cents").as("c_new")), Seq("k"), "full_outer")
      .select(
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("cls"),
        (coalesce(col("c_new"), lit(0L)) - coalesce(col("c_old"), lit(0L)))
          .as("delta"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n"), sum("delta").as("delta_cents"))
      .orderBy("cls")
  }

  val qCdcHashdiffSql: String =
    """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    o_orderpriority AS pr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |old AS (SELECT k, cents,
      |    md5(st || '|' || pr || '|' || CAST(cents AS VARCHAR)) AS hd
      |  FROM o),
      |upd AS (SELECT k, st, pr,
      |    CASE WHEN k % 7 = 0 THEN cents + 500 ELSE cents END AS cents
      |  FROM o WHERE k % 13 <> 0),
      |ins AS (SELECT k + 10000000000 AS k, st, pr, cents
      |  FROM o WHERE k % 17 = 0),
      |nw AS (SELECT k, cents,
      |    md5(st || '|' || pr || '|' || CAST(cents AS VARCHAR)) AS hd
      |  FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)),
      |j AS (SELECT
      |    CASE WHEN old.hd IS NULL THEN 'added'
      |      WHEN nw.hd IS NULL THEN 'removed'
      |      WHEN old.hd <> nw.hd THEN 'changed'
      |      ELSE 'unchanged' END AS cls,
      |    coalesce(nw.cents, 0) - coalesce(old.cents, 0) AS delta
      |  FROM old FULL OUTER JOIN nw USING (k))
      |SELECT cls, count(*) AS n,
      |  CAST(sum(delta) AS BIGINT) AS delta_cents
      |FROM j GROUP BY cls ORDER BY cls""".stripMargin

  // ───────── raw SQL front-end surface ─────────

  /** The SAME ANSI SQL text runs on both engines: Spark executes it via
    * `spark.sql` over [[Tables.registerViews]] temp views, DuckDB over
    * its parquet views — pinning that a reference user can bring plain
    * SQL (CTEs, multi-way joins, window rank) to this engine unchanged.
    * The query itself is the top-2-nations-per-region revenue board:
    * exact integer cents, a broadcastable dim chain, one window over
    * the |nations|-row aggregate.
    */
  val qSqlApiSql: String =
    """WITH rev AS (
      |  SELECT r_name, n_name,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name),
      |ranked AS (
      |  SELECT r_name, n_name, cents,
      |    row_number() OVER (PARTITION BY r_name
      |      ORDER BY cents DESC, n_name) AS rn
      |  FROM rev)
      |SELECT r_name, n_name, cents, CAST(rn AS BIGINT) AS rn
      |FROM ranked WHERE rn <= 2
      |ORDER BY r_name, rn""".stripMargin

  def qSqlApi(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerViews(spark, sfDir)
    spark.sql(qSqlApiSql)
  }

  // ───────── class-balanced deterministic downsampling ─────────

  /** Class-balanced downsampling of the embedding corpus: every label
    * keeps exactly min-class-size rows, chosen by content-hash order
    * (the q_split_train engine-portable convention) with a vec_id
    * tiebreak — the oversampled-class trim before training a classifier
    * on skewed labels. The per-label rank window partitions on label
    * (bounded groups); the kept-set is PROVEN deterministic by shipping
    * its exact vec_id checksum per label. Scale: one narrow pass + a
    * label-partitioned window + a 1-row broadcast cap.
    */
  def qSampleBalanced(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.t(spark, sfDir, "embeddings").select("vec_id", "label")
    val cap = e.groupBy("label").agg(count(lit(1)).as("cn"))
      .agg(min("cn").as("cap"))
    val w = Window.partitionBy("label")
      .orderBy(Tables.md5Bucket(col("vec_id").cast("string")), col("vec_id"))
    e.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(cap))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("rn") <= col("cap"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("rn") <= col("cap"), col("vec_id")).otherwise(0L))
          .as("kept_vecsum"))
      .orderBy("label")
  }

  val qSampleBalancedSql: String =
    """WITH cap AS (SELECT min(cn) AS cap FROM (
      |    SELECT label, count(*) AS cn FROM embeddings GROUP BY label)),
      |r AS (SELECT label, vec_id,
      |    row_number() OVER (PARTITION BY label ORDER BY
      |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
      |      vec_id) AS rn
      |  FROM embeddings)
      |SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |  CAST(sum(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |  CAST(sum(CASE WHEN rn <= cap THEN vec_id ELSE 0 END) AS BIGINT)
      |    AS kept_vecsum
      |FROM r, cap GROUP BY label ORDER BY label""".stripMargin

  // ───────── C4-style line-level duplication audit ─────────

  /** Line-level duplication audit (the C4 move, adapted to the
    * newline-free corpus): docs split into non-overlapping 8-token
    * segments, a segment is "duplicated" when its text appears in ≥ 2
    * DISTINCT documents, and each source reports its duplicated-segment
    * instance share — the granularity BETWEEN q_dedup_exact (whole doc)
    * and the 3-token shingle family. One explode pass (|tokens|/8
    * rows), one segment-keyed aggregate, one equi-join back — the
    * exact-dedup shuffle shape, never all-pairs. Exact-integer output.
    */
  def qLineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val segs = Tables.t(spark, sfDir, "documents")
      .withColumn("arr", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        explode(transform(
          sequence(lit(0), expr("(size(arr) - 1) div 8")),
          i => concat_ws(" ", slice(col("arr"), i * 8 + 1, lit(8))))).as("seg"))
    val dup = segs.groupBy("seg")
      .agg(countDistinct("doc_id").as("nd"))
    segs.join(dup, "seg")
      .groupBy("source")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_inst"))
      .select(col("source"), col("n_seg"), col("dup_inst"),
        expr("dup_inst * 1000000 div n_seg").as("dup_ppm"))
      .orderBy("source")
  }

  val qLineDedupSql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS arr
      |  FROM documents),
      |segs AS (SELECT doc_id, source,
      |    array_to_string(arr[i * 8 + 1 : i * 8 + 8], ' ') AS seg
      |  FROM d, unnest(generate_series(0, (len(arr) - 1) // 8)) t(i)),
      |dup AS (SELECT seg, count(DISTINCT doc_id) AS nd
      |  FROM segs GROUP BY seg)
      |SELECT source, count(*) AS n_seg,
      |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dup_inst,
      |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS dup_ppm
      |FROM segs JOIN dup USING (seg)
      |GROUP BY source ORDER BY source""".stripMargin

  // ───────── RAKE keyphrase extraction ─────────

  /** RAKE keyphrase extraction over the corpus: candidate phrases are
    * maximal stopword-free token runs (stopwords {a, the} — the
    * corpus's function words), each word scores degree/frequency
    * (degree = Σ lengths of phrases containing it), and a phrase scores
    * the sum of its word scores — the phrase-level companion to
    * q_keywords' unigram TF-IDF tags. EVERY score is an exact integer:
    * word score in micro-units via one integer division
    * (deg·10⁶ div freq), phrase score an exact sum of those — no float
    * anywhere, so the top-20 ranking can't fork on ulps. Scale: one
    * token pass; phrase segmentation is a per-doc window (gaps-islands
    * on the stopword flag); the word-score table is vocab-sized (grows
    * with the corpus), so the re-join is left to AQE rather than
    * force-broadcast.
    */
  def qKeyphraseRake(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.tokens(spark, sfDir)
      .withColumn("stop", col("term").isin("a", "the"))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val seg = toks
      .withColumn("grp",
        sum(when(col("stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("stop"))
    val wPhrase = Window.partitionBy("doc_id", "grp")
    // TWO consumers (the word-score aggregation and the phrase re-join)
    // — without materialization the token-cache scan and the two-window
    // chain over it run once per branch (guide §2.4). A lazy
    // localCheckpoint cuts the duplicate; the pinned copy belongs to the
    // invocation and is released when the same thread re-invokes the
    // query. (A window-over-token rewrite would also single-pass it but
    // buffers hot-token partitions at scale — the aggregate+join form
    // keeps partial aggregation and AQE skew handling, so it stays.)
    val withLen = Tables.localCheckpoint(
      seg.withColumn("plen", count(lit(1)).over(wPhrase)), eager = false)
    val words = withLen.groupBy("term")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("term"),
        expr("deg * 1000000 div freq").as("wscore"))
    // word-score table is vocab-sized — unbounded under Heaps' law, so
    // no forced broadcast (round-10 advice): AQE promotes to
    // broadcast-hash at runtime when the aggregated table is small
    val phrases = withLen.join(words, "term")
      .groupBy("doc_id", "grp")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          s => s.getField("term"))).as("phrase"),
        sum("wscore").as("score_e6"))
    phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occur"), max("score_e6").as("score_e6"))
      .orderBy(col("score_e6").desc, col("phrase"))
      .limit(20)
  }

  val qKeyphraseRakeSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents),
      |toks AS (SELECT doc_id, i AS pos, arr[CAST(i AS INTEGER)] AS tok,
      |    arr[CAST(i AS INTEGER)] IN ('a', 'the') AS stop
      |  FROM d, unnest(generate_series(1, len(arr))) t(i)),
      |seg AS (SELECT doc_id, pos, tok,
      |    sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM toks QUALIFY NOT stop),
      |wl AS (SELECT doc_id, grp, pos, tok,
      |    count(*) OVER (PARTITION BY doc_id, grp) AS plen
      |  FROM seg),
      |words AS (SELECT tok,
      |    sum(plen) * 1000000 // count(*) AS wscore
      |  FROM wl GROUP BY tok),
      |phrases AS (SELECT doc_id, grp,
      |    string_agg(wl.tok, ' ' ORDER BY pos) AS phrase,
      |    sum(wscore) AS score_e6
      |  FROM wl JOIN words ON wl.tok = words.tok
      |  GROUP BY doc_id, grp)
      |SELECT phrase, count(*) AS n_occur,
      |  CAST(max(score_e6) AS BIGINT) AS score_e6
      |FROM phrases GROUP BY phrase
      |ORDER BY score_e6 DESC, phrase LIMIT 20""".stripMargin

  // ───────── kNN label-agreement (label-noise) audit ─────────

  /** Label-noise audit via nearest-neighbor agreement: each embedding's
    * nearest OTHER vector (cosine) inside its 8-bit coordinate-sign LSH
    * bucket votes on the label; per label, the share of agreeing votes —
    * low agreement flags mislabeled or boundary examples before they
    * poison training (confident-learning's core signal). Candidates
    * come from a bucket EQUI-join (the q_binary_embed sign-LSH shape,
    * never all-pairs); the re-score is the codegen'd ArrayDot cosine on
    * the round(4) grid with a neighbor-id tiebreak, so the chosen
    * neighbor is engine-stable. Scale: O(Σ bucket²) candidate pairs,
    * one row-number window per probe vector.
    */
  /** (v1, l1, v2, l2, cos) candidate pairs inside 8-bit coordinate-sign
    * LSH buckets, cosine on the round(4) grid — shared by
    * [[qKnnLabelAgree]] and [[qTripletMine]]. Bucket equi-join, never
    * all-pairs (PlanAuditSpec pin). */
  private def bucketedCosPairs(spark: SparkSession,
      sfDir: String): DataFrame = {
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val bucketed = e.withColumn("bucket",
      (0 until 8).map(i =>
        when(element_at(col("v"), i + 1) >= 0.0, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _))
    val a = bucketed.select(col("vec_id").as("v1"), col("label").as("l1"),
      col("v").as("va"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("v2"), col("label").as("l2"),
      col("v").as("vb"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("v1") =!= col("v2"))
      .withColumn("cos",
        round(graft.functions.VectorOps.cosine(col("va"), col("vb")), 4))
  }

  /** DuckDB mirror of [[bucketedCosPairs]] — CTE prologue ending in
    * `pairs(v1, l1, v2, l2, cos)`. */
  private val bucketedCosPairsCte: String =
    """ed AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |bk AS (SELECT vec_id, label, v,
      |    CAST(list_sum(list_transform(generate_series(0, 7),
      |      i -> CASE WHEN v[i + 1] >= 0 THEN 1 << i ELSE 0 END))
      |      AS BIGINT) AS bucket
      |  FROM ed),
      |pairs AS (SELECT a.vec_id AS v1, a.label AS l1,
      |    b.vec_id AS v2, b.label AS l2,
      |    round(list_cosine_similarity(a.v, b.v), 4) AS cos
      |  FROM bk a JOIN bk b ON a.bucket = b.bucket
      |    AND a.vec_id <> b.vec_id)""".stripMargin

  def qKnnLabelAgree(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = bucketedCosPairs(spark, sfDir)
    val wNn = Window.partitionBy("v1")
      .orderBy(col("cos").desc, col("v2"))
    pairs.withColumn("rn", row_number().over(wNn))
      .filter(col("rn") === 1)
      .groupBy(col("l1").cast("long").as("label"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("l1") === col("l2"), 1L).otherwise(0L)).as("agree"))
      .select(col("label"), col("n_scored"), col("agree"),
        expr("agree * 1000000 div n_scored").as("agree_ppm"))
      .orderBy("label")
  }

  val qKnnLabelAgreeSql: String =
    s"""WITH $bucketedCosPairsCte,
      |nn AS (SELECT l1, l2,
      |    row_number() OVER (PARTITION BY v1
      |      ORDER BY cos DESC, v2) AS rn
      |  FROM pairs)
      |SELECT CAST(l1 AS BIGINT) AS label, count(*) AS n_scored,
      |  CAST(sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS BIGINT) AS agree,
      |  CAST(sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) * 1000000 // count(*)
      |    AS BIGINT) AS agree_ppm
      |FROM nn WHERE rn = 1 GROUP BY l1 ORDER BY label""".stripMargin

  // ───────── temperature-scaling calibration grid ─────────

  /** Temperature-scaling calibration: the centScored one-vs-rest
    * classifier's log-loss evaluated over a 6-point temperature grid
    * (the single-parameter post-hoc calibration fit, chosen by exact
    * grid argmin rather than a gradient) — "which softening makes the
    * scores honest probabilities?". The score is ALREADY on the exact
    * e4 grid, so σ(score/T) is bit-identical on both engines; each
    * row's log-loss is rounded to integer MICRONATS before the sum (the
    * q_ccnet_buckets discipline), making per-temperature totals and the
    * argmin exact. The ×6 fan-out is in-row (the q_stats_bootstrap
    * convention) into 6 partial-agg groups. Scale: one pass, 6 rows.
    */
  def qEvalTempScale(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = PipelineML.centScored(spark, sfDir)
      .select(when(col("label") === 1, 1L).otherwise(0L).as("y"),
        col("score"))
    val grid = scored.withColumn("t_e2",
      explode(array(Seq(50, 75, 100, 150, 200, 300).map(lit): _*)))
      .withColumn("p",
        lit(1.0) / (lit(1.0) +
          exp(-col("score") * lit(100.0) / col("t_e2"))))
      .withColumn("ll_micro",
        round(-log(when(col("y") === 1L, col("p"))
          .otherwise(lit(1.0) - col("p"))) * 1e6).cast("long"))
      .groupBy("t_e2")
      .agg(count(lit(1)).as("n"), sum("ll_micro").as("ll_total"))
    val wBest = Window.orderBy(col("ll_total"), col("t_e2"))
    grid.withColumn("rk", row_number().over(wBest))
      .select((col("t_e2").cast("double") / 100.0).as("temperature"),
        col("n"), expr("ll_total div n").as("mean_ll_micro"),
        when(col("rk") === 1, 1L).otherwise(0L).as("is_best"))
      .orderBy("temperature")
  }

  val qEvalTempScaleSql: String =
    s"""WITH ${PipelineML.centScoredCte},
      |y AS (SELECT CASE WHEN label = 1 THEN 1 ELSE 0 END AS y, score
      |  FROM scored),
      |g AS (SELECT y.y, y.score, t.t_e2,
      |    1.0 / (1.0 + exp(-y.score * 100.0 / t.t_e2)) AS p
      |  FROM y, unnest([50, 75, 100, 150, 200, 300]) t(t_e2)),
      |ll AS (SELECT t_e2, count(*) AS n,
      |    sum(CAST(round(-ln(CASE WHEN y = 1 THEN p ELSE 1.0 - p END)
      |      * 1000000) AS BIGINT)) AS ll_total
      |  FROM g GROUP BY t_e2),
      |r AS (SELECT *, row_number() OVER (ORDER BY ll_total, t_e2) AS rk
      |  FROM ll)
      |SELECT t_e2 / 100.0 AS temperature, n,
      |  CAST(ll_total // n AS BIGINT) AS mean_ll_micro,
      |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
      |FROM r ORDER BY temperature""".stripMargin

  // ───────── triplet hard-negative mining audit ─────────

  /** Triplet-margin mining over the [[bucketedCosPairs]] candidates:
    * per anchor, the hardest positive (max same-label cosine) and
    * hardest negative (max different-label cosine); per label, the mean
    * margin and the violation share (negative closer than positive) —
    * the metric-learning curriculum audit ("which classes have no
    * separation to learn from?"). Margins live on the EXACT e4 grid
    * (difference of two round(4) cosines, re-rounded to an integer),
    * so per-label sums and the violation count are exact. Scale: the
    * shared bucket equi-join + one conditional-max aggregate per
    * anchor — no window, no second pass.
    */
  def qTripletMine(spark: SparkSession, sfDir: String): DataFrame = {
    val anchors = bucketedCosPairs(spark, sfDir)
      .groupBy(col("v1"), col("l1"))
      .agg(max(when(col("l1") === col("l2"), col("cos"))).as("pos"),
        max(when(col("l1") =!= col("l2"), col("cos"))).as("neg"))
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .withColumn("margin_e4",
        round((col("pos") - col("neg")) * 10000).cast("long"))
    anchors.groupBy(col("l1").cast("long").as("label"))
      .agg(count(lit(1)).as("n_anchors"),
        sum("margin_e4").as("sum_margin_e4"),
        sum(when(col("margin_e4") < 0L, 1L).otherwise(0L)).as("violations"))
      .select(col("label"), col("n_anchors"),
        expr("sum_margin_e4 div n_anchors").as("avg_margin_e4"),
        col("violations"),
        expr("violations * 1000000 div n_anchors").as("violation_ppm"))
      .orderBy("label")
  }

  val qTripletMineSql: String =
    s"""WITH $bucketedCosPairsCte,
      |anchors AS (SELECT v1, l1,
      |    CAST(round((max(CASE WHEN l1 = l2 THEN cos END)
      |      - max(CASE WHEN l1 <> l2 THEN cos END)) * 10000) AS BIGINT)
      |      AS margin_e4
      |  FROM pairs GROUP BY v1, l1
      |  HAVING max(CASE WHEN l1 = l2 THEN cos END) IS NOT NULL
      |    AND max(CASE WHEN l1 <> l2 THEN cos END) IS NOT NULL)
      |SELECT CAST(l1 AS BIGINT) AS label, count(*) AS n_anchors,
      |  CAST(sum(margin_e4) // count(*) AS BIGINT) AS avg_margin_e4,
      |  CAST(sum(CASE WHEN margin_e4 < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS violations,
      |  CAST(sum(CASE WHEN margin_e4 < 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS violation_ppm
      |FROM anchors GROUP BY l1 ORDER BY label""".stripMargin

  // ───────── decision-stump Gini feature importance ─────────

  /** Mean-split decision-stump Gini importance per embedding dimension
    * (y = label ≥ 5): split each dim at its round(4) mean — the exact
    * shared grid, the centScored rounded-centroid precedent — and rank
    * dims by impurity reduction; the "which features carry label
    * signal?" scan run before training anything. Left/right/positive
    * counts are exact integers, the gain is a fixed-association
    * rational of those integers, and the top-10 ranks on round(gain, 6)
    * with a dim tiebreak. Scale: one explode pass + a 64-row broadcast
    * threshold table + one conditional-count aggregate.
    */
  def qFeatureGini(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.t(spark, sfDir, "embeddings")
      .select(when(col("label") >= 5, 1L).otherwise(0L).as("y"),
        posexplode(col("embedding")).as(Seq("p", "xv")))
      .select(col("y"), (col("p") + 1).cast("long").as("dim"),
        col("xv").cast("double").as("x"))
    val th = x.groupBy("dim").agg(round(avg("x"), 4).as("th"))
    val counts = x.join(broadcast(th), "dim")
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"),
        sum(when(col("x") < col("th"), 1L).otherwise(0L)).as("nl"),
        sum(when(col("x") < col("th") && col("y") === 1L, 1L)
          .otherwise(0L)).as("posl"))
    counts
      .withColumn("gain", when(col("nl") > 0L && col("nl") < col("n"),
        // 2p(1−p) binary Gini; identical association on both engines
        lit(2.0) * (col("pos") / col("n")) * (lit(1.0) - col("pos") / col("n"))
          - (col("nl") / col("n")) * lit(2.0) * (col("posl") / col("nl")) *
            (lit(1.0) - col("posl") / col("nl"))
          - ((col("n") - col("nl")) / col("n")) * lit(2.0) *
            ((col("pos") - col("posl")) / (col("n") - col("nl"))) *
            (lit(1.0) - (col("pos") - col("posl")) / (col("n") - col("nl"))))
        .otherwise(lit(0.0)))
      .select(col("dim"), col("n"), col("nl"), col("pos"), col("posl"),
        round(col("gain"), 6).as("gini_gain"))
      .orderBy(round(col("gain"), 6).desc, col("dim"))
      .limit(10)
  }

  val qFeatureGiniSql: String =
    """WITH x AS (SELECT
      |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y, i AS dim,
      |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
      |  FROM embeddings, unnest(generate_series(1, 64)) t(i)),
      |th AS (SELECT dim, round(avg(x), 4) AS th FROM x GROUP BY dim),
      |c AS (SELECT dim, count(*) AS n, sum(y) AS pos,
      |    sum(CASE WHEN x < th THEN 1 ELSE 0 END) AS nl,
      |    sum(CASE WHEN x < th AND y = 1 THEN 1 ELSE 0 END) AS posl
      |  FROM x JOIN th USING (dim) GROUP BY dim),
      |g AS (SELECT dim, n, nl, pos, posl,
      |    CASE WHEN nl > 0 AND nl < n THEN
      |      2.0 * (pos / n) * (1.0 - pos / n)
      |      - (nl / n) * 2.0 * (posl / nl) * (1.0 - posl / nl)
      |      - ((n - nl) / n) * 2.0 * ((pos - posl) / (n - nl)) *
      |        (1.0 - (pos - posl) / (n - nl))
      |    ELSE 0.0 END AS gain
      |  FROM c)
      |SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
      |  CAST(nl AS BIGINT) AS nl, CAST(pos AS BIGINT) AS pos,
      |  CAST(posl AS BIGINT) AS posl,
      |  round(gain, 6) AS gini_gain
      |FROM g ORDER BY round(gain, 6) DESC, dim LIMIT 10""".stripMargin

  // ───────── LSH banding parameter sweep ─────────

  /** LSH banding tuning audit over the shared K=8 MinHash signatures:
    * for each (bands, rows-per-band) split of the signature, the
    * S-curve similarity threshold (1/b)^(1/r) and the MEASURED
    * candidate-generation work Σ m(m−1)/2 over its band buckets — the
    * table a team reads to pick banding before running the dedup funnel
    * at scale (more bands = lower threshold = more candidate work,
    * quantified instead of guessed). Bucket sizes come from one
    * in-row band expansion + one groupBy (no pair join at all — the
    * work integral is computable from the bucket histogram). Exact
    * integers plus one pow per config row.
    */
  def qLshTune(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = PipelinePlus.minhashSig(spark, sfDir)
    val exploded = sig.select(explode(expr(
      """flatten(transform(array(
        |    named_struct('b', 1, 'r', 8), named_struct('b', 2, 'r', 4),
        |    named_struct('b', 4, 'r', 2), named_struct('b', 8, 'r', 1)),
        |  c -> transform(sequence(0, c.b - 1),
        |    band -> named_struct('b', c.b, 'r', c.r, 'band', band,
        |      'bsig', array_join(transform(
        |        slice(sig, band * c.r + 1, c.r),
        |        x -> cast(x as string)), '|')))))""".stripMargin)).as("x"))
      .select(col("x.b").as("b"), col("x.r").as("r"),
        col("x.band").as("band"), col("x.bsig").as("bsig"))
    exploded.groupBy("b", "r", "band", "bsig")
      .agg(count(lit(1)).as("m"))
      .groupBy(col("b").cast("long").as("bands"),
        col("r").cast("long").as("rows_per_band"))
      .agg(sum(when(col("m") >= 2L, 1L).otherwise(0L)).as("buckets_ge2"),
        sum(expr("m * (m - 1) div 2")).as("cand_work"))
      .select(col("bands"), col("rows_per_band"),
        round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 4).as("threshold"),
        col("buckets_ge2"), col("cand_work"))
      .orderBy("bands")
  }

  val qLshTuneSql: String =
    s"""WITH ${PipelinePlus.lshSigCte},
      |cfg AS (SELECT * FROM (VALUES (1, 8), (2, 4), (4, 2), (8, 1))
      |  c(b, r)),
      |bands AS (SELECT c.b, c.r, s.doc_id, s.k // c.r AS band,
      |    string_agg(s.mh, '|' ORDER BY s.k) AS bsig
      |  FROM sig s, cfg c GROUP BY c.b, c.r, s.doc_id, s.k // c.r),
      |bk AS (SELECT b, r, band, bsig, count(*) AS m
      |  FROM bands GROUP BY b, r, band, bsig)
      |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
      |  round(pow(1.0 / b, 1.0 / r), 4) AS threshold,
      |  CAST(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS buckets_ge2,
      |  CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_work
      |FROM bk GROUP BY b, r ORDER BY bands""".stripMargin

  // ───────── data-mixing epoch planner (round 10) ─────────

  /** Token budget the mixture must fill, and the repetition ceiling
    * (milli-epochs: 4000 = each source may repeat at most 4×). */
  private val MixBudgetTokens = 2000000L
  private val MixMaxEpochsMilli = 4000L

  /** Data-mixing epoch planner — the "how many times does each source
    * repeat" computation run before every pretraining job: each source
    * gets an equal share of the [[MixBudgetTokens]] budget, and its
    * repetition factor is alloc/tokens capped at
    * [[MixMaxEpochsMilli]]/1000 epochs (the repetition ceiling data
    * quality work established — repeating a small source too often
    * hurts). Everything is exact integer arithmetic in milli-epochs:
    * epochs_milli = min(cap, alloc·1000 div tokens), planned =
    * tokens·epochs_milli div 1000, and starved marks sources whose cap
    * ACTUALLY binds: epochs_milli == cap AND planned < alloc — budget
    * the mixture cannot fill without raising the ceiling or
    * reweighting. (The epochs_milli == cap conjunct matters: milli-epoch
    * truncation alone leaves planned up to tokens/1000 short of alloc
    * even when the ceiling never binds, and that quantization shortfall
    * is not starvation — round-10 advice.) Scale: one token-count pass
    * (the memoized whitespace counter) + a \|sources\|-row planner —
    * the planning math never touches the corpus again.
    */
  def qMixEpochs(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.t(spark, sfDir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
    val nSrc = perSource.agg(count(lit(1)).as("nsrc"))
    perSource.crossJoin(broadcast(nSrc))
      .withColumn("alloc", expr(s"$MixBudgetTokens div nsrc"))
      .withColumn("epochs_milli",
        least(lit(MixMaxEpochsMilli), expr("alloc * 1000 div tokens")))
      .withColumn("planned_tokens", expr("tokens * epochs_milli div 1000"))
      .select(col("source"), col("tokens"), col("alloc"),
        col("epochs_milli"), col("planned_tokens"),
        (col("epochs_milli") === MixMaxEpochsMilli &&
          col("planned_tokens") < col("alloc")).as("starved"))
      .orderBy("source")
  }

  val qMixEpochsSql: String =
    s"""WITH s AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |n AS (SELECT count(*) AS nsrc FROM s),
      |p AS (SELECT source, tokens,
      |    CAST($MixBudgetTokens // nsrc AS BIGINT) AS alloc,
      |    least($MixMaxEpochsMilli,
      |      ($MixBudgetTokens // nsrc) * 1000 // tokens) AS epochs_milli
      |  FROM s CROSS JOIN n)
      |SELECT source, tokens, alloc,
      |  CAST(epochs_milli AS BIGINT) AS epochs_milli,
      |  CAST(tokens * epochs_milli // 1000 AS BIGINT) AS planned_tokens,
      |  epochs_milli = $MixMaxEpochsMilli
      |    AND tokens * epochs_milli // 1000 < alloc AS starved
      |FROM p ORDER BY source""".stripMargin

  // ───────── temperature-scaled mixing weights (round 11) ─────────

  /** Temperature-scaled source-mixing weights at T = 2 (α = 1/T = 0.5,
    * the standard multilingual/multi-source re-balancing move — raw
    * proportional sampling drowns small sources, uniform over-repeats
    * them; wᵢ ∝ nᵢ^0.5 sits between). Exactness: nᵢ^0.5 is computed as
    * the INTEGER square root — floor(sqrt) from the double sqrt with a
    * ±1 integer correction, so a last-bit double disagreement between
    * engines cannot move the result — and the weights are exact ppm on
    * the integer isqrt grid: wᵢ = isqrtᵢ·10⁶ div Σ isqrtⱼ (integer sum
    * — no float summation-order hazard). The [[MixBudgetTokens]] budget
    * allocation rides along in the same grid. Scale: one token-count
    * pass + a \|sources\|-row planner, the qMixEpochs envelope.
    */
  def qMixTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.t(spark, sfDir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
      .withColumn("s0",
        expr("cast(floor(sqrt(cast(tokens as double))) as bigint)"))
      .withColumn("isqrt", expr("""CASE
        |WHEN s0 * s0 > tokens THEN s0 - 1
        |WHEN (s0 + 1) * (s0 + 1) <= tokens THEN s0 + 1
        |ELSE s0 END""".stripMargin))
    val tot = perSource.agg(sum("isqrt").as("tot"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"), col("isqrt"),
        expr("isqrt * 1000000 div tot").as("weight_ppm"),
        expr(s"isqrt * $MixBudgetTokens div tot").as("alloc_tokens"))
      .orderBy("source")
  }

  val qMixTemperatureSql: String =
    s"""WITH s AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |q AS (SELECT source, tokens,
      |    CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS s0
      |  FROM s),
      |i AS (SELECT source, tokens, CASE
      |    WHEN s0 * s0 > tokens THEN s0 - 1
      |    WHEN (s0 + 1) * (s0 + 1) <= tokens THEN s0 + 1
      |    ELSE s0 END AS isqrt FROM q),
      |t AS (SELECT CAST(sum(isqrt) AS BIGINT) AS tot FROM i)
      |SELECT source, tokens, isqrt,
      |  CAST(isqrt * 1000000 // tot AS BIGINT) AS weight_ppm,
      |  CAST(isqrt * $MixBudgetTokens // tot AS BIGINT) AS alloc_tokens
      |FROM i CROSS JOIN t ORDER BY source""".stripMargin
}
