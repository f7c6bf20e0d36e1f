package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Round-3 embedding/ML primitives over the `embeddings` table
  * (SURVEY.md §2.10h): SemDeDup-style cluster-then-pairwise semantic
  * dedup, one PCA power-iteration step, one k-means Lloyd step.
  *
  * Scale design shared by all three: the centroid/seed side is O(k)
  * rows (broadcast), the assignment pass is narrow (one scan, codegen'd
  * `ArrayDot` kernel, no shuffle), and the only shuffles are
  * aggregations on bounded key spaces (k clusters, d dims, k×d pairs) —
  * all partial-aggregable, so the plan is a map-side combine followed
  * by a tiny exchange regardless of corpus size.
  */
object PipelineML {

  private val Dim = 64

  /** Embeddings with the vector cast element-wise to double (DuckDB
    * computes over DOUBLE after CAST; float math would diverge). */
  private def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))

  /** Seed vectors: the first k = max(3, n div 256) vec_ids, so the
    * cluster COUNT grows with the corpus and the expected cluster SIZE
    * stays bounded (~256) — SemDeDup's own regime (k ∝ n). With fixed k
    * the within-cluster pair stage is quadratic in the corpus (round-7
    * verdict); with k ∝ n it is O(n·256) = linear. k is a scalar
    * subquery both engines compute identically (count div is exact
    * integer math, non-negative → Spark div ≡ DuckDB //); the seed
    * relation stays O(k) rows → always broadcast. */
  private def seeds(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val k = v.agg(greatest(lit(3L), expr("count(*) div 256")).as("k"))
    v.crossJoin(broadcast(k)).filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("seed_id"), col("v").as("c"))
  }

  /** Nearest-seed assignment by cosine: rank the k candidate rows per
    * vector (cos desc, seed asc tiebreak) and keep rank 1. The rank
    * window partitions on vec_id with exactly k rows per partition —
    * skew-free at any scale. */
  // private[graft]: PlanAuditSpec pins the broadcast assignment shape
  // here — the localCheckpoint in qSemdedup is a LogicalRDD wall that
  // hides the subtree from the main query's plan (minhashSig precedent).
  private[graft] def semdedupAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val byVec = Window.partitionBy("vec_id")
      .orderBy(desc("cos"), asc("seed_id"))
    vecs(spark, sfDir)
      .crossJoin(broadcast(seeds(spark, sfDir)))
      .withColumn("cos", VectorOps.cosine(col("v"), col("c")))
      .withColumn("rk", row_number().over(byVec))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("seed_id").as("cluster"))
  }

  // Cosines are ranked (argmax), so the oracle must compute them in
  // DOUBLE like the Spark side — float32 kernels could flip a ranking
  // that round(4) can no longer repair.
  private val assignSql: String =
    """ed AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |kk AS (SELECT greatest(3, count(*) // 256) AS k FROM embeddings),
      |vc AS (SELECT e.vec_id, e.v, s.vec_id AS seed_id,
      |    list_cosine_similarity(e.v, s.v) AS cos
      |  FROM ed e, ed s, kk WHERE s.vec_id < kk.k),
      |asg AS (SELECT vec_id, v, seed_id AS cluster
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, seed_id) AS rk FROM vc)
      |  WHERE rk = 1)""".stripMargin

  /** SemDeDup (Abbas et al. 2023 shape): cluster by nearest seed, then
    * rank pairwise cosine WITHIN each cluster only and emit the top-5
    * most-redundant pairs per cluster (drop side = higher vec_id). The
    * pairwise stage is quadratic only in the cluster, never the corpus:
    * k = max(3, n div 256) seeds (see [[seeds]]) keep the expected
    * cluster size at ~256, so total pairs ≈ k·256²/2 = O(n·128) —
    * linear in the corpus. The within-cluster join is an equi-join on
    * the cluster key; the assign stage is n·k broadcast cosines, the
    * accepted SemDeDup assignment cost (k-means assignment is the same
    * n·k), partitionable over n with no shuffle.
    */
  def qSemdedup(spark: SparkSession, sfDir: String): DataFrame = {
    // Both pair-join sides alias the assignment relation; without a
    // lineage cut Catalyst executes the whole assign DAG (corpus scan ×
    // k cosines + rank window) TWICE per run. Lazy checkpoint: the pair
    // join's own action materializes it once, both sides scan the cache.
    // Measured-neutral at sf0.1 (2k vectors — the stage is launch-bound
    // locally and the pair stage dominates), but at corpus scale
    // assign IS a full scan, and O(n)×(d+2) spills under MEMORY_AND_DISK
    // rather than re-scanning — the doc-vector-index trade.
    val asg =
      Tables.localCheckpoint(semdedupAssign(spark, sfDir), eager = false)
    val a = asg.select(col("cluster"), col("vec_id").as("keep_id"),
      col("v").as("va"))
    val b = asg.select(col("cluster"), col("vec_id").as("drop_id"),
      col("v").as("vb"))
    val byCluster = Window.partitionBy("cluster")
      .orderBy(desc("cos"), asc("keep_id"), asc("drop_id"))
    a.join(b, Seq("cluster"))
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos",
        round(VectorOps.cosine(col("va"), col("vb")), 4))
      .withColumn("rk", row_number().over(byCluster))
      .filter(col("rk") <= 5)
      .select(col("cluster"), col("rk").cast("long").as("rk"),
        col("keep_id"), col("drop_id"), col("cos"))
      .orderBy("cluster", "rk")
  }

  val qSemdedupSql: String =
    s"""WITH $assignSql,
      |pairs AS (SELECT a.cluster, a.vec_id AS keep_id,
      |    b.vec_id AS drop_id,
      |    round(list_cosine_similarity(a.v, b.v), 4) AS cos
      |  FROM asg a JOIN asg b ON a.cluster = b.cluster
      |    AND a.vec_id < b.vec_id)
      |SELECT cluster, CAST(rk AS BIGINT) AS rk, keep_id, drop_id, cos
      |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
      |    ORDER BY cos DESC, keep_id, drop_id) AS rk FROM pairs)
      |WHERE rk <= 5 ORDER BY cluster, rk""".stripMargin

  /** One PCA power-iteration step: w = Σᵢ (xᵢ·v₀) xᵢ with v₀ = 1/8
    * (the d=64 uniform unit vector), normalized to unit length. The
    * projection xᵢ·v₀ is a narrow per-row fold; the per-dim sum is a
    * 64-group partial aggregate (map-side combine → 64-row exchange);
    * the normalizer is a broadcast scalar. Nothing here grows with the
    * corpus except the one narrow scan.
    */
  def qPcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    val proj = vecs(spark, sfDir)
      .withColumn("y", expr("aggregate(v, 0D, (acc, x) -> acc + x) / 8"))
    val w = proj
      .select(col("y"), posexplode(col("v")).as(Seq("dim0", "x")))
      .groupBy((col("dim0") + 1).as("dim"))
      .agg(sum(col("y") * col("x")).as("w"))
    val nrm = w.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    w.crossJoin(broadcast(nrm))
      .select(col("dim").cast("long").as("dim"),
        round(col("w") / col("nrm"), 4).as("pc"))
      .orderBy("dim")
  }

  val qPcaPowerSql: String =
    s"""WITH x AS (SELECT vec_id, j AS dim,
      |    CAST(embedding[j] AS DOUBLE) AS xv
      |  FROM embeddings, generate_series(1, $Dim) t(j)),
      |y AS (SELECT vec_id, sum(xv) / 8 AS y FROM x GROUP BY vec_id),
      |d AS (SELECT dim, sum(y.y * x.xv) AS w
      |  FROM x JOIN y USING (vec_id) GROUP BY dim),
      |n AS (SELECT sqrt(sum(w * w)) AS nrm FROM d)
      |SELECT CAST(dim AS BIGINT) AS dim, round(w / nrm, 4) AS pc
      |FROM d, n ORDER BY dim""".stripMargin

  /** One k-means Lloyd step from the k = max(3, n div 256) deterministic
    * seeds (shared with [[qSemdedup]]):
    * nearest-seed assignment (cosine), then the new centroid mean per
    * (cluster, dim) — a k×d = 192-group partial aggregate — reporting
    * cluster sizes and the first 4 centroid coordinates. */
  def qKmeansIter(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = semdedupAssign(spark, sfDir)
      .select(col("cluster"), col("v"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        round(expr("avg(v[0])"), 4).as("c1"),
        round(expr("avg(v[1])"), 4).as("c2"),
        round(expr("avg(v[2])"), 4).as("c3"),
        round(expr("avg(v[3])"), 4).as("c4"))
    sizes.orderBy("cluster")
  }

  val qKmeansIterSql: String =
    s"""WITH $assignSql
      |SELECT cluster, count(*) AS n,
      |  round(avg(v[1]), 4) AS c1, round(avg(v[2]), 4) AS c2,
      |  round(avg(v[3]), 4) AS c3, round(avg(v[4]), 4) AS c4
      |FROM asg GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Late-interaction (ColBERT-shape) MaxSim retrieval: embeddings are
    * grouped into multi-vector "documents" (did = vec_id % 50, so each
    * doc holds a bag of token vectors); the 3-vector query scores a doc
    * as Σ_q max_t cos(q, t). Top-10 docs. Scale: the query side is O(|q|)
    * rows → broadcast; per-(doc, q) max and the per-doc sum are both
    * partial-aggregable on bounded key spaces (docs × 3). The quadratic
    * token×query stage is |corpus|·|q|, i.e. linear in the corpus.
    * Ranking key is round(4) (grid-aligned; the 3-term sum's association
    * order differs across engines) with did as tiebreak.
    */
  def qMaxsim(spark: SparkSession, sfDir: String): DataFrame = {
    // the 3-vector QUERY is fixed by the retrieval request — unlike the
    // [[seeds]] cluster count it must NOT grow with the corpus
    val query = vecs(spark, sfDir).filter(col("vec_id") < 3)
      .select(col("vec_id").as("seed_id"), col("v").as("c"))
    vecs(spark, sfDir)
      .withColumn("did", col("vec_id") % 50)
      .crossJoin(broadcast(query))
      .withColumn("cos", VectorOps.cosine(col("v"), col("c")))
      .groupBy("did", "seed_id")
      .agg(max("cos").as("mx"))
      .groupBy("did")
      .agg(round(sum("mx"), 4).as("maxsim"))
      .orderBy(desc("maxsim"), asc("did"))
      .limit(10)
  }

  val qMaxsimSql: String =
    s"""WITH ed AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS seed_id, v AS c FROM ed WHERE vec_id < 3),
      |mx AS (SELECT e.vec_id % 50 AS did, q.seed_id,
      |    max(list_cosine_similarity(e.v, q.c)) AS mx
      |  FROM ed e, q GROUP BY did, seed_id)
      |SELECT did, round(sum(mx), 4) AS maxsim
      |FROM mx GROUP BY did
      |ORDER BY maxsim DESC, did LIMIT 10""".stripMargin

  /** Johnson–Lindenstrauss random projection 64 → 8 dims with the sparse
    * Achlioptas matrix r(i,j) ∈ {−1, 0, +1} chosen by the deterministic
    * parity (7i + 13j) mod 6 (0 → +1, 1 → −1, else 0) — no RNG state to
    * ship, any engine reproduces the matrix from the formula. The matrix
    * is materialized as 8 LITERAL weight vectors fed to the codegen'd
    * `ArrayDot` kernel — same left-to-right IEEE fold the
    * `aggregate(sequence(...))` HOF formulation produced (the ×0.0 terms
    * add exactly +0.0 to a finite accumulator), but one tight loop per
    * output dim instead of 8 interpreted 64-step lambdas per row
    * (4.9 s → sub-second at sf0.1). No shuffle before the output sort.
    */
  def qRandProj(spark: SparkSession, sfDir: String): DataFrame = {
    val planes: Seq[org.apache.spark.sql.Column] = (1 to 8).map { j =>
      val w = Array.tabulate(Dim) { i0 =>
        val i = i0 + 1
        (i * 7 + j * 13) % 6 match {
          case 0 => 1.0; case 1 => -1.0; case _ => 0.0
        }
      }
      round(VectorOps.dot(col("v"), typedLit(w)), 4)
    }
    vecs(spark, sfDir)
      .withColumn("p", array(planes: _*))
      .select(col("vec_id"), posexplode(col("p")).as(Seq("d0", "val")))
      .select(col("vec_id"), (col("d0") + 1).cast("long").as("dim"),
        col("val"))
      .orderBy("vec_id", "dim")
  }

  val qRandProjSql: String =
    s"""WITH ed AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)
      |SELECT vec_id, CAST(j AS BIGINT) AS dim,
      |  round(list_sum(list_transform(generate_series(1, 64), i ->
      |    v[i] * (CASE (i * 7 + j * 13) % 6
      |              WHEN 0 THEN CAST(1.0 AS DOUBLE)
      |              WHEN 1 THEN CAST(-1.0 AS DOUBLE)
      |              ELSE CAST(0.0 AS DOUBLE) END))), 4) AS val
      |FROM ed, generate_series(1, 8) t(j)
      |ORDER BY vec_id, dim""".stripMargin

  /** Hashing-trick featurization (Weinberger et al. 2009): every token
    * hashes into one of 64 feature dims (the md5 1e6-grid helper mod
    * 64 — engine-portable, no vocabulary table to build or ship), and
    * each doc's sparse count vector is summarized as integer stats:
    * nnz, squared L2 norm, and the argmax dim (count desc, dim asc
    * tiebreak via min-struct — no arg_max, whose tie order is
    * engine-specific). All-integer outputs, so cross-engine exact. Two
    * partial-aggregable groupBys ((doc, dim) counts, then per-doc
    * stats) — map-side combine keeps the shuffle at nnz ≤ 64 rows per
    * doc regardless of doc length; no vocabulary-sized state anywhere,
    * which is the hashing trick's entire point at corpus scale.
    */
  def qFeatureHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tokens(spark, sfDir)
      .select(col("doc_id"),
        (graft.Tables.md5Bucket(col("term")) % 64L).as("dim"))
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nnz"),
        sum(col("cnt") * col("cnt")).as("sq_norm"),
        min(struct((-col("cnt")).as("nc"), col("dim"))).as("f"))
      .select(col("doc_id"), col("nnz"), col("sq_norm"),
        col("f.dim").as("top_dim"), (-col("f.nc")).as("top_cnt"))
      .orderBy("doc_id")

  val qFeatureHashSql: String =
    """WITH dt AS (SELECT doc_id,
      |    ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15))
      |      ::BIGINT % 64 AS dim
      |  FROM documents),
      |c AS (SELECT doc_id, dim, count(*) AS cnt FROM dt
      |  GROUP BY doc_id, dim),
      |s AS (SELECT doc_id, count(*) AS nnz,
      |    CAST(sum(cnt * cnt) AS BIGINT) AS sq_norm,
      |    min(struct_pack(nc := -cnt, dim := dim)) AS f
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, nnz, sq_norm, f.dim AS top_dim, -f.nc AS top_cnt
      |FROM s ORDER BY doc_id""".stripMargin

  /** kNN join: each of the 5 query vectors (vec_id < 5 — broadcast side)
    * joined to its 3 nearest corpus neighbors by cosine. The top-k is
    * two-phase so no window ever sees a corpus-sized partition: phase 1
    * ranks within (query, vec_id%32) slices — 32× the parallelism, each
    * slice's rank state is a 3-row heap — phase 2 ranks the ≤ 96
    * survivors per query. At 100 TB the phase-1 key space scales with
    * the corpus (swap %32 for spark_partition_id-sized slicing), phase 2
    * stays k·slices per query. The oracle is the single-window ranking —
    * the two-phase plan must be EXACTLY equal, which is the property
    * under test.
    */
  def qKnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val q = vecs(spark, sfDir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = vecs(spark, sfDir)
      .filter(col("vec_id") >= 5)
      .crossJoin(broadcast(q))
      .withColumn("cos", VectorOps.cosine(col("v"), col("qv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    val local = Window.partitionBy(col("query_id"), col("vec_id") % 32)
      .orderBy(desc("cos"), asc("vec_id"))
    val global = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("vec_id"))
    scored
      .withColumn("lrk", row_number().over(local))
      .filter(col("lrk") <= 3)
      .withColumn("rk", row_number().over(global))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rk")
  }

  val qKnnJoinSql: String =
    """WITH ed AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM ed WHERE vec_id < 5),
      |scored AS (SELECT q.query_id, e.vec_id,
      |    list_cosine_similarity(e.v, q.qv) AS cos
      |  FROM ed e, q WHERE e.vec_id >= 5)
      |SELECT query_id, CAST(rk AS BIGINT) AS rk,
      |  vec_id AS neighbor_id, round(cos, 4) AS cos
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, vec_id) AS rk FROM scored)
      |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  // ─────────── classifier-quality eval: ROC-AUC (round 6, late) ───────────

  /** ROC-AUC of a one-vs-rest embedding classifier — the eval a curation
    * pipeline runs on its quality scorer before trusting it to filter
    * 100 TB. Scorer: cosine to the label-1 centroid (the [[qKmeansIter]]
    * assignment kernel reused as a nearest-class-mean classifier);
    * ground truth: label == 1. AUC via the rank-sum (Mann-Whitney)
    * identity with EXACT tie handling: scores are rounded to 4 decimals,
    * tied scores share their average rank, and the whole statistic is
    * kept in integers — per distinct score s: g = |group|, pg =
    * positives, below = Σ g of lower scores; then 2·Σ_pos avgrank =
    * Σ pg·(2·below + g + 1) and AUC = (S2 − P(P+1)) / (2PN) with ONE
    * final double division landing on round(4) (the q_eval_map
    * rational-arithmetic precedent). Scale: the centroid is a 64-row
    * broadcast (partial-aggregable posexplode avg); scoring is one
    * narrow codegen'd pass; the rank window runs over DISTINCT ROUNDED
    * scores — a ≤20k-row bounded domain at any corpus size, never a
    * corpus-sized single-partition sort.
    */
  /** (label, score): every vector scored by round(4) cosine to the
    * label-1 class centroid — the one-vs-rest nearest-class-mean
    * classifier [[qEvalAuc]] evaluates and [[qEvalCalibration]] bins.
    * The centroid is a 64-row broadcast (partial-aggregable posexplode
    * avg, per-position round(4) — the q_sim_centroids determinism
    * precedent); scoring is one narrow codegen'd pass. */
  private[queries] def centScored(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cent = emb.filter(col("label") === 1)
      .select(posexplode(col("v")))
      .groupBy("pos").agg(round(avg("col"), 4).as("c"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(transform(col("pc"), x => x.getField("c")).as("cv"))
    emb.crossJoin(broadcast(cent))
      .select(col("label"),
        round(VectorOps.cosine(col("v"), col("cv")), 4).as("score"))
  }

  /** DuckDB mirror of [[centScored]] — CTE prologue ending in
    * `scored(label, score)`. */
  private[queries] val centScoredCte: String =
    """ed AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |cent AS (SELECT i AS pos, round(avg(v[i]), 4) AS c
      |  FROM ed, unnest(generate_series(1, len(v))) AS t(i)
      |  WHERE label = 1 GROUP BY i),
      |cv AS (SELECT list(c ORDER BY pos) AS cv FROM cent),
      |scored AS (SELECT label,
      |    round(list_cosine_similarity(e.v, cv.cv), 4) AS score
      |  FROM ed e CROSS JOIN cv)""".stripMargin

  def qEvalAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = centScored(spark, sfDir)
    val grp = scored.groupBy("score")
      .agg(count(lit(1)).as("g"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("pg"))
    val below = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    grp.withColumn("below", coalesce(sum("g").over(below), lit(0L)))
      .agg(sum("pg").as("p"), (sum("g") - sum("pg")).as("n"),
        sum(col("pg") * (lit(2L) * col("below") + col("g") + 1L)).as("s2"))
      .select(col("p").as("n_pos"), col("n").as("n_neg"),
        round((col("s2") - col("p") * (col("p") + 1L)) /
          (lit(2.0) * col("p") * col("n")), 4).as("auc"))
  }

  val qEvalAucSql: String =
    s"""WITH $centScoredCte,
      |grp AS (SELECT score, count(*) AS g,
      |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pg
      |  FROM scored GROUP BY score),
      |rk AS (SELECT *, coalesce(sum(g) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM grp)
      |SELECT CAST(sum(pg) AS BIGINT) AS n_pos,
      |  CAST(sum(g) - sum(pg) AS BIGINT) AS n_neg,
      |  round((sum(pg * (2 * below + g + 1)) - sum(pg) * (sum(pg) + 1)) /
      |    (2.0 * sum(pg) * (sum(g) - sum(pg))), 4) AS auc
      |FROM rk ORDER BY auc""".stripMargin

  // ───────── int8 scalar quantization + reconstruction audit ─────────

  /** Int8 scalar quantization of the embedding table — the compression
    * step an ANN index applies before [[qSimPq]]-style search — with the
    * reconstruction-error audit that decides whether 4× smaller vectors
    * are safe: per-dimension [min, max] ranges (the affine SQ8 codebook),
    * codes = floor((v−mn)/(mx−mn)·255 + 0.5) (explicit HALF_UP — the
    * q_mm_resize lesson: printf/round half-even diverges on dyadic
    * ties), reconstruction v̂ = mn + code·(mx−mn)/255, and per-label
    * n_vecs / MSE (×10⁶) / max-abs-error (×10³). Determinism: mn/mx are
    * exact order-independent doubles, the code is exact integer floor
    * arithmetic on identically-computed doubles, max-abs is order-
    * independent, and the one accumulation-ordered value (avg of squared
    * errors) follows the q_sim_centroids round(4) precedent. Scale: one
    * posexplode pass, a 64-key partial-aggregable stats shuffle
    * broadcast back, and a 10-key label rollup — no corpus-sized state.
    */
  def qEmbedQuant(spark: SparkSession, sfDir: String): DataFrame = {
    val pe = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(transform(col("embedding"), x => x.cast("double"))))
      .select(col("vec_id"), col("label"), col("pos"), col("col").as("x"))
    val stats = pe.groupBy("pos")
      .agg(min("x").as("mn"), max("x").as("mx"))
    pe.join(broadcast(stats), "pos")
      .withColumn("code", when(col("mx") === col("mn"), lit(0L))
        .otherwise(floor((col("x") - col("mn")) / (col("mx") - col("mn"))
          * 255.0 + 0.5).cast("long")))
      .withColumn("vhat",
        col("mn") + col("code") * (col("mx") - col("mn")) / 255.0)
      .groupBy("label")
      // n_vecs via the pos-0 marker (each vector has exactly one) — a
      // count-distinct would force an extra (label, vec_id) shuffle level
      .agg(sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_vecs"),
        count(lit(1)).as("n_vals"),
        round(avg((col("x") - col("vhat")) * (col("x") - col("vhat")))
          * 1e6, 4).as("mse_e6"),
        round(max(abs(col("x") - col("vhat"))) * 1e3, 4).as("maxerr_e3"))
      .orderBy("label")
  }

  val qEmbedQuantSql: String =
    """WITH pe AS (SELECT vec_id, label, i AS pos,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS t(i)),
      |st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM pe GROUP BY pos),
      |qt AS (SELECT vec_id, label, x, pos, mn, mx,
      |    CASE WHEN mx = mn THEN 0
      |      ELSE CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT)
      |    END AS code
      |  FROM pe JOIN st USING (pos)),
      |re AS (SELECT vec_id, label, x, pos,
      |    mn + code * (mx - mn) / 255.0 AS vhat FROM qt)
      |SELECT label,
      |  CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_vecs,
      |  count(*) AS n_vals,
      |  round(avg((x - vhat) * (x - vhat)) * 1e6, 4) AS mse_e6,
      |  round(max(abs(x - vhat)) * 1e3, 4) AS maxerr_e3
      |FROM re GROUP BY label ORDER BY label""".stripMargin

  // ───────── classifier calibration: 10-bin reliability / ECE ─────────

  /** Reliability diagram + expected calibration error of the
    * [[centScored]] one-vs-rest classifier — the audit that decides
    * whether a quality scorer's CONFIDENCE can gate documents (an AUC of
    * 0.9 says nothing about whether "score 0.8" means 80%). Scores
    * (cosine ∈ [−1, 1]) map to 10 equal-width bins via exact integer
    * arithmetic on the round(4) grid: e4 = round(score·10⁴) is an exact
    * int, bin = least((e4 + 10⁴)·10 div (2·10⁴), 9). Per bin: n, mean
    * confidence as (score+1)/2, positive rate — both kept rational
    * (integer sums, one division) — and the |conf − acc| gap; the ECE
    * column is the n-weighted gap sum over the ≤10 bins (a broadcast
    * window over a bounded domain). Scale: one narrow scoring pass, one
    * 10-key partial-aggregable shuffle.
    */
  def qEvalCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = centScored(spark, sfDir)
      .withColumn("e4", round(col("score") * 10000).cast("long"))
      .withColumn("bin",
        least(expr("(e4 + 10000) * 10 div 20000"), lit(9L)))
    val bins = binned.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum("e4").as("se4"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("pos"))
      .withColumn("conf",
        round((col("se4") / (col("n") * 10000.0) + 1.0) / 2.0, 4))
      .withColumn("acc", round(col("pos") / col("n").cast("double"), 4))
      .withColumn("gap", round(abs(
        (col("se4") / (col("n") * 10000.0) + 1.0) / 2.0 -
          col("pos") / col("n").cast("double")), 4))
    val all = Window.partitionBy()
    bins
      .withColumn("ece", round(
        sum(col("n") * abs(
          (col("se4") / (col("n") * 10000.0) + 1.0) / 2.0 -
            col("pos") / col("n").cast("double"))).over(all) /
          sum("n").over(all), 4))
      .select("bin", "n", "conf", "acc", "gap", "ece")
      .orderBy("bin")
  }

  val qEvalCalibrationSql: String =
    s"""WITH $centScoredCte,
      |b AS (SELECT label, CAST(round(score * 10000) AS BIGINT) AS e4
      |  FROM scored),
      |bn AS (SELECT least((e4 + 10000) * 10 // 20000, 9) AS bin,
      |    count(*) AS n, sum(e4) AS se4,
      |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos
      |  FROM b GROUP BY 1)
      |SELECT bin, n,
      |  round((se4 / (n * 10000.0) + 1.0) / 2.0, 4) AS conf,
      |  round(pos / CAST(n AS DOUBLE), 4) AS acc,
      |  round(abs((se4 / (n * 10000.0) + 1.0) / 2.0
      |    - pos / CAST(n AS DOUBLE)), 4) AS gap,
      |  round(sum(n * abs((se4 / (n * 10000.0) + 1.0) / 2.0
      |      - pos / CAST(n AS DOUBLE))) OVER ()
      |    / sum(n) OVER (), 4) AS ece
      |FROM bn ORDER BY bin""".stripMargin

  // ───────── clustering-quality eval: purity vs labels ─────────

  /** Per-cluster label purity of the [[qKmeansIter]] nearest-seed
    * assignment against the embedding labels — the external-validity
    * check a pipeline runs before trusting cluster ids for
    * [[qSemdedup]]-style semantic dedup or stratified sampling. Majority
    * label per cluster with the min-label tiebreak (engine-portable:
    * counts are exact ints); purity = top_n/n is one exact-rational
    * division onto round(4). Scale: the assignment pass is the shared
    * broadcast-k shape; the (cluster, label) aggregate is a bounded
    * k×|labels| key space — partial-aggregable, tiny exchange.
    */
  def qClusterPurity(spark: SparkSession, sfDir: String): DataFrame = {
    val lbl = Tables.t(spark, sfDir, "embeddings").select("vec_id", "label")
    val cl = semdedupAssign(spark, sfDir).select("vec_id", "cluster")
      .join(lbl, "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("nl"))
    val byCl = Window.partitionBy("cluster")
      .orderBy(desc("nl"), asc("label"))
    cl.withColumn("rk", row_number().over(byCl))
      .withColumn("n", sum("nl").over(Window.partitionBy("cluster")))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("n").as("n_vecs"),
        col("label").cast("long").as("top_label"), col("nl").as("top_n"),
        round(col("nl") / col("n").cast("double"), 4).as("purity"))
      .orderBy("cluster")
  }

  // ───────── threshold classification metrics: P/R/F1 ─────────

  /** Precision / recall / F1 of the [[centScored]] classifier at the
    * natural τ = 0 cosine threshold — the operating-point metrics next
    * to [[qEvalAuc]]'s threshold-free ranking view and
    * [[qEvalCalibration]]'s confidence audit (a filter pipeline commits
    * to ONE threshold; these are the numbers that threshold ships with).
    * The 2×2 confusion counts are exact integer sums in one
    * partial-aggregable pass; precision/recall/F1 are exact rationals
    * (F1 via 2TP/(2TP+FP+FN) — no intermediate rounding) with one
    * division each onto round(4). Scale: a pure map stage + global sum.
    */
  def qEvalF1(spark: SparkSession, sfDir: String): DataFrame =
    centScored(spark, sfDir)
      .select((col("score") >= 0).cast("long").as("p"),
        (col("label") === 1).cast("long").as("y"))
      .agg(sum(col("p") * col("y")).as("tp"),
        sum(col("p") * (lit(1L) - col("y"))).as("fp"),
        sum((lit(1L) - col("p")) * col("y")).as("fn"),
        sum((lit(1L) - col("p")) * (lit(1L) - col("y"))).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp") / (col("tp") + col("fp")).cast("double"), 4)
          .as("precision"),
        round(col("tp") / (col("tp") + col("fn")).cast("double"), 4)
          .as("recall"),
        round(lit(2L) * col("tp") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 4)
          .as("f1"))

  val qEvalF1Sql: String =
    s"""WITH $centScoredCte,
      |c AS (SELECT CASE WHEN score >= 0 THEN 1 ELSE 0 END AS p,
      |    CASE WHEN label = 1 THEN 1 ELSE 0 END AS y FROM scored),
      |m AS (SELECT CAST(sum(p * y) AS BIGINT) AS tp,
      |    CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
      |    CAST(sum((1 - p) * y) AS BIGINT) AS fn,
      |    CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn
      |  FROM c)
      |SELECT tp, fp, fn, tn,
      |  round(tp / CAST(tp + fp AS DOUBLE), 4) AS precision,
      |  round(tp / CAST(tp + fn AS DOUBLE), 4) AS recall,
      |  round(2 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 4) AS f1
      |FROM m ORDER BY f1""".stripMargin

  val qClusterPuritySql: String =
    s"""WITH $assignSql,
      |cl AS (SELECT a.cluster, e.label, count(*) AS nl
      |  FROM asg a JOIN embeddings e USING (vec_id)
      |  GROUP BY a.cluster, e.label),
      |r AS (SELECT cluster, label, nl,
      |    row_number() OVER (PARTITION BY cluster
      |      ORDER BY nl DESC, label) AS rk,
      |    sum(nl) OVER (PARTITION BY cluster) AS n
      |  FROM cl)
      |SELECT cluster, CAST(n AS BIGINT) AS n_vecs,
      |  CAST(label AS BIGINT) AS top_label, nl AS top_n,
      |  round(nl / CAST(n AS DOUBLE), 4) AS purity
      |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin

  // ───────── per-dimension embedding variance (round 7, wave 6) ─────────

  /** Per-dimension mean/variance profile of the embedding space — the
    * PCA-prep and dead-dimension audit (a near-zero-variance dimension
    * carries no signal and wastes index bits). posexplode keeps the
    * 1-based dim id; FLOAT widens to DOUBLE before the moments (rule
    * C); var_samp is the q_corr_stats single-pass mergeable co-moment
    * precedent at round(4). Output: 64 rows regardless of corpus size.
    */
  def qEmbedDimVar(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("p", "v")))
      .select((col("p") + 1).cast("long").as("dim"),
        col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(round(avg("v"), 4).as("mean"),
        round(expr("var_samp(v)"), 4).as("variance"))
      .orderBy("dim")

  val qEmbedDimVarSql: String =
    """SELECT CAST(i AS BIGINT) AS dim,
      |  round(avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)), 4)
      |    AS mean,
      |  round(var_samp(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)), 4)
      |    AS variance
      |FROM embeddings, unnest(generate_series(1, 64)) t(i)
      |GROUP BY i ORDER BY dim""".stripMargin

  // ───────────────── 1-bit binary embeddings + Hamming pairs ─────────────────

  /** Binary (1-bit) embedding compression + Hamming near-dup pairs: the
    * 64 coordinate signs pack into ONE BIGINT word (64× smaller than
    * float32 — the storage tier under q_embed_quant's int8), and the
    * top-20 most-similar pairs by Hamming distance come from a low-byte
    * bucket EQUI-join (the coordinate-sign LSH: pairs agreeing on the
    * low 8 sign bits), re-scored with the codegen'd bit_count(xor) —
    * never all-pairs. The packed word, the bucket, and the distance are
    * all exact integers on both engines (two's-complement &, ^,
    * bit_count agree bit-for-bit).
    */
  def qBinaryEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    // native codegen'd sign-packing kernel (graft.functions.PackSignBits)
    // — same answer as the 64-step aggregate(sequence(...)) HOF the
    // oracle keeps (distinct bits: the sum IS the bitwise OR), one tight
    // loop per row instead of 64 interpreted lambda steps
    val packed = vecs(spark, sfDir)
      .withColumn("h", graft.functions.PackSignBits.of(col("v")))
      .withColumn("bucket", expr("h & CAST(255 AS BIGINT)"))
      .select("vec_id", "h", "bucket")
    val a = packed.select(col("vec_id").as("v1"), col("h").as("h1"),
      col("bucket"))
    val b = packed.select(col("vec_id").as("v2"), col("h").as("h2"),
      col("bucket"))
    a.join(b, Seq("bucket")).filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        expr("CAST(bit_count(h1 ^ h2) AS BIGINT)").as("hamming"))
      .orderBy(asc("hamming"), asc("v1"), asc("v2"))
      .limit(20)
  }

  val qBinaryEmbedSql: String =
    """WITH ed AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |packed AS (SELECT vec_id,
      |    CAST(list_sum(list_transform(generate_series(0, 63),
      |      -- bit set ⟺ v[i] exists, is a number, and is ≥ 0: the NULL
      |      -- (dim < 64) and NaN guards pin the kernel's semantics
      |      -- (PackSignBits leaves both unset) instead of relying on the
      |      -- fixed-64-dim non-null data contract
      |      i -> CASE WHEN v[i + 1] IS NULL OR isnan(v[i + 1])
      |                  OR v[i + 1] < 0 THEN 0
      |           WHEN i = 63 THEN -9223372036854775808
      |           ELSE 1::BIGINT << i END)) AS BIGINT) AS h
      |  FROM ed),
      |bk AS (SELECT vec_id, h, h & 255 AS bucket FROM packed)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |ORDER BY hamming, v1, v2 LIMIT 20""".stripMargin

  // ───────────────── embedding drift between corpus halves ─────────────────

  /** Embedding drift audit: per label, the squared L2 distance between
    * the round(4) centroids of the two vec_id-parity halves of the
    * corpus — the embedding-space twin of q_drift_psi's scalar check (a
    * re-embedded or shifted batch shows up as centroid movement long
    * before downstream metrics do). Centroid components land on the e4
    * grid first (the q_sim_ivf argmax-stability precedent), so the
    * 64-term squared sum is an exact e8 integer — order-free on both
    * engines. Bounded key space: |labels| × 64 dims.
    */
  def qEmbedDrift(spark: SparkSession, sfDir: String): DataFrame =
    vecs(spark, sfDir)
      .join(Tables.t(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label")),
        "vec_id")
      .select(col("label"), (col("vec_id") % 2 === 0).as("even"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(col("even").cast("long")).as("n_a"),
        sum((!col("even")).cast("long")).as("n_b"),
        expr("CAST(round(avg(CASE WHEN even THEN x END) * 10000) AS BIGINT)")
          .as("a4"),
        expr("CAST(round(avg(CASE WHEN NOT even THEN x END) * 10000) AS BIGINT)")
          .as("b4"))
      .groupBy("label")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum((col("a4") - col("b4")) * (col("a4") - col("b4")))
          .as("drift_e8"))
      .orderBy("label")

  val qEmbedDriftSql: String =
    """WITH ed AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    vec_id % 2 = 0 AS even,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |px AS (SELECT label, even, i AS pos, v[i + 1] AS x
      |  FROM ed, unnest(generate_series(0, len(v) - 1)) AS t(i)),
      |c AS (SELECT label, pos,
      |    sum(CASE WHEN even THEN 1 ELSE 0 END) AS n_a,
      |    sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS n_b,
      |    CAST(round(avg(CASE WHEN even THEN x END) * 10000) AS BIGINT)
      |      AS a4,
      |    CAST(round(avg(CASE WHEN NOT even THEN x END) * 10000)
      |      AS BIGINT) AS b4
      |  FROM px GROUP BY label, pos)
      |SELECT label, CAST(max(n_a) AS BIGINT) AS n_a,
      |  CAST(max(n_b) AS BIGINT) AS n_b,
      |  CAST(sum((a4 - b4) * (a4 - b4)) AS BIGINT) AS drift_e8
      |FROM c GROUP BY label ORDER BY label""".stripMargin

  // ───────────── Matryoshka truncation-quality audit ─────────────

  /** Matryoshka-style truncated-dimension retrieval audit: for the 5
    * probe queries, the top-10 by cosine over the FIRST d dims
    * (d ∈ {16, 32, 64}) is compared against the full-64-dim top-10 —
    * the measurement that tells an ANN store how many prefix dims it
    * can serve (MRL embeddings degrade gracefully; random ones don't —
    * this op is the check). The query side broadcasts (q_ann_recall
    * shape); per-(query, d) rankings are round(4)-grid-aligned with
    * cid tiebreaks; output is the bounded 5×3 grid.
    */
  def qEmbedMrl(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val dims = spark.range(0, 1)
      .select(explode(typedLit(Seq(16, 32, 64))).as("d"))
    val scored = c.crossJoin(broadcast(q)).crossJoin(broadcast(dims))
      .withColumn("cos", round(VectorOps.cosine(
        slice(col("cv"), lit(1), col("d")),
        slice(col("qv"), lit(1), col("d"))), 4))
    val w = Window.partitionBy("qid", "d").orderBy(desc("cos"), asc("cid"))
    val top = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select("qid", "d", "cid")
    // localCheckpoint cuts the self-join lineage: both the full-dim
    // reference set and the per-d lists derive from the same `top`
    // relation, and Spark's attribute dedup otherwise mis-resolves the
    // equi-keys (0-row semi-join observed at sf0.001)
    val topM = Tables.localCheckpoint(top, eager = false)
    val full = topM.filter(col("d") === 64).select("qid", "cid")
    topM.join(full, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid"), col("d").cast("long").as("d"))
      .agg(count(lit(1)).as("n_hit"))
      .orderBy("qid", "d")
  }

  val qEmbedMrlSql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id >= 5),
      |dims AS (SELECT unnest([16, 32, 64]) AS d),
      |sc AS (SELECT qid, cid, d,
      |    round(CAST(list_cosine_similarity(cv[1:d], qv[1:d])
      |      AS DOUBLE), 4) AS cos
      |  FROM c, q, dims),
      |top AS (SELECT qid, d, cid FROM (SELECT qid, d, cid,
      |    row_number() OVER (PARTITION BY qid, d
      |      ORDER BY cos DESC, cid) AS rn FROM sc) WHERE rn <= 10),
      |f AS (SELECT qid, cid FROM top WHERE d = 64)
      |SELECT t.qid AS qid, CAST(t.d AS BIGINT) AS d, count(*) AS n_hit
      |FROM top t JOIN f ON t.qid = f.qid AND t.cid = f.cid
      |GROUP BY t.qid, t.d ORDER BY t.qid, d""".stripMargin

  // ───────── 3-step exact-integer Lloyd iterations (round 10) ─────────

  /** THREE full k-means Lloyd iterations, every number EXACT — the
    * multi-step graduation of [[qKmeansIter]]'s single step. Floats
    * can't survive three rounds of avg→distance→argmin across two
    * engines, so the whole loop runs on an integer grid: vectors
    * quantize once to micro-units (q = round(10⁶·x), the proven
    * [[PipelineTrain.qLogregGd]] grid), distances are exact BIGINT
    * squared-L2 sums (≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴ — no overflow), argmin
    * ties break cluster-asc via struct-min, and the centroid UPDATE is
    * Σq div n (truncating integer division — Spark `div` ≡ DuckDB `//`
    * on any sign, verified) instead of a float mean. Result: after 3
    * assign+update rounds both engines hold bit-identical centroids.
    * Seeds/k follow [[seeds]] (k = max(3, n div 256), k ∝ n). Scale:
    * per round, assignment is one narrow broadcast-fanout scan (k·d
    * integers broadcast) + a vec_id-keyed partial-aggregable argmin;
    * the update is a (k×d)-group partial aggregate — the same envelope
    * as one Lloyd step, ×3, with a lazy checkpoint cutting lineage
    * between rounds.
    */
  def qKmeansSteps(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.t(spark, sfDir, "embeddings")
    // quantized matrix has FOUR consumers (seed slice + one cross-join
    // per probe round) — eager checkpoint, one scan+transform not four
    val q = Tables.localCheckpoint(emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
        .as("qv")))
    val k = emb.count() / 256 max 3
    val c0 = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("qv").as("cv"))
    // codegen'd native kernel, not the HOF formulation: exact integer
    // arithmetic means the two are value-IDENTICAL (no summation-order
    // caveat), but the interpreted lambda measured 35× slower at the
    // n·k assignment fan-out of the 10× probe
    val distExpr =
      graft.functions.ArraySqDistLong.col(col("qv"), col("cv"))
    def assign(cents: DataFrame): DataFrame =
      q.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          struct(distExpr.as("dist"), col("cluster").as("cluster"),
            col("qv").as("qv")).as("dc"))
        .groupBy("vec_id")
        .agg(min(col("dc")).as("b"))
        .select(col("vec_id"), col("b.cluster").as("cluster"),
          col("b.qv").as("qv"))
    def update(assigned: DataFrame): DataFrame =
      Tables.localCheckpoint(assigned
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(expr("sum(x) div count(1)").as("c"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("cv")), eager = false)
    val c1 = update(assign(c0))
    val c2 = update(assign(c1))
    // the third assignment feeds TWO branches (cluster sizes + the
    // final centroid update): un-checkpointed, the final action's two
    // consumer stages each re-ran the n·k cross-join fan-out — the
    // query's single most expensive stage (round 13; guide §2.4). Eager
    // so concurrent stages cannot race a lazy copy.
    val a3 = Tables.localCheckpoint(assign(c2))
    val sizes = a3.groupBy("cluster").agg(count(lit(1)).as("n"))
    val c3 = update(a3)
    sizes.join(c3, "cluster")
      .select(col("cluster"), col("n"),
        element_at(col("cv"), 1).as("c1"), element_at(col("cv"), 2).as("c2"),
        element_at(col("cv"), 3).as("c3"), element_at(col("cv"), 4).as("c4"))
      .orderBy("cluster")
  }

  val qKmeansStepsSql: String = {
    // one unrolled assign+update round: aK = argmin vs c{K-1}, cK = the
    // truncating integer mean of aK's members — same integers as Spark
    def round_(prevC: String, k: Int): String =
      s"""d$k AS (SELECT x.vec_id, c.cluster,
        |    sum((x.q - c.c) * (x.q - c.c)) AS dist
        |  FROM x JOIN $prevC c USING (dim) GROUP BY x.vec_id, c.cluster),
        |a$k AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, cluster) AS rk FROM d$k) WHERE rk = 1),
        |c$k AS (SELECT a.cluster, x.dim, sum(x.q) // count(*) AS c
        |  FROM a$k a JOIN x USING (vec_id) GROUP BY a.cluster, x.dim)"""
        .stripMargin
    s"""WITH x AS (SELECT vec_id, i AS dim,
      |    CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
      |      * 1000000) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, $Dim)) t(i)),
      |kk AS (SELECT greatest(3, count(*) // 256) AS k FROM embeddings),
      |c0 AS (SELECT vec_id AS cluster, dim, q AS c FROM x, kk
      |  WHERE vec_id < kk.k),
      |${round_("c0", 1)},
      |${round_("c1", 2)},
      |${round_("c2", 3)},
      |sz AS (SELECT cluster, count(*) AS n FROM a3 GROUP BY cluster)
      |SELECT sz.cluster, sz.n,
      |  CAST(max(CASE WHEN dim = 1 THEN c END) AS BIGINT) AS c1,
      |  CAST(max(CASE WHEN dim = 2 THEN c END) AS BIGINT) AS c2,
      |  CAST(max(CASE WHEN dim = 3 THEN c END) AS BIGINT) AS c3,
      |  CAST(max(CASE WHEN dim = 4 THEN c END) AS BIGINT) AS c4
      |FROM sz JOIN c3 USING (cluster)
      |GROUP BY sz.cluster, sz.n ORDER BY cluster""".stripMargin
  }

  // ───── label-centroid evals (round 11): silhouette + confusion ─────

  /** (vec_id, label, qv) on the micro-integer grid — the qKmeansSteps
    * quantization, with the ground-truth label carried along. */
  private def labelQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
          .as("qv"))

  /** Per-label centroid arrays on the integer grid (truncating integer
    * mean per dim, the qKmeansSteps update): \|labels\| rows, always
    * broadcast. Deterministic assembly via array_sort on (pos, c). */
  private def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    labelQ(spark, sfDir)
      .select(col("label").as("clabel"),
        posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("clabel", "pos")
      .agg(expr("sum(x) div count(1)").as("c"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))

  /** (vec_id, label, clabel, d2): every vector's exact-integer squared
    * L2 distance to every label centroid — a broadcast fan-out of
    * \|labels\| rows per vector through the codegen'd ArraySqDistLong
    * kernel, no shuffle until the consumer aggregates. */
  private def labelDists(spark: SparkSession, sfDir: String): DataFrame =
    labelQ(spark, sfDir)
      .crossJoin(broadcast(labelCentroids(spark, sfDir)))
      .select(col("vec_id"), col("label"), col("clabel"),
        graft.functions.ArraySqDistLong.col(col("qv"), col("cv")).as("d2"))

  /** Simplified silhouette of the LABEL clustering (squared-distance
    * variant, documented): per vector a² = d²(own centroid), b² =
    * min d²(other centroids), s = (b²−a²)/max(a²,b²) in exact integer
    * ppm — the label-separation audit a curation pipeline runs before
    * trusting `label` as a training signal. Reported per label: n, the
    * exact ppm SUM of s (no division → no truncation debate), and how
    * many vectors sit closer to their own centroid than to any other
    * (n_separated = s > 0). Exactness: micro-grid integers end to end;
    * the one ratio is (b²−a²)·10⁶ div max — DECIMAL(38,0) numerator
    * headroom (d² ≤ 4·10¹² on unit-norm data but ~10¹⁴ worst-case ×10⁶
    * clears BIGINT), and Spark `div` ≡ DuckDB `//` (both truncate
    * toward zero, verified on negatives). Scale: one broadcast fan-out
    * pass + a \|labels\|-row aggregate — no shuffle of the corpus
    * beyond the per-vector min.
    */
  def qClusterSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE pass over the broadcast fan-out (round 12): the own/other
    // split previously consumed labelDists twice (two full
    // quantize+distance passes) and re-joined on vec_id — a² and b²
    // are just conditional mins of the SAME per-(vector, centroid)
    // relation, so one aggregation computes both (a² is the single
    // own-centroid row, so min ≡ first; b² the min over the rest).
    val d = labelDists(spark, sfDir)
    d.groupBy("vec_id", "label")
      .agg(min(when(col("label") === col("clabel"), col("d2"))).as("a2"),
        min(when(col("label") =!= col("clabel"), col("d2"))).as("b2"))
      .withColumn("s_ppm", expr("""CAST(CAST(b2 - a2 AS DECIMAL(38,0))
        | * 1000000 div greatest(greatest(a2, b2), 1) AS BIGINT)"""
        .stripMargin))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum("s_ppm").as("sum_s_ppm"),
        sum(when(col("s_ppm") > 0, 1L).otherwise(0L)).as("n_separated"))
      .orderBy("label")
  }

  val qClusterSilhouetteSql: String =
    s"""WITH x AS (SELECT vec_id, label, i AS dim,
      |    CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
      |      * 1000000) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, $Dim)) t(i)),
      |cent AS (SELECT label AS clabel, dim, sum(q) // count(*) AS c
      |  FROM x GROUP BY label, dim),
      |d AS (SELECT x.vec_id, x.label, cent.clabel,
      |    CAST(sum((x.q - cent.c) * (x.q - cent.c)) AS BIGINT) AS d2
      |  FROM x JOIN cent USING (dim)
      |  GROUP BY x.vec_id, x.label, cent.clabel),
      |ab AS (SELECT o.vec_id, o.label, o.d2 AS a2, m.b2
      |  FROM (SELECT vec_id, label, d2 FROM d WHERE label = clabel) o
      |  JOIN (SELECT vec_id, min(d2) AS b2 FROM d
      |        WHERE label <> clabel GROUP BY vec_id) m USING (vec_id)),
      |s AS (SELECT label,
      |    CAST((b2 - a2)::HUGEINT * 1000000
      |      // greatest(greatest(a2, b2), 1) AS BIGINT) AS s_ppm
      |  FROM ab)
      |SELECT label, count(*) AS n,
      |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
      |  CAST(sum(CASE WHEN s_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_separated
      |FROM s GROUP BY label ORDER BY label""".stripMargin

  /** Per-class precision / recall / F1 of the nearest-label-centroid
    * classifier (the qRocAuc scorer generalized to all classes;
    * complements q_eval_confusion, which tabulates the semdedup
    * cluster×label GRID — this row evaluates a CLASSIFIER against
    * ground truth): predicted label = argmin exact-integer d² with
    * smallest-label ties, then per true label the support, prediction
    * volume, true positives, and exact-ppm precision / recall / F1 (F1 via the
    * integer identity 2·tp·10⁶ div (n_pred + n_true) — algebraically
    * the harmonic mean, one truncating division). The eval a pipeline
    * runs on its cheap embedding classifier before letting it filter
    * at scale. Scale: the argmin is a per-vector min over a broadcast
    * \|labels\| fan-out; everything after is \|labels\|²-bounded.
    */
  def qEvalPrf(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = labelDists(spark, sfDir)
      .select(col("vec_id"), col("label"),
        struct(col("d2"), col("clabel")).as("dc"))
      .groupBy("vec_id", "label")
      .agg(min("dc").as("m"))
      .select(col("label"), col("m.clabel").as("pred"))
    val conf = pred.groupBy("label", "pred").agg(count(lit(1)).as("c"))
    val nTrue = conf.groupBy("label").agg(sum("c").as("n_true"))
    val nPred = conf.groupBy(col("pred").as("label"))
      .agg(sum("c").as("n_pred"))
    val tp = conf.filter(col("label") === col("pred"))
      .select(col("label"), col("c").as("tp"))
    nTrue
      .join(nPred, Seq("label"), "left")
      .join(tp, Seq("label"), "left")
      .select(col("label"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("prec_ppm",
        expr("tp * 1000000 div greatest(n_pred, 1)"))
      .withColumn("rec_ppm",
        expr("tp * 1000000 div greatest(n_true, 1)"))
      .withColumn("f1_ppm",
        expr("2 * tp * 1000000 div greatest(n_pred + n_true, 1)"))
      .orderBy("label")
  }

  val qEvalPrfSql: String =
    s"""WITH x AS (SELECT vec_id, label, i AS dim,
      |    CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
      |      * 1000000) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, $Dim)) t(i)),
      |cent AS (SELECT label AS clabel, dim, sum(q) // count(*) AS c
      |  FROM x GROUP BY label, dim),
      |d AS (SELECT x.vec_id, x.label, cent.clabel,
      |    sum((x.q - cent.c) * (x.q - cent.c)) AS d2
      |  FROM x JOIN cent USING (dim)
      |  GROUP BY x.vec_id, x.label, cent.clabel),
      |pred AS (SELECT label, clabel AS pred FROM (SELECT label, clabel,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel)
      |      AS rk FROM d) WHERE rk = 1),
      |conf AS (SELECT label, pred, count(*) AS c FROM pred
      |  GROUP BY label, pred),
      |nt AS (SELECT label, CAST(sum(c) AS BIGINT) AS n_true FROM conf
      |  GROUP BY label),
      |np AS (SELECT pred AS label, CAST(sum(c) AS BIGINT) AS n_pred
      |  FROM conf GROUP BY pred),
      |tp AS (SELECT label, CAST(c AS BIGINT) AS tp FROM conf
      |  WHERE label = pred)
      |SELECT nt.label, nt.n_true,
      |  coalesce(np.n_pred, 0) AS n_pred,
      |  coalesce(tp.tp, 0) AS tp,
      |  CAST(coalesce(tp.tp, 0) * 1000000
      |    // greatest(coalesce(np.n_pred, 0), 1) AS BIGINT) AS prec_ppm,
      |  CAST(coalesce(tp.tp, 0) * 1000000
      |    // greatest(nt.n_true, 1) AS BIGINT) AS rec_ppm,
      |  CAST(2 * coalesce(tp.tp, 0) * 1000000
      |    // greatest(coalesce(np.n_pred, 0) + nt.n_true, 1) AS BIGINT)
      |    AS f1_ppm
      |FROM nt LEFT JOIN np USING (label) LEFT JOIN tp USING (label)
      |ORDER BY label""".stripMargin
}
