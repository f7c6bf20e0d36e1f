package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Extended training-data-pipeline operators: sketch-based dedup
  * (MinHash+LSH, SimHash), embedding near-dup, IVF-style ANN, text
  * quality/token analysis, and document fingerprinting.
  *
  * Scale notes: every operator here is one or two hash-partitioned
  * shuffles over per-document sketches — never over raw text pairs. The
  * quadratic steps (candidate pairs) are confined to LSH buckets /
  * deterministic samples, which is exactly how these run at corpus scale.
  * This synthetic corpus has a ~31-term vocabulary, so buckets degenerate
  * to near-all-pairs locally; real corpora produce small buckets.
  */
object PipelinePlus {

  private val K = 8 // minhash signature length; 4 bands × 2 rows

  /** Distinct (doc_id, term) pairs of the deterministic doc_id%10
    * sample the §2.10 near-dup family shares. Read from the token
    * stream, NOT from the [[Tables.postings]] memo: the postings are
    * clustered and sorted on `term`, so a `doc_id` predicate prunes none
    * of their batches and every consumer would scan the whole index for
    * a 10% sample. Filtering the token stream FIRST keeps the distinct
    * shuffle at 10% of the corpus (round 12 measured the full-corpus
    * cache form +2 s on q_graph_pagerank). Deliberately NOT persisted
    * itself: an interleaved A/B (round 12) measured the memoized form
    * SLOWER for the heavy consumers (q_graph_pagerank 3.2–3.7 plain vs
    * 5.4–6.9 s memoized warm; q_minhash_err 0.4 vs 1.1) — the
    * string-heavy cache scan per consumer costs more than the pipelined
    * filter+distinct from the already-cached token stream, and the
    * expensive derived relations (minhashPairs, the sig tables) are
    * memoized one level up anyway. */
  private[queries] def sampleTerms(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tokens(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).select("doc_id", "term").distinct()

  // ───────────────────────── MinHash + LSH dedup ─────────────────────────

  /** MinHash (K=8, md5-keyed "permutations") + LSH banding (4 bands × 2):
    * docs sharing any band bucket become candidate pairs; the signature
    * match fraction estimates token-set Jaccard. Top-20 pairs by estimate.
    */
  /** (doc_id, sig: array of K minhashes) — ONE groupBy carrying K
    * min-aggregates, instead of crossJoin(range(K)) + groupBy(doc, k):
    * the crossJoin formulation replicates the term stream K× before the
    * shuffle, which at corpus scale is K× the shuffle bytes for the same
    * information. Each hash is the 60-bit md5 prefix as a BIGINT
    * ([[Tables.md5Bucket]]): md5 hex is fixed-length lowercase, so
    * numeric order of the prefix equals lexicographic order of the
    * digest and `min(prefix) = prefix(min)` — signatures, band buckets,
    * and match indicators agree with the per-row full-string formulation
    * up to 60-bit prefix collisions (two distinct digests sharing a
    * 15-hex-char prefix, ~2⁻⁶⁰ per comparison); BOTH engines use the
    * same prefix, so engine parity is exact, while the min-aggregates run as
    * codegen'd HashAggregate over longs (a string min forces
    * SortAggregate with a full sort per side).
    */
  private[graft] def minhashSig(spark: SparkSession, sfDir: String): DataFrame =
    sampleTerms(spark, sfDir)
      .groupBy("doc_id")
      .agg(array((0 until K).map { k =>
        min(Tables.md5Bucket(concat(col("term"), lit(":"), lit(k.toLong))))
      }: _*).as("sig"))

  // The candidate-pair stream feeds FIVE operators (minhash ranking,
  // duplicate clustering, edit-distance verify, pagerank, triangle
  // counting) — persist once per (session, sfDir) like Tables.tokens
  // instead of recomputing the signature+banding pipeline per query.
  private val pairsCache =
    graft.Tables.registerCache()

  /** All LSH-candidate pairs (d1 < d2) with their signature-match estimate
    * of token-set Jaccard — the un-truncated pair stream q_dedup_minhash
    * ranks and q_dedup_cluster clusters. */
  private[graft] def minhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.memo(pairsCache, spark, sfDir)(
      minhashPairsUncached(spark, sfDir).persist())
  }

  /** Mega-bucket guard (round 10): buckets larger than this are
    * deterministically SUB-SPLIT before pairing. The banding self-join
    * is quadratic PER BUCKET — on a boilerplate-heavy 100× corpus one
    * degenerate (band, bsig) bucket of B docs would mint B²/2 candidate
    * rows even though LSH theory promised small buckets. The guard caps
    * that by construction: a bucket of size B > cap splits into
    * ⌈B/cap⌉ sub-buckets keyed by a content hash of doc_id, so
    * Σ bucket² ≤ Σ ⌈B/cap⌉·(~cap)² ≈ (Σ B)·cap — LINEAR in the corpus
    * with the cap as the constant. Pairs straddling sub-buckets are
    * dropped (the standard LSH recall trade: an affected pair still has
    * 3 other bands to collide in). The cap sits above every measured
    * bucket at the tested SFs (max 319 at sf0.1 vs 1024), so locally it
    * is provably inactive — results and oracles unchanged — and the
    * split path is exercised by SkewJoinSpec's synthetic mega-bucket
    * corpus.
    */
  private[graft] val BucketCap = 1024L

  /** Candidate (d1 < d2) pairs from a banded relation (doc_id, band,
    * bsig), with the [[BucketCap]] sub-split applied. Factored out so
    * the spec can drive it with a synthetic skew corpus and a tiny cap. */
  private[graft] def bandedPairs(bands: DataFrame, cap: Long): DataFrame = {
    val sizes = bands.groupBy("band", "bsig").agg(count(lit(1)).as("bsz"))
    val salted = bands.join(sizes, Seq("band", "bsig"))
      .withColumn("salt",
        Tables.md5Bucket(concat(lit("sub:"), col("doc_id"))) %
          greatest(lit(1L), expr(s"(bsz + ${cap - 1}) div $cap")))
    salted.as("a")
      .join(salted.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  private[graft] def minhashPairsUncached(spark: SparkSession, sfDir: String): DataFrame = {
    // The signature table feeds THREE plan positions (both sides of the
    // band self-join and the pair re-join), and Catalyst does not reuse
    // the exchange across the aliased copies — without materialization
    // the scan→distinct→min-agg pipeline runs once per copy. Checkpoint
    // eagerly: sig is one row per sampled doc at ANY corpus size, so the
    // one-time materialization is the cheap side of the trade everywhere.
    val sig = Tables.localCheckpoint(minhashSig(spark, sfDir))
    // band signature = ordered concat of the band's minhashes, unpacked
    // from the signature array IN-ROW (no per-k shuffle)
    val bands = sig.select(col("doc_id"), explode(expr(
      s"""transform(sequence(0, ${K / 2 - 1}), b -> named_struct(
         |  'band', b,
         |  'bsig', concat(cast(sig[2*b] as string), '|',
         |                 cast(sig[2*b+1] as string))))""".stripMargin))
      .as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bsig").as("bsig"))
    val cand = bandedPairs(bands, BucketCap)
    // match fraction in-row over the two signature arrays: multiples of
    // 1/K, exact in binary, identical to the per-k row avg formulation
    cand
      .join(sig.toDF("d1", "s1"), Seq("d1"))
      .join(sig.toDF("d2", "s2"), Seq("d2"))
      .select(col("d1"), col("d2"),
        (size(filter(zip_with(col("s1"), col("s2"), (x, y) => x === y),
          b => b)).cast("double") / K).as("est_jaccard"))
  }

  def qDedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir)
      .select(col("d1"), col("d2"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy(desc("est_jaccard"), asc("d1"), asc("d2")).limit(20)

  /** Character-level verify stage of the dedup funnel: exact edit
    * distance over the 200 most-promising LSH candidates (ranked by
    * signature estimate — never all pairs, never unbounded). Bounding
    * by rank keeps the O(len²) levenshtein budget fixed no matter how
    * degenerate the banding buckets get (this corpus's ~31-term
    * vocabulary makes candidates near-quadratic at larger SFs). Top-20
    * closest pairs with normalized similarity 1 − lev/max(len).
    * Estimates are multiples of 1/8 → binary-exact, so the rank cut is
    * engine-stable with the (d1, d2) tie-break. */
  def qDedupEditdist(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = minhashPairs(spark, sfDir)
      .orderBy(desc("est_jaccard"), asc("d1"), asc("d2")).limit(200)
      .select("d1", "d2")
    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    cand
      .join(docs.toDF("d1", "t1"), "d1")
      .join(docs.toDF("d2", "t2"), "d2")
      .select(col("d1"), col("d2"),
        levenshtein(col("t1"), col("t2")).cast("long").as("lev"),
        round(lit(1.0) - levenshtein(col("t1"), col("t2")) /
          greatest(length(col("t1")), length(col("t2"))).cast("double"), 4)
          .as("sim"))
      .orderBy(asc("lev"), asc("d1"), asc("d2")).limit(20)
  }

  /** Signature-agreement prefilter for exact re-scoring consumers
    * (q_dedup_near): only candidates whose signatures agree in ≥ 6 of
    * K=8 positions are worth the exact-Jaccard re-score. est is a
    * multiple of 1/8 (binary-exact), the comparison is engine-stable,
    * and the SAME constant is interpolated into [[lshCandHiCte]] so the
    * two sides cannot fork. Verified at sf0.001/0.01/0.1: every top-20
    * exact-Jaccard pair sits at est ≥ 0.75, so the cut (~2× fewer
    * re-scores on this corpus, more on a real vocabulary where banding
    * is selective) does not move the result. NOT applied to q_doc_sim:
    * its TF-IDF-weighted cosine ranks pairs with est as low as 0.5 into
    * the top-20 (measured), so a signature cut there would change — and
    * degrade — the answer. */
  private[graft] val RescoreThreshold = 0.75

  /** DuckDB CTE chain yielding the LSH candidate-pair set `cand(d1, d2)`
    * over the shared doc_id%10 sample `dt(doc_id, term)` — the oracle-side
    * mirror of [[minhashPairs]]. Interpolate after `WITH ` (or append to an
    * existing CTE list); exposes `dt`, `sig`, `bands`, `cand`. */
  /** dt + sig prologue alone — `sig(doc_id, k, mh)` in long form; shared
    * with [[PipelineTrain.qLshTuneSql]]'s banding sweep. */
  private[queries] val lshSigCte: String =
    s"""dt AS (SELECT DISTINCT doc_id, unnest(string_split(text,' '))
      |    AS term FROM documents WHERE doc_id % 10 = 0),
      |sig AS (SELECT doc_id, k,
      |    min(('0x' || substr(md5(term || ':' || k), 1, 15))::BIGINT) AS mh
      |  FROM dt, generate_series(0, ${K - 1}) t(k) GROUP BY doc_id, k)"""
      .stripMargin

  /** Candidate CTE including the oracle-side mirror of [[bandedPairs]]'s
    * [[BucketCap]] sub-split (round 11, advisor item): same md5-salt
    * formula, same cap constant, so the two engines cannot fork even at
    * an SF where the cap activates. Inactive at all tested SFs (max
    * bucket 319 at sf0.1 vs cap 1024 ⇒ every salt divisor is 1). */
  private[queries] val lshCandCte: String =
    s"""$lshSigCte,
      |bands AS (SELECT doc_id, k // 2 AS band,
      |    string_agg(mh, '|' ORDER BY k) AS bsig
      |  FROM sig GROUP BY doc_id, band),
      |bsz AS (SELECT band, bsig, count(*) AS bsz
      |  FROM bands GROUP BY band, bsig),
      |bsalt AS (SELECT doc_id, band, bsig,
      |    ('0x' || substr(md5('sub:' || doc_id), 1, 15))::BIGINT
      |      % greatest(1, (bsz + ${BucketCap - 1}) // $BucketCap) AS salt
      |  FROM bands JOIN bsz USING (band, bsig)),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bsalt a JOIN bsalt b ON a.band = b.band AND a.bsig = b.bsig
      |    AND a.salt = b.salt AND a.doc_id < b.doc_id)""".stripMargin

  /** [[lshCandCte]] + the [[RescoreThreshold]] signature-agreement cut —
    * the oracle-side mirror of `minhashPairs.filter(est_jaccard >= T)`.
    * Exposes `cand_hi(d1, d2)` on top of the lshCandCte names. */
  private[queries] val lshCandHiCte: String =
    s"""$lshCandCte,
      |cand_hi AS (SELECT d1, d2
      |  FROM cand JOIN sig s1 ON s1.doc_id = d1
      |    JOIN sig s2 ON s2.doc_id = d2 AND s2.k = s1.k
      |  GROUP BY d1, d2
      |  HAVING avg(CASE WHEN s1.mh = s2.mh THEN 1.0 ELSE 0.0 END)
      |    >= $RescoreThreshold)""".stripMargin

  val qDedupEditdistSql: String =
    s"""WITH $lshCandCte,
      |cand200 AS (SELECT d1, d2
      |  FROM cand JOIN sig s1 ON s1.doc_id = d1
      |    JOIN sig s2 ON s2.doc_id = d2 AND s2.k = s1.k
      |  GROUP BY d1, d2
      |  ORDER BY avg(CASE WHEN s1.mh = s2.mh THEN 1.0 ELSE 0.0 END) DESC,
      |    d1, d2 LIMIT 200),
      |lv AS (SELECT d1, d2,
      |    CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev,
      |    round(1.0 - levenshtein(x.text, y.text)
      |      / CAST(greatest(length(x.text), length(y.text)) AS DOUBLE), 4)
      |      AS sim
      |  FROM cand200 JOIN documents x ON x.doc_id = d1
      |    JOIN documents y ON y.doc_id = d2)
      |SELECT d1, d2, lev, sim FROM lv
      |ORDER BY lev, d1, d2 LIMIT 20""".stripMargin

  val qDedupMinhashSql: String =
    s"""WITH $lshCandCte,
      |est AS (SELECT d1, d2, round(avg(CASE WHEN s1.mh = s2.mh
      |      THEN 1.0 ELSE 0.0 END), 4) AS est_jaccard
      |  FROM cand JOIN sig s1 ON s1.doc_id = d1
      |    JOIN sig s2 ON s2.doc_id = d2 AND s2.k = s1.k
      |  GROUP BY d1, d2)
      |SELECT * FROM est ORDER BY est_jaccard DESC, d1, d2 LIMIT 20"""
      .stripMargin

  // ─────────────────────────── SimHash dedup ───────────────────────────

  private val SimBits = 16

  /** 16-bit SimHash over the distinct-token set (term hash = first 15 hex
    * chars of md5, i.e. 60 bits, parsed identically by Spark `conv` and
    * DuckDB's 0x-cast). Candidate pairs come from 4 bands of 4 bits each:
    * two sketches are candidates iff at least one band agrees, which by
    * pigeonhole finds every pair with Hamming ≤ 3 — the near-dup zone.
    * The band join is an equi-join on (band, value) — a hash shuffle on
    * bucket keys, NEVER the all-pairs theta join (which is a
    * BroadcastNestedLoop / O(n²) at corpus scale). Candidates ranked by
    * exact Hamming distance; the oracle is reformulated identically.
    */
  def qDedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = sampleTerms(spark, sfDir)
      .withColumn("h",
        Tables.md5Bucket(col("term")))
    val sim = dt
      .crossJoin(spark.range(SimBits).select(col("id").as("b")))
      .withColumn("contrib",
        when(expr("shiftright(h, cast(b AS int)) % 2") === 1, 1)
          .otherwise(-1))
      .groupBy("doc_id", "b")
      .agg(sum("contrib").as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(1L, cast(b AS int))")).otherwise(0L))
        .as("simhash"))
    // 4 bands × 4 bits: band value = (simhash >> 4*band) & 15
    val bands = sim
      .crossJoin(spark.range(SimBits / 4).select(col("id").as("band")))
      .withColumn("bv",
        expr("shiftright(simhash, cast(band * 4 AS int)) % 16"))
    val cand = bands.select(col("doc_id").as("d1"),
        col("simhash").as("h1"), col("band"), col("bv"))
      .join(bands.select(col("doc_id").as("d2"),
        col("simhash").as("h2"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2", "h1", "h2")
      .distinct()
    cand
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .orderBy(asc("hamming"), asc("d1"), asc("d2"))
      .limit(20)
  }

  val qDedupSimhashSql: String =
    s"""WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text,' '))
      |    AS term FROM documents WHERE doc_id % 10 = 0),
      |th AS (SELECT doc_id, term,
      |    ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM dt),
      |bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) % 2 = 1
      |      THEN 1 ELSE -1 END) AS s
      |  FROM th, generate_series(0, ${SimBits - 1}) t(b) GROUP BY doc_id, b),
      |sim AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << b
      |      ELSE 0 END) AS simhash FROM bits GROUP BY doc_id),
      |bands AS (SELECT doc_id, simhash, band,
      |    (simhash >> (band * 4)::INT) % 16 AS bv
      |  FROM sim, generate_series(0, ${SimBits / 4 - 1}) t(band)),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |    a.simhash AS h1, b.simhash AS h2
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
      |    AND a.doc_id < b.doc_id)
      |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
      |FROM cand ORDER BY hamming, d1, d2 LIMIT 20""".stripMargin

  // ───────────────────── embedding-cosine near-dup ─────────────────────

  /** Embedding near-dup candidates: top-20 pairs by exact double cosine
    * among MULTI-PROBE sign-LSH candidates — pairs whose 8-bit sign
    * buckets ([[PipelineExtra.lshBucket]]) agree exactly or differ in
    * one bit (Hamming ≤ 1, the q_multi_probe_lsh probe set applied
    * pairwise). Candidate generation is a bucket equi-join (probe key =
    * bucket key), so cost is O(9·Σ bucket²), never the round-7 all-pairs
    * BNLJ; the exact re-score touches candidates only.
    *
    * Why the oracle is LOCKSTEP (same probe set in DuckDB), not
    * all-pairs: this corpus has no planted vector near-dups — the
    * all-pairs top cosine is 0.51 at sf0.1 (measured), the random
    * regime, where a Hamming≤1 probe of 8 sign bits has ~15% per-pair
    * recall, so NO bucketed method can reproduce the exact top-20 and
    * an all-pairs oracle would be dishonest. In the true dedup regime
    * (cos ≥ 0.99) the same probe set recalls ≈95% per pair
    * (p = 1 − θ/π = .955; p⁸ + 8p⁷(1−p)); the recall audit for this
    * index family is q_ann_recall / q_multi_probe_lsh. */
  def qDedupEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("bucket", PipelineExtra.lshBucket(col("v")))
      .withColumn("n", graft.functions.VectorOps.l2norm(col("v")))
    // own bucket + the 8 single-bit flips: a pair at Hamming ≤ 1 matches
    // on exactly ONE probe (flip the one differing bit; H=0 matches the
    // unflipped probe only), so the equi-join emits each pair once.
    val probeCols: Seq[org.apache.spark.sql.Column] =
      col("bucket") +: (1 to 8).map { i =>
        concat(substring(col("bucket"), 1, i - 1),
          when(substring(col("bucket"), i, 1) === "1", lit("0"))
            .otherwise(lit("1")),
          substring(col("bucket"), i + 1, 8 - i))
      }
    val a = e.select(col("vec_id").as("v1"), col("v").as("va"),
      col("n").as("na"), explode(array(probeCols: _*)).as("probe"))
    val b = e.select(col("vec_id").as("v2"), col("v").as("vb"),
      col("n").as("nb"), col("bucket"))
    a.join(b, col("probe") === col("bucket") && col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(graft.functions.VectorOps.dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 4)
          .as("cos"))
      .orderBy(desc("cos"), asc("v1"), asc("v2"))
      .limit(20)
  }

  // CAST the embedding INPUTS to DOUBLE[], not just the result: the
  // Spark side computes fully in double (§2 rule C), and float-computed
  // cosines measurably cross the round(4) grid on this very table (12
  // sampled pairs at sf0.1) — today those pairs rank outside the top-20
  // cut, so a result-only cast passes by luck.
  val qDedupEmbedSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |sig AS (SELECT vec_id,
      |    string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
      |               ORDER BY p) AS bucket
      |  FROM (SELECT vec_id, p,
      |      sum(v[d] * (((p * 31 + d * 17) % 7) - 3)) AS dot
      |    FROM e, unnest(generate_series(0, 7)) t1(p),
      |      unnest(generate_series(1, len(v))) t2(d)
      |    GROUP BY vec_id, p)
      |  GROUP BY vec_id),
      |probes AS (
      |  SELECT vec_id, bucket AS probe FROM sig
      |  UNION ALL
      |  SELECT vec_id, substr(bucket, 1, i - 1)
      |    || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
      |    || substr(bucket, i + 1, 8 - i) AS probe
      |  FROM sig, unnest(generate_series(1, 8)) t(i))
      |SELECT p.vec_id AS v1, s.vec_id AS v2,
      |  round(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 4) AS cos
      |FROM probes p JOIN sig s ON p.probe = s.bucket
      |  AND p.vec_id < s.vec_id
      |JOIN e a ON a.vec_id = p.vec_id
      |JOIN e b ON b.vec_id = s.vec_id
      |ORDER BY cos DESC, v1, v2 LIMIT 20""".stripMargin

  // ──────────────────────────── IVF-style ANN ────────────────────────────

  /** IVF-flavoured ANN: label-averaged centroids act as the coarse
    * quantizer (k=10 cells); the query probes its nearest centroid and
    * brute-forces cosine only within that cell. Centroids are rounded to
    * 4 dp BEFORE assignment so the argmax is engine-stable; assignment
    * ties break on label asc.
    */
  def qSimIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // centroid per label, position-wise mean rounded to 4dp
    val cent = emb
      .select(col("label").as("clabel"), posexplode(col("v")))
      .groupBy("clabel", "pos")
      .agg(round(avg("col"), 4).as("c"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cvec"))
    def cosine(va: org.apache.spark.sql.Column, vb: org.apache.spark.sql.Column) =
      graft.functions.VectorOps.cosine(va, vb)
    // assign every vector (and thus the query) to its best cell — the
    // argmax realized as a partial-aggregable struct-min (max cell_cos,
    // clabel-asc tiebreak via min over (−cos, clabel); −0.0 normalizes
    // to 0.0 in Spark comparisons so the negation is order-exact), NOT
    // a row_number window: the window shuffled every (vector × centroid)
    // row to sort 10-row partitions, while the struct-min combines
    // map-side and shuffles one row per vector. The 10-row centroid
    // table is broadcast — assignment never shuffles the embedding scan.
    val assigned = emb.crossJoin(broadcast(cent))
      .groupBy("vec_id")
      .agg(min(struct(
        (-round(cosine(col("v"), col("cvec")), 4)).as("nc"),
        col("clabel").as("clabel"),
        col("label").as("label"),
        col("v").as("v"))).as("b"))
      .select(col("vec_id"), col("b.label").as("label"),
        col("b.v").as("v"), col("b.clabel").as("clabel"))
    val qcell = assigned.filter(col("vec_id") === 0)
      .select(col("clabel").as("qcell"), col("v").as("qv"))
    assigned.join(broadcast(qcell), col("clabel") === col("qcell"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(cosine(col("v"), col("qv")), 4).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(10)
  }

  val qSimIvfSql: String =
    """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
      |cent AS (SELECT label AS clabel,
      |    list(round(CAST(c AS DOUBLE), 4) ORDER BY p) AS cvec
      |  FROM (SELECT label, p, avg(CAST(embedding[p] AS DOUBLE)) AS c
      |    FROM e, unnest(generate_series(1, len(embedding))) t(p)
      |    GROUP BY label, p) GROUP BY label),
      |scored AS (SELECT vec_id, label, embedding, clabel,
      |    round(CAST(list_cosine_similarity(
      |      CAST(embedding AS DOUBLE[]), cvec) AS DOUBLE), 4) AS cell_cos,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY round(CAST(list_cosine_similarity(
      |        CAST(embedding AS DOUBLE[]), cvec) AS DOUBLE), 4) DESC,
      |        clabel) AS rn
      |  FROM e CROSS JOIN cent),
      |assigned AS (SELECT vec_id, label, embedding, clabel FROM scored
      |  WHERE rn = 1),
      |q AS (SELECT clabel AS qcell, embedding AS qv FROM assigned
      |  WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |    CAST(q.qv AS DOUBLE[])) AS DOUBLE), 4) AS cos
      |FROM assigned a JOIN q ON a.clabel = q.qcell
      |WHERE vec_id <> 0
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  // ─────────────────────────── text analysis ───────────────────────────

  private val Stopwords = Seq("query", "window", "scan")

  /** Per-document quality scoring: token counts, type-token ratio,
    * average token length, stopword ratio, composite score. */
  def qTextQuality(spark: SparkSession, sfDir: String): DataFrame = {
    // quality must be computed from the UNROUNDED ratios — deriving it
    // from the rounded ttr/stop_ratio columns lands exactly on the
    // .00005 rounding grid, where Spark (half-up) and DuckDB (half-even)
    // disagree (SURVEY.md §2 rule B).
    val ttr = size(array_distinct(col("arr"))).cast("double") /
      size(col("arr"))
    val stopRatio = size(filter(col("arr"),
      x => x.isInCollection(Stopwords))).cast("double") / size(col("arr"))
    Tables.t(spark, sfDir, "documents")
      .withColumn("arr", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("arr")).cast("long").as("n_tok"),
        size(array_distinct(col("arr"))).cast("long").as("n_unique"),
        round(ttr, 4).as("ttr"),
        round((length(col("text")) - size(col("arr")) + 1).cast("double") /
          size(col("arr")), 4).as("avg_tok_len"),
        round(stopRatio, 4).as("stop_ratio"),
        round(lit(0.5) * ttr + lit(0.5) * (lit(1.0) - stopRatio), 4)
          .as("quality"))
      .orderBy("doc_id")
  }

  // the IN-list interpolates THE Stopwords constant the Spark side
  // filters on (twice — stop_ratio and quality), so editing the list
  // cannot fork the two engines or the two SQL occurrences
  private val stopwordsInList: String =
    Stopwords.map(w => s"'$w'").mkString("(", ",", ")")

  val qTextQualitySql: String =
    s"""SELECT doc_id,
      |  len(arr)::BIGINT AS n_tok,
      |  len(list_distinct(arr))::BIGINT AS n_unique,
      |  round(len(list_distinct(arr)) / CAST(len(arr) AS DOUBLE), 4) AS ttr,
      |  round((length(text) - len(arr) + 1) / CAST(len(arr) AS DOUBLE), 4)
      |    AS avg_tok_len,
      |  round(len(list_filter(arr, x -> x IN $stopwordsInList))
      |    / CAST(len(arr) AS DOUBLE), 4) AS stop_ratio,
      |  round(0.5 * (len(list_distinct(arr)) / CAST(len(arr) AS DOUBLE))
      |    + 0.5 * (1.0 - len(list_filter(arr,
      |        x -> x IN $stopwordsInList))
      |      / CAST(len(arr) AS DOUBLE)), 4) AS quality
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS arr
      |  FROM documents) ORDER BY doc_id""".stripMargin

  /** Token counting three ways: whitespace, a BPE-ish regex ([a-z0-9]+
    * runs), and the chars/4 estimate LLM pipelines use for budgeting. */
  def qTokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").cast("long")
          .as("re_tokens"),
        ceil(length(col("text")).cast("double") / 4).cast("long")
          .as("est_bpe_tokens"))
      .orderBy("doc_id")

  val qTokenCountSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS re_tokens,
      |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprint: lexicographic min-md5 over 3-token shingles —
    * a winnowing-style content signature that survives local edits. */
  def qFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    // The memoized relation is already distinct per (doc_id, sh), so
    // countDistinct collapses to a plain count (no Expand) and min over
    // the set equals min over the old multiset — oracle unchanged.
    Tables.shingles(spark, sfDir)
      .groupBy("doc_id")
      .agg(min(md5(col("sh"))).as("fingerprint"),
        count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")

  val qFingerprintSql: String =
    s"""SELECT doc_id, min(md5(sh)) AS fingerprint,
      |  count(DISTINCT sh) AS n_shingles
      |FROM (SELECT doc_id, unnest(${Tables.shingles3Sql}) AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS arr
      |        FROM documents))
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Language ID by char-bigram naive-bayes, trained on the corpus's own
    * lang labels. Graduated from oracle=unit in round 12: scores live on
    * an exact INTEGER log-grid — per-(lang, gram) log-probs rescale to
    * round(ln((c+1)/(t+1))·10⁶) as a BIGINT at model-build time (the
    * q_naive_bayes discipline), so the per-doc fold is integer addition
    * (order-free, engine-exact) and the float-argmax tie class that kept
    * this row unit-only is gone. Both engines apply ln + round to the
    * SAME rationals (exact corpus counts), so the grids agree; a
    * one-unit grid disagreement would need two langs within 10⁻⁶ nats
    * after summing — below the corpus's score separation by orders of
    * magnitude. PipelinePlusSpec keeps the in-engine determinism and
    * separable-corpus evidence.
    */
  // the pass-1 profile collect is per-(session, sfDir) IMMUTABLE model
  // state — memoized like Tables.tokens so the 3-run bench pays the
  // corpus scan once, not per run (round-10 advice #7); registered as an
  // aux cache so clearCaches resets it with the relations
  private val langProfCache =
    Tables.registerAuxCache[(Seq[String], Map[String, Array[Long]], Array[Long])]()

  def qTextLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
    // char bigrams via one split + two slices: substring(text, i, 2) in a
    // lambda re-scans the string per position (UTF8String char lookup is
    // O(len)), turning the explode O(len²) per doc
    def bigrams(text: Column): Column = {
      val ca = split(text, "")
      zip_with(
        slice(ca, lit(1), size(ca) - 1),
        slice(ca, lit(2), size(ca) - 1),
        (a, b) => concat(a, b))
    }
    // Pass 1: per-lang bigram profile. Its size is bounded by
    // |langs| × |alphabet|² regardless of corpus size, so collecting it to
    // the driver is the same move as broadcasting a dim table — at 100 TB
    // this is still a few thousand rows.
    val (langs, lpByGram, floors) = Tables.memo(langProfCache, spark, sfDir) {
      val prof = docs
        .select(col("lang"), explode(bigrams(col("text"))).as("g"))
        .groupBy("lang", "g").agg(count(lit(1)).as("c"))
        .collect()
      val tot = prof.groupBy(_.getString(0)).map { case (l, rs) =>
        l -> rs.map(_.getLong(2)).sum
      }
      val ls = tot.keys.toSeq.sorted
      // integer log-grid: round(ln · 10⁶) — exact, order-free integer
      // sums downstream, and re-derivable in DuckDB (the oracle)
      def grid(num: Double, den: Double): Long =
        math.round(math.log(num / den) * 1e6)
      val fl = ls.map(l => grid(1.0, tot(l) + 1.0)).toArray
      val byLangGram = prof.map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // ONE merged map g → [lp(lang₁) … lp(langₖ)] instead of a map
      // literal per lang: the scoring aggregate then makes a single
      // lookup per gram and the generated code is k× smaller — the
      // round-9 bench's 11 s fresh-JVM first run was dominated by
      // compiling the 5-map expression. A lang missing a gram another
      // lang has takes its smoothing floor INSIDE the array, which is
      // the same value the old per-lang null-coalesce produced.
      val grams = prof.map(_.getString(1)).distinct.sorted
      val lp = grams.map { g =>
        g -> ls.zipWithIndex.map { case (l, i) =>
          byLangGram.get((l, g)) match {
            case Some(c) => grid(c + 1.0, tot(l) + 1.0)
            case None => fl(i)
          }
        }.toArray
      }.toMap
      (ls, lp, fl)
    }
    val mapEntries = lpByGram.toSeq.sortBy(_._1).flatMap { case (g, arr) =>
      Seq(lit(g), array(arr.toIndexedSeq.map(lit): _*))
    }
    val lpMap = map(mapEntries: _*)
    // Pass 2: score every doc in ONE narrow codegen pass — a single
    // struct accumulator carries all k running LONG sums (integer grid:
    // addition is exact and order-free, so any evaluation order yields
    // the same scores — the property the oracle depends on); argmax via
    // sort_array over (-score, lang) structs (score desc, lang asc
    // tiebreak). No join, no window, no shuffle except the final
    // orderBy.
    val zero = struct(langs.indices.map(i => lit(0L).as(s"s$i")): _*)
    val folded = aggregate(col("grams"), zero, (acc, g) => {
      // try_element_at, not element_at: null-on-missing-key is the
      // semantics the smoothing-floor coalesce DEPENDS on, and
      // element_at's missing-key behavior has shifted across Spark
      // versions/ANSI modes (docs say ANSI throws; 4.1.2 measures
      // null). try_element_at pins it; EdgeCorpusSpec drives the
      // unseen-gram path the driver corpus never produces.
      val v = try_element_at(lpMap, g)
      struct(langs.indices.map(i =>
        (acc.getField(s"s$i") +
          coalesce(try_element_at(v, lit(i + 1)), lit(floors(i))))
          .as(s"s$i")): _*)
    })
    val scoreCols = langs.zipWithIndex.map { case (l, i) =>
      struct((-col("sc").getField(s"s$i")).as("negScore"), lit(l).as("l"))
    }
    docs
      .withColumn("grams", bigrams(col("text")))
      .withColumn("sc", folded)
      .select(col("doc_id"), col("lang").as("actual"),
        element_at(sort_array(array(scoreCols: _*)), 1)("l").as("predicted"))
      .orderBy("doc_id")
  }

  /** DuckDB re-derivation of the whole model: profile counts, the
    * round(ln·10⁶) integer grid, per-doc integer score sums (via the
    * per-(doc, gram) tf — multiplicity-correct), argmax with lang-asc
    * tiebreak. Sub-2-char docs (no bigrams) fall back to the minimum
    * profile lang, mirroring the all-zero-scores tiebreak in-engine. */
  val qTextLangIdSql: String =
    """WITH cg AS (SELECT doc_id, lang, arr[i] || arr[i+1] AS g
      |  FROM (SELECT doc_id, lang, string_split(text, '') AS arr
      |        FROM documents),
      |    unnest(generate_series(1, len(arr) - 1)) t(i)),
      |prof AS (SELECT lang, g, count(*) AS c FROM cg GROUP BY lang, g),
      |tot AS (SELECT lang, count(*) AS t FROM cg GROUP BY lang),
      |langs AS (SELECT lang,
      |    CAST(round(ln(1.0 / (t + 1.0)) * 1000000) AS BIGINT) AS fl
      |  FROM tot),
      |grid AS (SELECT p.lang, p.g,
      |    CAST(round(ln((p.c + 1.0) / (t.t + 1.0)) * 1000000) AS BIGINT)
      |      AS lp
      |  FROM prof p JOIN tot t USING (lang)),
      |dg AS (SELECT doc_id, g, count(*) AS n FROM cg GROUP BY doc_id, g),
      |scores AS (SELECT d.doc_id, l.lang,
      |    sum(d.n * coalesce(grid.lp, l.fl)) AS s
      |  FROM dg d CROSS JOIN langs l
      |  LEFT JOIN grid ON grid.lang = l.lang AND grid.g = d.g
      |  GROUP BY d.doc_id, l.lang),
      |pred AS (SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang)
      |      AS rn
      |  FROM scores)
      |SELECT d.doc_id, d.lang AS actual,
      |  coalesce(p.lang, (SELECT min(lang) FROM tot)) AS predicted
      |FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id AND p.rn = 1
      |ORDER BY d.doc_id""".stripMargin

  // ───────────────────────── multimodal columns ─────────────────────────

  /** Multimodal metadata surface: opaque binary payload (here derived
    * deterministically from text — the container ships no codec libs) +
    * typed metadata columns, exactly the schema a real image/audio table
    * carries. Oracle-checked on the metadata; payload plumbing is
    * exercised in MultimodalSpec. */
  def qMmMeta(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        col("n_chars"),
        octet_length(encode(col("text"), "UTF-8")).cast("long")
          .as("payload_bytes"),
        md5(col("text")).as("payload_digest"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"))
      .orderBy("doc_id")

  val qMmMetaSql: String =
    """SELECT doc_id, n_chars,
      |  octet_length(encode(text))::BIGINT AS payload_bytes,
      |  md5(text) AS payload_digest,
      |  (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS modality
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Decode/feature-extract plumbing for binary payloads. The "decoder"
    * is a deterministic stand-in (no codec libs in this container):
    * FNV-seeded pseudo-features + parsed dimensions. The Spark-side
    * shape is the real thing: binary in, fixed-width float features
    * out, one narrow mapPartitions pass, no shuffle. Round 6: graduated
    * from oracle=unit to a DuckDB oracle — the stand-in is pure
    * integer+float32 arithmetic, so the oracle re-derives it (HUGEINT
    * FNV fold + FLOAT division). Formatting caveat: Java "%.6f" rounds
    * HALF_UP, C printf half-even, and dyadic ties DO occur (q_mm_resize
    * hit 98.65625 at sf0.001), so the oracle reproduces HALF_UP with
    * exact integer math instead of printf's rounding:
    * `floor(f::DOUBLE * 10^k + 0.5)` — the float32 widened to double is
    * exact, ×10^k needs ≤ 24+20 significant bits and +0.5 ≤ 53, so the
    * double arithmetic is exact and floor(x+0.5) IS Java's HALF_UP.
    */
  def qMmDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = 8
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val h = graft.functions.Fnv1a64.hash(payload)
        val feats = Array.tabulate(dim) { i =>
          // deterministic fake "decoded features" from the payload hash
          ((h >>> (i * 8)) & 0xff).toFloat / 255f
        }
        // mask, not math.abs: abs(Long.MinValue) is negative
        val width = 1 + (h & 0x3ff).toInt
        val height = 1 + ((h >>> 32) & 0x3ff).toInt
        // comma-joined wire format: the driver hashes every output
        // column and can't sort/hash raw array cells. Locale.ROOT, not
        // the f-interpolator — a comma-decimal executor locale would
        // change the hashed string (same hazard Bench.fmt guards).
        (id, feats.map(f => String.format(java.util.Locale.ROOT,
          "%.6f", Float.box(f))).mkString(","), width, height)
      })
      .toDF("doc_id", "features", "width", "height")
      .orderBy("doc_id")
  }

  // byte i of the 64-bit hash = (h // 256^i) % 256; the power list spells
  // 256^0..256^7 out as literals (HUGEINT exponentiation via power()
  // would round-trip through DOUBLE).
  val qMmDecodeSql: String =
    s"""SELECT doc_id,
       |  array_to_string([printf('%d.%06d', i // 1000000, i % 1000000)
       |    for i in [CAST(floor(
       |        ((CAST((h // p) % 256 AS INT))::FLOAT / 255::FLOAT)::DOUBLE
       |        * 1000000 + 0.5) AS BIGINT)
       |      for p in [1::HUGEINT, 256, 65536, 16777216, 4294967296,
       |                1099511627776, 281474976710656,
       |                72057594037927936]]], ',') AS features,
       |  CAST(1 + h % 1024 AS INT) AS width,
       |  CAST(1 + (h // 4294967296) % 1024 AS INT) AS height
       |FROM (SELECT doc_id,
       |    ${graft.Tables.fnv1a64Sql(graft.Tables.asciiBytesSql("text"))} AS h
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Multimodal "resize": bilinear-ish downsample of a decoded pixel
    * array to a fixed 4-bucket grid (mean pool per bucket). The decode
    * step is the deterministic stand-in (no codec libs in the container);
    * the Spark-side shape — typed mapPartitions, fixed output schema, no
    * shuffle until the final sort — is the real pattern.
    */
  def qMmResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        // "pixels": the raw payload bytes; resize = mean-pool into 4
        // equal buckets (last bucket absorbs the remainder)
        val n = payload.length
        val pooled = Array.tabulate(4) { b =>
          val lo = b * n / 4
          val hi = if (b == 3) n else (b + 1) * n / 4
          if (hi <= lo) 0f
          else {
            var s = 0L
            var i = lo
            while (i < hi) { s += payload(i) & 0xff; i += 1 }
            s.toFloat / (hi - lo)
          }
        }
        // comma-joined wire format, Locale.ROOT (driver comparator and
        // locale hazard: see qMmDecode)
        (id, n, pooled.map(p => String.format(java.util.Locale.ROOT,
          "%.4f", Float.box(p))).mkString(","))
      })
      .toDF("doc_id", "n_bytes", "pooled")
      .orderBy("doc_id")
  }

  // Round-6 oracle: mean-pool re-derived over unicode(char) byte values
  // (ASCII corpus — SchemaCanarySpec pins the precondition). DuckDB list
  // slices are 1-based inclusive, so 0-based [lo, hi) is bs[lo+1 : hi];
  // FLOAT/FLOAT division stays FLOAT, matching s.toFloat / (hi - lo).
  // HALF_UP integer formatting, not printf('%.4f') — see qMmDecode's
  // scaladoc (printf is half-even; 98.65625 at sf0.001 is a real tie).
  val qMmResizeSql: String =
    s"""SELECT doc_id, CAST(n AS INT) AS n_bytes,
       |  array_to_string([printf('%d.%04d', i // 10000, i % 10000)
       |    for i in [CAST(floor((
       |        CASE WHEN hilo[2] <= hilo[1] THEN 0::FLOAT
       |             ELSE (list_sum(bs[hilo[1] + 1 : hilo[2]]))::FLOAT
       |                  / (hilo[2] - hilo[1])::FLOAT END)::DOUBLE
       |        * 10000 + 0.5) AS BIGINT)
       |      for hilo in [[0, n // 4], [n // 4, 2 * n // 4],
       |                   [2 * n // 4, 3 * n // 4], [3 * n // 4, n]]]],
       |    ',') AS pooled
       |FROM (SELECT doc_id, ${graft.Tables.asciiBytesSql("text")} AS bs,
       |    length(text) AS n FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Multimodal "frame sampling": treat the payload as a byte stream of
    * 16-byte frames and keep every 4th frame's checksum — the video
    * frame-sample shape (decode → stride-sample → per-frame feature).
    */
  def qMmFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val frameSize = 16
        val nFrames = payload.length / frameSize
        (0 until nFrames by 4).map { f =>
          val frame = payload.slice(f * frameSize, (f + 1) * frameSize)
          (id, f, graft.functions.Fnv1a64.hash(frame))
        }
      })
      .toDF("doc_id", "frame_idx", "frame_hash")
      .orderBy("doc_id", "frame_idx")
  }

  // Round-6 oracle: stride-sampled frame checksums re-derived as FNV
  // folds over 16-byte list slices; range(0, n // 16, 4) mirrors
  // `0 until nFrames by 4` (empty when n < 16, dropping the doc exactly
  // like the Scala flatMap).
  val qMmFramesSql: String =
    s"""SELECT doc_id, CAST(f AS INT) AS frame_idx,
       |  ${graft.Tables.toSignedLongSql("fh")} AS frame_hash
       |FROM (SELECT doc_id, f,
       |    ${graft.Tables.fnv1a64Sql("bs[f * 16 + 1 : (f + 1) * 16]")} AS fh
       |  FROM (SELECT doc_id, ${graft.Tables.asciiBytesSql("text")} AS bs,
       |      length(text) AS n FROM documents),
       |    unnest(range(0, n // 16, 4)) AS t(f))
       |ORDER BY doc_id, frame_idx""".stripMargin

  // ───────── WEIGHTED minhash dedup (round 11, §2.22) ─────────

  /** Weighted (multiset) near-dup: [[qDedupMinhash]] estimates SET
    * Jaccard, which ignores term frequency — two docs with identical
    * vocabularies but different emphasis score 1.0. This operator
    * estimates WEIGHTED Jaccard J_w = Σ min(tf₁,tf₂) / Σ max(tf₁,tf₂)
    * via the classic integer-weight reduction (public canon): each term
    * expands to tf distinct elements (term#1 … term#tf), and plain
    * minhash over the expanded multiset IS weighted minhash for integer
    * weights. Candidates come from the same 4×2 banding with the same
    * [[BucketCap]] sub-split; the top-200 by signature estimate get the
    * EXACT weighted Jaccard (one term-keyed join over the two tf
    * vectors — candidate-bounded, the q_dedup_editdist discipline) and
    * the top-20 by exact J_w ship. Exactness: estimates are multiples
    * of 1/8 (binary-exact), J_w is exact integer ppm. Scale: the
    * expansion multiplies rows by the mean tf (bounded by token count,
    * not vocabulary²); everything downstream is the capped banding
    * pipeline.
    */
  // the weighted-expansion signature is per-(session, sfDir) IMMUTABLE
  // derived state feeding three plan positions — memoize + persist like
  // minhashPairs instead of pinning a fresh localCheckpoint RDD per
  // invocation (round-11 advice: 3 bench runs + verify each pinned an
  // unreleasable copy; persist() keeps the lineage so clearCaches can
  // drop it and a later consumer rebuilds from parquet)
  private val wSigCache = Tables.registerCache()

  def qDedupMinhashW(spark: SparkSession, sfDir: String): DataFrame = {
    // sample-bounded (doc, term, tf) — checkpointed (round 12) because
    // sz and both inter sides re-ran the groupBy shuffle per invocation.
    // The sig memo builds from the un-checkpointed relation: a memo
    // outlives this invocation, so its lineage must not read a
    // checkpoint the invocation owns.
    val tfRel = Tables.tokens(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf = Tables.localCheckpoint(tfRel, eager = false)
    val sig = Tables.memo(wSigCache, spark, sfDir) {
      // integer-weight expansion + K min-hashes in one groupBy (the
      // minhashSig shape over the expanded elements)
      tfRel.select(col("doc_id"), col("term"),
        explode(sequence(lit(1L), col("tf"))).as("j"))
        .groupBy("doc_id")
        .agg(array((0 until K).map { k =>
          min(Tables.md5Bucket(concat(col("term"), lit("#"), col("j"),
            lit(":"), lit(k.toLong))))
        }: _*).as("sig"))
        .persist()
    }
    val bands = sig.select(col("doc_id"), explode(expr(
      s"""transform(sequence(0, ${K / 2 - 1}), b -> named_struct(
         |  'band', b,
         |  'bsig', concat(cast(sig[2*b] as string), '|',
         |                 cast(sig[2*b+1] as string))))""".stripMargin))
      .as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.bsig").as("bsig"))
    val est = bandedPairs(bands, BucketCap)
      .join(sig.toDF("d1", "s1"), Seq("d1"))
      .join(sig.toDF("d2", "s2"), Seq("d2"))
      .select(col("d1"), col("d2"),
        (size(filter(zip_with(col("s1"), col("s2"), (x, y) => x === y),
          b => b)).cast("double") / K).as("est"))
    // 200 rows, but its lineage is the banded-pair + signature-compare
    // chain — two consumers (inter + the final join) re-ran it all
    // without the checkpoint (round 12)
    val cand = Tables.localCheckpoint(
      est.orderBy(desc("est"), asc("d1"), asc("d2")).limit(200), eager = false)
    val sz = tf.groupBy("doc_id").agg(sum("tf").as("sz"))
    val inter = cand
      .join(tf.toDF("d1", "term", "tf1"), Seq("d1"))
      .join(tf.toDF("d2", "term", "tf2"), Seq("d2", "term"))
      .groupBy("d1", "d2")
      .agg(sum(least(col("tf1"), col("tf2"))).as("i"))
    cand.join(inter, Seq("d1", "d2"), "left")
      .join(sz.toDF("d1", "sz1"), "d1")
      .join(sz.toDF("d2", "sz2"), "d2")
      .select(col("d1"), col("d2"),
        round(col("est"), 4).as("est"),
        expr("""coalesce(i, 0) * 1000000
          | div greatest(sz1 + sz2 - coalesce(i, 0), 1)""".stripMargin)
          .as("wjacc_ppm"))
      .orderBy(desc("wjacc_ppm"), asc("d1"), asc("d2"))
      .limit(20)
  }

  val qDedupMinhashWSql: String =
    s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents WHERE doc_id % 10 = 0)
      |  GROUP BY doc_id, term),
      |el AS (SELECT doc_id, term, j
      |  FROM tf, unnest(generate_series(1, tf)) t(j)),
      |sig AS (SELECT doc_id, k,
      |    min(('0x' || substr(md5(term || '#' || j || ':' || k), 1, 15))
      |      ::BIGINT) AS mh
      |  FROM el, generate_series(0, ${K - 1}) tk(k) GROUP BY doc_id, k),
      |bands AS (SELECT doc_id, k // 2 AS band,
      |    string_agg(mh, '|' ORDER BY k) AS bsig
      |  FROM sig GROUP BY doc_id, band),
      |bsz AS (SELECT band, bsig, count(*) AS bsz
      |  FROM bands GROUP BY band, bsig),
      |bsalt AS (SELECT doc_id, band, bsig,
      |    ('0x' || substr(md5('sub:' || doc_id), 1, 15))::BIGINT
      |      % greatest(1, (bsz + ${BucketCap - 1}) // $BucketCap) AS salt
      |  FROM bands JOIN bsz USING (band, bsig)),
      |candall AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bsalt a JOIN bsalt b ON a.band = b.band AND a.bsig = b.bsig
      |    AND a.salt = b.salt AND a.doc_id < b.doc_id),
      |est AS (SELECT d1, d2, avg(CASE WHEN s1.mh = s2.mh
      |      THEN 1.0 ELSE 0.0 END) AS est
      |  FROM candall JOIN sig s1 ON s1.doc_id = d1
      |    JOIN sig s2 ON s2.doc_id = d2 AND s2.k = s1.k
      |  GROUP BY d1, d2),
      |cand AS (SELECT d1, d2, est FROM est
      |  ORDER BY est DESC, d1, d2 LIMIT 200),
      |sz AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS sz FROM tf
      |  GROUP BY doc_id),
      |inter AS (SELECT c.d1, c.d2,
      |    CAST(sum(least(t1.tf, t2.tf)) AS BIGINT) AS i
      |  FROM cand c JOIN tf t1 ON t1.doc_id = c.d1
      |    JOIN tf t2 ON t2.doc_id = c.d2 AND t2.term = t1.term
      |  GROUP BY c.d1, c.d2)
      |SELECT c.d1, c.d2, round(c.est, 4) AS est,
      |  CAST(coalesce(i.i, 0) * 1000000
      |    // greatest(s1.sz + s2.sz - coalesce(i.i, 0), 1) AS BIGINT)
      |    AS wjacc_ppm
      |FROM cand c LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
      |JOIN sz s1 ON s1.doc_id = c.d1 JOIN sz s2 ON s2.doc_id = c.d2
      |ORDER BY wjacc_ppm DESC, c.d1, c.d2 LIMIT 20""".stripMargin
}
