package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph-shaped pipeline operators (SURVEY.md §2.10e): duplicate
  * clustering — the step that turns a near-dup candidate PAIR stream into
  * per-document keep/drop decisions. Pairs alone don't dedup a corpus:
  * A~B and B~C must collapse into one cluster {A,B,C} that keeps exactly
  * one representative.
  *
  * Scale notes: connected components run as min-label propagation — each
  * round is one hash shuffle of |edges| + |labels| (the Pregel plan GraphX
  * uses), and rounds = O(component diameter). Near-dup clusters are
  * shallow (diameter ≪ 10 even at corpus scale — duplicates of a doc are
  * duplicates of each other), so the loop converges in a handful of
  * rounds; `localCheckpoint` cuts the lineage per round so plans stay
  * constant-size. Adversarially long chains would want the
  * large-star/small-star contraction instead; documented, not needed for
  * near-dup graphs.
  */
object PipelineGraph {

  /** Signature-match threshold for an edge: ≥7/8 minhashes agree.
    * Multiples of 1/8 are exact in binary, so the comparison is
    * engine-portable with no rounding guard. */
  private val EdgeThreshold = 0.875

  /** The verified near-dup graph's directed (d1, d2) edges: candidate
    * pairs at ≥ [[EdgeThreshold]] signature agreement. */
  private def nearDupEdges(spark: SparkSession, sfDir: String): DataFrame =
    PipelinePlus.minhashPairs(spark, sfDir)
      .filter(col("est_jaccard") >= EdgeThreshold)
      .select(col("d1"), col("d2"))

  /** Symmetric closure of a (d1, d2) edge list, so one propagation
    * direction suffices. */
  private def symmetric(edges: DataFrame): DataFrame =
    edges.union(edges.select(col("d2").as("d1"), col("d1").as("d2")))

  /** The graph's nodes: the §2.10 shared sample's distinct doc ids. */
  private def sampleNodes(spark: SparkSession, sfDir: String): DataFrame =
    PipelinePlus.sampleTerms(spark, sfDir).select("doc_id").distinct()

  /** (d1, d2, deg) — each edge carries its source's out-degree, so a
    * PageRank step is one join per iteration, not two. */
  private def degreeFolded(sym: DataFrame): DataFrame = {
    val deg = sym.groupBy(col("d1").as("dd")).agg(count(lit(1)).as("deg"))
    sym.join(deg, sym("d1") === col("dd"))
      .select(col("d1"), col("d2"), col("deg"))
  }

  /** Connected components by min-label propagation, reusable over any
    * (nodes, directed edges) pair — `edges` need not be symmetric; the
    * symmetric closure is taken here. Returns one (doc_id, cluster) row
    * per node, cluster = min node id reachable. Labels only ever DECREASE
    * under min-propagation, so the label sum is a convergence witness:
    * one scalar aggregate per round instead of a self-join diff.
    */
  private[graft] def connectedComponents(
      nodes: DataFrame, edges: DataFrame): DataFrame = {
    val sym = Tables.localCheckpoint(symmetric(edges), eager = false)
    val labels0 = Tables.localCheckpoint(nodes
      .select(col("doc_id"), col("doc_id").as("cluster")), eager = false)
    // Each pull step pulls the minimum neighbor label and keeps the
    // smaller of (own, pulled).
    def pull(cur: DataFrame): DataFrame = {
      val pulled = sym
        .join(cur, sym("d2") === cur("doc_id"))
        .groupBy(sym("d1").as("nid"))
        .agg(min("cluster").as("nbr_min"))
      cur
        .join(pulled, cur("doc_id") === pulled("nid"), "left")
        .select(cur("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"))
    }
    // Two pull steps per materialized round. Labels reach their
    // component minimum at the same fixpoint either way (min-propagation
    // is monotone), but pairing the hops halves the checkpoint +
    // convergence-scan round-trips — the loop's cost is per-round job
    // latency, not data volume, at every scale. Round 6 measured 4
    // pulls/round as WORSE (4.7 vs 4.1 s warm, same session): this
    // graph's clusters have diameter ≈ 2, so 2 pulls already converge in
    // one propagation round + one confirmation round — extra pulls add
    // per-round joins and save zero rounds.
    var prevSum: java.math.BigDecimal = null
    rounds(labels0)(cur => pull(pull(cur))) { (next, _, _) =>
      // decimal sum: overflow-proof at any corpus size
      val s = next.agg(sum(col("cluster").cast("decimal(38,0)")))
        .head().getDecimal(0)
      val same = s == prevSum || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      same
    }._1
  }

  /** The graph loops' one round combinator: runs `step` from `init` for at
    * most `cap` rounds, checkpointing each round's output LAZILY, and
    * stops after the first round where `done(next, prev, round)` holds
    * (`round` counts from 1). That probe is the round's one action, so
    * it also materializes the round. An eager checkpoint would be a
    * dedicated materialization job per round; the lazy one folds into
    * the probe's job (round 6: neutral on [[connectedComponents]], whose
    * probe ran per round anyway) or, under [[NoProbe]], every round
    * collapses into the caller's single output job (pagerank 2.71 →
    * 1.97 s, triangles 1.44 → 1.09 s, 3-run sf0.1 medians). Eager
    * checkpoints inside a round are the step's own. Returns the last
    * state, the number of rounds run and whether `done` held. */
  private def rounds(init: DataFrame, cap: Int = Int.MaxValue)(
      step: DataFrame => DataFrame)(
      done: (DataFrame, DataFrame, Int) => Boolean)
      : (DataFrame, Int, Boolean) = {
    @annotation.tailrec
    def go(prev: DataFrame, r: Int): (DataFrame, Int, Boolean) =
      if (r == cap) (prev, r, false)
      else {
        val next = Tables.localCheckpoint(step(prev), eager = false)
        if (done(next, prev, r + 1)) (next, r + 1, true) else go(next, r + 1)
      }
    go(init, 0)
  }

  /** The `done` of a fixed-length loop: it runs nothing. */
  private val NoProbe: (DataFrame, DataFrame, Int) => Boolean =
    (_, _, _) => false

  // The (doc_id, cluster) relation feeds TWO operators (duplicate
  // clustering, priority canonical selection) — run the propagation loop
  // once per (session, sfDir), like the pairs cache it consumes.
  private val clusterCache =
    graft.Tables.registerCache()

  /** Connected-component labels over the verified near-dup graph (edges =
    * candidate pairs at ≥ [[EdgeThreshold]] signature agreement, nodes =
    * the §2.10 shared sample). Memoized per (session, sfDir). */
  private[graft] def dedupClusters(
      spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.memo(clusterCache, spark, sfDir) {
      connectedComponents(sampleNodes(spark, sfDir), nearDupEdges(spark, sfDir))
        .persist()
    }
  }

  /** Near-dup clusters over the §2.10 shared sample: minhash-LSH candidate
    * pairs verified at ≥ [[EdgeThreshold]] become edges; connected
    * components (cluster = min doc_id reachable) decide keeps. One row per
    * sampled doc: its cluster id, the cluster size, and the keep flag.
    */
  def qDedupCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = dedupClusters(spark, sfDir)
    val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("csize"))
    labels
      .join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("csize"),
        (col("doc_id") === col("cluster")).as("keep"))
      .orderBy("doc_id")
  }

  /** PageRank (3 power iterations, d=0.85) over the same symmetric
    * near-dup graph: the canonical-representative scorer when "keep the
    * most central duplicate" beats "keep the lowest id". Each iteration
    * is one hash shuffle of |edges| (contributions keyed by target) —
    * the Pregel plan — and the iteration count is FIXED, so the oracle
    * unrolls the same three rounds as CTEs. Dangling mass is dropped
    * (the standard simplification); in-neighbor sums are 1-2 terms in
    * near-dup graphs, so double summation is order-safe at round(6).
    */
  def qGraphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val d = 0.85
    // Round 13 (JobProf: the warm run spent 4 concurrent ~0.7 s jobs
    // re-deriving the LAZY sym checkpoint — concurrent AQE stages each
    // recompute a not-yet-materialized localCheckpoint — plus a fresh
    // deg aggregation per iteration):
    //   - degree is folded into the edge list ONCE and checkpointed
    //     EAGERLY, so nothing can recompute it concurrently;
    //   - nodes is checkpointed: it fed the count action, the rank seed
    //     and all 3 left joins — 5 re-derivations of the sample distinct.
    // No d1 layout: over 3 fixed iterations its count job and extra
    // exchange cost more than the per-iteration exchanges it saved (the
    // round-13 layout read 0.90 → 1.38 s on the 8-core driver pair).
    // pr checkpoints stay lazy ([[rounds]]): each is consumed once, in
    // sequence, by the next iteration's chain.
    val symDeg = Tables.localCheckpoint(
      degreeFolded(symmetric(nearDupEdges(spark, sfDir))))
    val nodes = Tables.localCheckpoint(sampleNodes(spark, sfDir))
    val n = nodes.count().toDouble
    val (pr, _, _) = rounds(nodes.withColumn("pr", lit(1.0 / n)), 3) { pr =>
      val contrib = symDeg
        .join(pr, col("d1") === pr("doc_id"))
        .select(col("d2").as("doc_id"), (col("pr") / col("deg")).as("c"))
        .groupBy("doc_id").agg(sum("c").as("in_pr"))
      nodes
        .join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit((1 - d) / n) + lit(d) * coalesce(col("in_pr"), lit(0.0)))
            .as("pr"))
    }(NoProbe)
    pr.select(col("doc_id"), round(col("pr"), 6).as("pr"))
      .orderBy("doc_id")
  }

  /** Oracle-side verified-edge chain: [[PipelinePlus.lshCandCte]] (THE
    * candidate CTEs, K interpolated there) + the signature-agreement
    * verify at [[EdgeThreshold]]. ONE definition for the three graph
    * oracles, interpolating the SAME constants the Spark side filters
    * on — retuning K or the threshold cannot fork engine from oracle. */
  private val estCte: String =
    s"""${PipelinePlus.lshCandCte},
      |est AS (SELECT d1, d2
      |  FROM cand JOIN sig s1 ON s1.doc_id = d1
      |    JOIN sig s2 ON s2.doc_id = d2 AND s2.k = s1.k
      |  GROUP BY d1, d2
      |  HAVING avg(CASE WHEN s1.mh = s2.mh THEN 1.0 ELSE 0.0 END)
      |    >= $EdgeThreshold)""".stripMargin

  /** estCte + the symmetric (a, b) edge list. */
  private val edgesCte: String =
    s"""$estCte,
      |edges AS (SELECT d1 AS a, d2 AS b FROM est
      |  UNION ALL SELECT d2, d1 FROM est)""".stripMargin

  /** Same three unrolled rounds in SQL: shared edge/degree CTEs, then
    * r1/r2/r3 each re-derive contributions from the previous round. */
  val qGraphPagerankSql: String = {
    def round_(prev: String, out: String): String =
      s"""$out AS (SELECT n.doc_id,
        |    0.15 / (SELECT count(*) FROM nodes)
        |      + 0.85 * coalesce(sum(p.pr / dg.deg), 0.0) AS pr
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.b = n.doc_id
        |  LEFT JOIN $prev p ON p.doc_id = e.a
        |  LEFT JOIN deg dg ON dg.doc_id = e.a
        |  GROUP BY n.doc_id)""".stripMargin
    s"""WITH
      |$edgesCte,
      |deg AS (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY a),
      |nodes AS (SELECT DISTINCT doc_id FROM dt),
      |r0 AS (SELECT doc_id, 1.0 / (SELECT count(*) FROM nodes) AS pr
      |  FROM nodes),
      |${round_("r0", "r1")},
      |${round_("r1", "r2")},
      |${round_("r2", "r3")}
      |SELECT doc_id, round(pr, 6) AS pr FROM r3
      |ORDER BY doc_id""".stripMargin
  }

  /** Same clusters via transitive closure (WITH RECURSIVE): the minimum
    * start node that reaches a doc over symmetric edges IS the component
    * minimum the propagation loop converges to. */
  val qDedupClusterSql: String =
    s"""WITH RECURSIVE
      |$edgesCte,
      |nodes AS (SELECT DISTINCT doc_id FROM dt),
      |reach(src, node) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      |cl AS (SELECT node AS doc_id, min(src) AS cluster
      |  FROM reach GROUP BY node)
      |SELECT cl.doc_id, cl.cluster, CAST(sz.csize AS BIGINT) AS csize,
      |  cl.doc_id = cl.cluster AS keep
      |FROM cl JOIN (SELECT cluster, count(*) AS csize
      |  FROM cl GROUP BY cluster) sz USING (cluster)
      |ORDER BY doc_id""".stripMargin

  /** Cross-source canonical selection (round 6): per near-dup cluster,
    * keep the member from the PREFERRED source — priority = the numeric
    * suffix of `source` (lower = more curated), doc_id tiebreak — the
    * curation rule real pipelines use when the same content arrives from
    * a vetted dump AND a web crawl (q_dedup_cluster's keep-lowest-id is
    * the arbitrary-but-stable variant; this one encodes source trust).
    * Plan: the same label-propagation clusters, one broadcast-sized join
    * to (doc_id, source), and a per-cluster rank window — each partition
    * is ONE cluster's members (bounded: duplicates of a doc), so the
    * window is skew-free at any corpus size and the rk=1 filter takes
    * the WindowGroupLimit path.
    */
  def qDedupPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = dedupClusters(spark, sfDir)
    val m = labels
      .join(graft.Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("source")), "doc_id")
      .withColumn("prio", expr("cast(substring(source, 4) as int)"))
    val byCluster = Window.partitionBy("cluster")
      .orderBy(asc("prio"), asc("doc_id"))
    // csize via groupBy-join (q_dedup_cluster's shape), NOT a second
    // count window over the same partition: an all-rows count window
    // blocks the rk=1 pushdown, while a lone row_number + filter takes
    // WindowGroupLimit (Partial+Final — each input partition forwards
    // one row per cluster to the exchange; plan-pinned in
    // PipelineGraphSpec).
    val keep = m.withColumn("rk", row_number().over(byCluster))
      .filter(col("rk") === 1)
    val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("csize"))
    keep.join(sizes, "cluster")
      .select(col("cluster"), col("csize"),
        col("doc_id").as("keep_id"), col("source").as("keep_source"))
      .orderBy("cluster")
  }

  val qDedupPrioritySql: String =
    s"""WITH RECURSIVE
      |$edgesCte,
      |nodes AS (SELECT DISTINCT doc_id FROM dt),
      |reach(src, node) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      |cl AS (SELECT node AS doc_id, min(src) AS cluster
      |  FROM reach GROUP BY node),
      |m AS (SELECT cl.doc_id, cl.cluster, d.source,
      |    CAST(substr(d.source, 4) AS INTEGER) AS prio
      |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY cluster
      |      ORDER BY prio, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY cluster) AS csize
      |  FROM m)
      |SELECT cluster, CAST(csize AS BIGINT) AS csize,
      |  doc_id AS keep_id, source AS keep_source
      |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin

  /** Triangle counting over the verified near-dup graph: per-node
    * triangle participation, top-20 — the cohesion signal that separates
    * a true duplicate CLIQUE from a chain of pairwise-coincidental
    * matches. Edges are oriented low→high id so each triangle is
    * enumerated exactly once as a < b < c: one equi-join to open the
    * wedge (a,b)+(b,c), one semi-join to close it with (a,c). Every join
    * is an equi-join on node ids; at corpus scale the standard refinement
    * is degree-ordered orientation (wedges pivot on the lower-degree
    * endpoint) — same plan shape, different orientation key.
    */
  def qTriangleCount(spark: SparkSession, sfDir: String): DataFrame = {
    // EAGER (round 13): e feeds all three triangle-join positions;
    // the output job's concurrent stages each re-derived a lazy copy
    // from the candidate relation before any of them had cached it
    val e = Tables.localCheckpoint(nearDupEdges(spark, sfDir).toDF("a", "b"))
    val tri = e
      .join(e.toDF("b", "c"), "b")
      .join(e.toDF("a", "c"), Seq("a", "c"), "left_semi")
    val part = tri.select(col("a").as("doc_id"))
      .unionAll(tri.select(col("b").as("doc_id")))
      .unionAll(tri.select(col("c").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    part.orderBy(desc("n_tri"), asc("doc_id")).limit(20)
  }

  val qTriangleCountSql: String =
    s"""WITH
      |$estCte,
      |tri AS (SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
      |  FROM est e1 JOIN est e2 ON e1.d2 = e2.d1
      |  WHERE EXISTS (SELECT 1 FROM est e3
      |    WHERE e3.d1 = e1.d1 AND e3.d2 = e2.d2)),
      |p AS (SELECT a AS doc_id FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT doc_id, count(*) AS n_tri FROM p GROUP BY doc_id
      |ORDER BY n_tri DESC, doc_id LIMIT 20""".stripMargin

  /** Round-0 BFS distances (seed ↦ 0, everything else null), exposed
    * UN-checkpointed so PlanAuditSpec can pin the broadcast seed — a
    * checkpoint is eager-or-lazy a LogicalRDD wall that would make an
    * outer-plan audit vacuous (the minhashSig lesson, ADVICE r5). */
  private[graft] def bfsSeedDist(
      spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = sampleNodes(spark, sfDir)
    val seed = nodes.agg(min("doc_id").as("seed"))
    nodes.crossJoin(broadcast(seed))
      .select(col("doc_id"),
        when(col("doc_id") === col("seed"), 0L).as("hop"))
  }

  /** Single-source BFS hop distance (≤3 hops) from the minimum sampled
    * doc_id over the verified near-dup graph — the reachability probe
    * completing the family: components say WHETHER two docs connect,
    * PageRank says how central, BFS says how FAR. Three pull rounds of
    * min-(dist+1) propagation (Bellman–Ford rounds: after k rounds every
    * node within k hops holds its exact BFS distance); each round is one
    * |edges| hash shuffle, the Pregel plan, with the [[qGraphPagerank]]
    * lazy-checkpoint discipline (fixed iterations → all rounds collapse
    * into the output job). The oracle walks the same graph with a
    * bounded RECURSIVE CTE whose UNION-dedup keeps the walk ≤ 4·|nodes|
    * rows regardless of path multiplicity. The seed stays a 1-row
    * broadcast — never a driver-side collect.
    */
  def qGraphBfs(spark: SparkSession, sfDir: String): DataFrame = {
    // EAGER (round 13): one reference per pull round — the rounds all
    // collapse into the output job, whose concurrent stages raced the
    // lazy copy and re-derived it up to 3×
    val sym = Tables.localCheckpoint(symmetric(nearDupEdges(spark, sfDir)))
    val seed = Tables.localCheckpoint(bfsSeedDist(spark, sfDir), eager = false)
    val (dist, _, _) = rounds(seed, 3) { dist =>
      val reached = dist.filter(col("hop").isNotNull)
        .select(col("doc_id").as("rid"), col("hop").as("rhop"))
      val pulled = sym
        .join(reached, sym("d1") === col("rid"))
        .groupBy(sym("d2").as("nid"))
        .agg(min(col("rhop") + 1L).as("prop"))
      dist
        .join(pulled, dist("doc_id") === pulled("nid"), "left")
        .select(dist("doc_id"), least(col("hop"), col("prop")).as("hop"))
    }(NoProbe)
    dist.filter(col("hop").isNotNull)
      .select(col("doc_id"), col("hop"))
      .orderBy("hop", "doc_id")
  }

  val qGraphBfsSql: String =
    s"""WITH RECURSIVE
      |$edgesCte,
      |nodes AS (SELECT DISTINCT doc_id FROM dt),
      |seedv AS (SELECT min(doc_id) AS s FROM nodes),
      |walk(node, hop) AS (
      |  SELECT s, 0 FROM seedv
      |  UNION
      |  SELECT e.b, w.hop + 1 FROM walk w JOIN edges e ON w.node = e.a
      |  WHERE w.hop < 3)
      |SELECT node AS doc_id, CAST(min(hop) AS BIGINT) AS hop
      |FROM walk GROUP BY node ORDER BY hop, doc_id""".stripMargin

  // ───────────────── similarity-graph degree distribution ─────────────────

  /** Degree distribution of the MinHash high-confidence candidate graph
    * (the q_dedup_near edge set): how many sampled docs have 0, 1, 2 …
    * near-dup candidates — the graph-shape telemetry that predicts
    * whether connected-component dedup (q_dedup_cluster) will see a few
    * giant families or a long isolated tail. Edges come from the shared
    * memoized LSH candidate relation (bounded by bucket collisions,
    * never all-pairs); the degree aggregate is doc-keyed and the output
    * is the ≤max-degree histogram.
    */
  def qGraphDegreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = PipelinePlus.minhashPairs(spark, sfDir)
      .filter(col("est_jaccard") >= PipelinePlus.RescoreThreshold)
      .select("d1", "d2")
    val ends = edges.select(col("d1").as("d"))
      .unionAll(edges.select(col("d2").as("d")))
    val deg = ends.groupBy("d").agg(count(lit(1)).as("degree"))
    val uni = graft.Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("d"))
    uni.join(deg, Seq("d"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  val qGraphDegreeDistSql: String =
    s"""WITH ${PipelinePlus.lshCandHiCte},
      |ends AS (SELECT d1 AS d FROM cand_hi
      |  UNION ALL SELECT d2 FROM cand_hi),
      |deg AS (SELECT d, count(*) AS degree FROM ends GROUP BY d),
      |uni AS (SELECT doc_id AS d FROM documents WHERE doc_id % 10 = 0)
      |SELECT coalesce(deg.degree, 0) AS degree, count(*) AS n_docs
      |FROM uni LEFT JOIN deg USING (d)
      |GROUP BY 1 ORDER BY degree""".stripMargin

  // ───────── HITS hubs/authorities on the co-purchase graph (round 9) ─────

  /** Two full HITS iterations on the bipartite customer→part co-purchase
    * graph (hubs = customers, authorities = parts) — the link-analysis
    * companion to [[qGraphPagerank]] for the "which parts does the
    * buying core endorse?" ranking. The unnormalized HITS recursion on
    * a bipartite graph is PURELY INTEGER: a⁰ ≡ 1 gives h¹(c) = deg(c),
    * a¹(p) = Σ_c deg(c), h²(c) = Σ_p a¹(p), a²(p) = Σ_c h²(c) — exact
    * BIGINTs end to end (normalization only rescales ranks, so the
    * top-10 ships the exact integer score and a per-mille share of the
    * max instead of a float eigenvector). Scale: one \|edges\| shuffle
    * per half-iteration — the qGraphPagerank envelope — with bounded
    * degrees keeping scores ~10⁶ at any SF.
    */
  def qGraphHits(spark: SparkSession, sfDir: String): DataFrame = {
    // the edge list feeds FIVE plan positions (4 joins + the base);
    // without materialization the lineitem⋈orders join and distinct
    // re-run per branch — the qGraphPagerank localCheckpoint discipline.
    // Half-rounds (broadcast the dim-bounded vector, sum across the
    // edge list) are the shared [[hitsHalf]] shape; see [[hitsRound]]
    // for why the vectors broadcast and the final max is a global
    // window over the dim-bounded a2 vector rather than a
    // crossJoin(broadcast(agg(max))) branch.
    val edges = copurchaseEdges(spark, sfDir)
    val h1 = edges.groupBy("c").agg(count(lit(1)).as("h1"))
    val a1 = hitsHalf(edges, h1, "c", "p", "h1", "a1")
    val h2 = hitsHalf(edges, a1, "p", "c", "a1", "h2")
    val a2 = hitsHalf(edges, h2, "c", "p", "h2", "a2")
    a2.withColumn("mx", max(col("a2")).over(wAll))
      .select(col("p").as("partkey"), col("a2").as("authority"),
        expr("a2 * 1000 div mx").as("share_pm"))
      .orderBy(col("authority").desc, col("partkey"))
      .limit(10)
  }

  // ───────── convergence-loop graduation (round 10) ─────────

  /** Hard hop bound: Σ terms starts at ≤ (1−d)·10⁹ = 5·10⁸ < 2³⁰ and at
    * least halves per hop, so 30 hops reach exactly 0 on ANY graph. */
  private val PrHalfHops = 30

  /** Terms are additionally DRAINED: a term below t₀ div 1024 drops to
    * exactly 0 (a CASE both engines apply identically), so the empirical
    * hop count is ~log₂(1024) + graph diameter instead of ~log₂(t₀) —
    * corpus-size-INDEPENDENT — at the cost of truncating pr by at most
    * ~0.2% of t₀ per node (a deterministic definition, not an error:
    * the oracle computes the same drained series). */
  private val PrDrainShift = 1024L

  /** PageRank run to CONVERGENCE — the graduation of [[qGraphPagerank]]'s
    * fixed 3 iterations into a data-driven loop that still oracle-checks
    * exactly. The trick is the Neumann-series form with EXACT integer
    * terms: pr = (1−d)·Σₖ dᵏMᵏu evaluated as t₀ = ((1−d)·S) div n per
    * node (S = 10⁹ scale), tₖ₊₁(i) = (Σ_{j→i} tₖ(j) div deg(j)) div 2
    * (d = ½ — chosen precisely because halving gives a TERMINATION
    * PROOF), pr = Σ tₖ. Each round the GLOBAL term mass at most halves:
    * Σᵢ Σ_{j∈in(i)} ⌊tⱼ/degⱼ⌋ ≤ Σ tⱼ (node j's outflow ≤ tⱼ), and the
    * trailing div 2 halves that — so Σ tₖ ≤ 5·10⁸/2ᵏ, which hits 0 by
    * k = 30 on ANY graph at ANY corpus size. The Spark loop runs until
    * the term vector is exactly zero (a true convergence loop — the
    * drain floor below makes the empirical hop count ~log₂(1024) + the
    * graph diameter, independent of corpus size); the DuckDB oracle
    * unrolls the full 30 hops, and
    * because post-convergence terms are exactly 0, both sides produce
    * identical BIGINTs — no float, no rounding grid, no ε tolerance.
    * Scale: each round is one |edges| hash shuffle + the max(t) action
    * that materializes the lazy localCheckpoint (the
    * [[connectedComponents]] discipline); rounds are corpus-independent
    * (≤ 30 by construction), so the whole loop is O(30·|edges|).
    */
  def qPagerankConverge(spark: SparkSession, sfDir: String): DataFrame =
    pagerankConvergeWithHops(spark, sfDir)._1

  /** Exposes the hop count at exit so Wave10Spec can assert the loop
    * genuinely converges early (hops < [[PrHalfHops]]) rather than
    * silently running to the bound. */
  private[graft] def pagerankConvergeWithHops(
      spark: SparkSession, sfDir: String): (DataFrame, Int) = {
    // degree folded into the edge list ONCE and checkpointed EAGERLY
    // (concurrent AQE stages cannot re-derive a lazy copy), then laid
    // out by the per-hop join key d1 (round 13) inside the loop's scope,
    // so every hop's sort-merge join reads it exchange-free and
    // sort-free; nodes is checkpointed (count action + seed).
    val symDeg = Tables.localCheckpoint(
      degreeFolded(symmetric(nearDupEdges(spark, sfDir))))
    val n = layoutWidth(symDeg)
    val nodes = Tables.localCheckpoint(sampleNodes(spark, sfDir))
    val nNodes = nodes.count()
    val t0 = 500000000L / nNodes // (1−d)·10⁹ div n, exact long division
    val floor0 = math.max(1L, t0 / PrDrainShift)
    val state0 = Tables.localCheckpoint(nodes
      .select(col("doc_id"), lit(t0).as("t"), lit(t0).as("pr")), eager = false)
    def hop(edges: DataFrame, st: DataFrame): DataFrame = {
      val contrib = edges
        .join(st.select(col("doc_id").as("sid"), col("t")),
          col("d1") === col("sid"))
        .select(col("d2").as("nid"), expr("t div deg").as("c"))
        .groupBy("nid")
        .agg(expr("sum(c) div 2").as("raw"))
        .select(col("nid"),
          when(col("raw") < floor0, 0L).otherwise(col("raw")).as("tn"))
      st.join(contrib, st("doc_id") === contrib("nid"), "left")
        .select(st("doc_id"),
          coalesce(col("tn"), lit(0L)).as("t"),
          (col("pr") + coalesce(col("tn"), lit(0L))).as("pr"))
    }
    // two hops per round (the connectedComponents pairing): same
    // fixpoint, half the checkpoint + convergence-scan round-trips.
    // The INNER hop is checkpointed eagerly (round 13): the outer hop
    // references it twice (contribution build + the state join), and a
    // lazy/absent checkpoint let the two consumer stages each recompute
    // the inner hop's |edges| shuffle concurrently — one small action
    // barrier per round buys back a duplicated edge aggregation. AQE is
    // off inside the loop (the hitsConvergeWithIters rationale: every
    // loop stage is keyed on pre-partitioned or node-scaled inputs, and
    // per-stage re-planning cost ~2 extra driver round-trips per round —
    // JobProf measured 75 jobs for this loop with AQE on).
    val (state, r, _) = scopedLoop(spark, n) { in =>
      val edges = d1Layout(in(symDeg), n)
      rounds(in(state0), PrHalfHops / 2) { st =>
        hop(edges, Tables.localCheckpoint(hop(edges, st)))
      } { (next, _, _) => next.agg(max("t")).head().getLong(0) == 0L }
    }
    (state.select(col("doc_id"), col("pr").as("pr_e9")).orderBy("doc_id"),
      2 * r)
  }

  /** Same 30 hops unrolled — hops past the Spark loop's exact-zero exit
    * add 0 to every node, so the two sides agree BIGINT-for-BIGINT.
    * Every round CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    * reference, and each round references its predecessor twice — 2³⁰
    * expansions of the whole scan chain without the keyword (measured:
    * "Too many open files" before the query even plans). */
  val qPagerankConvergeSql: String = {
    def round_(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT n.doc_id,
        |    CASE WHEN coalesce(s.v, 0) < (SELECT th FROM nn) THEN 0
        |      ELSE coalesce(s.v, 0) END AS t,
        |    p.pr + CASE WHEN coalesce(s.v, 0) < (SELECT th FROM nn) THEN 0
        |      ELSE coalesce(s.v, 0) END AS pr
        |  FROM nodes n JOIN $prev p ON p.doc_id = n.doc_id
        |  LEFT JOIN (SELECT e.b AS doc_id, sum(t.t // d.deg) // 2 AS v
        |    FROM $prev t JOIN edges_m e ON e.a = t.doc_id
        |      JOIN deg d ON d.doc_id = t.doc_id
        |    GROUP BY e.b) s ON s.doc_id = n.doc_id)""".stripMargin
    val rounds = (1 to PrHalfHops)
      .map(k => round_(s"t${k - 1}", s"t$k")).mkString(",\n")
    s"""WITH
      |$edgesCte,
      |edges_m AS MATERIALIZED (SELECT a, b FROM edges),
      |deg AS MATERIALIZED (SELECT a AS doc_id, count(*) AS deg
      |  FROM edges_m GROUP BY a),
      |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM dt),
      |nn AS MATERIALIZED (SELECT 500000000 // count(*) AS t0,
      |  greatest(1, 500000000 // count(*) // $PrDrainShift) AS th
      |  FROM nodes),
      |t0 AS MATERIALIZED (SELECT doc_id, (SELECT t0 FROM nn) AS t,
      |  (SELECT t0 FROM nn) AS pr FROM nodes),
      |$rounds
      |SELECT doc_id, CAST(pr AS BIGINT) AS pr_e9 FROM t$PrHalfHops
      |ORDER BY doc_id""".stripMargin
  }

  /** Normalized HITS rounds (cap). */
  private val HitsCap = 8

  /** The customer→part co-purchase edge list, checkpointed: it feeds
    * every half-round of [[qGraphHits]] and both [[qHitsConverge]]
    * layouts; without materialization the lineitem⋈orders join and
    * distinct re-run per reference (the qGraphPagerank discipline). */
  private def copurchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.localCheckpoint(graft.Tables.t(spark, sfDir, "lineitem")
      .join(graft.Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct())

  /** AQE disabled on a [[Tables.scoped]] child, for LAYOUT CHECKPOINT
    * CREATION as well as the loops: Dataset.localCheckpoint captures the
    * physical plan's output partitioning into the LogicalRDD, but under
    * AQE the adaptive plan wrapper reports UnknownPartitioning (measured
    * on 4.1.2: AQE-on checkpoint → UnknownPartitioning(0); AQE-off →
    * hashpartitioning(key, n)) — so a pre-partitioned checkpoint built
    * under AQE silently re-exchanges at every consumer (ConcurrencySpec
    * pins both readings). */
  private val AqeOff = "spark.sql.adaptive.enabled" -> "false"

  /** Runs one loop on its own [[Tables.scoped]] clone with [[AqeOff]]
    * and the loop's own shuffles at width `n` (with AQE off the session
    * constant would fan every round back out to many micro-tasks).
    * `body` gets the clone's `in`, builds its layouts on the clone and
    * returns the [[rounds]] triple, whose state is rebound into the
    * caller. One clone per loop invocation, layouts included. */
  private def scopedLoop(spark: SparkSession, n: Int)(
      body: (DataFrame => DataFrame) => (DataFrame, Int, Boolean))
      : (DataFrame, Int, Boolean) = {
    var run = (0, false)
    val last = Tables.scoped(spark, AqeOff,
        "spark.sql.shuffle.partitions" -> n.toString) { in =>
      val (st, r, done) = body(in)
      run = (r, done)
      st
    }
    (last, run._1, run._2)
  }

  /** A loop layout's scale-adaptive width, NOT the session
    * shuffle-partition constant: ~2M (long, long) edges ≈ 32 MB per
    * partition, never below 1 (guide §2.2 — fewer, larger partitions; a
    * session-constant 32-way split made every round a 32-task stage of
    * task-launch overhead at sf0.1 while staying corpus-proportional at
    * cluster SFs). `edges` should be checkpointed: it is counted here,
    * then read by the layout. */
  private def layoutWidth(edges: DataFrame): Int =
    math.max(1L, edges.count() / 2000000L).toInt

  /** `edges` laid out for a loop keyed on d1: hash-partitioned at the
    * explicit width `n` (so the loop's shuffle width leaves the plan
    * alone), sorted by d1 and checkpointed EAGERLY. Build it inside the
    * loop's [[scopedLoop]], from edges rebound there. */
  private def d1Layout(edges: DataFrame, n: Int): DataFrame =
    Tables.localCheckpoint(edges.repartition(n, col("d1"))
      .sortWithinPartitions("d1"))

  /** [[copurchaseEdges]] cut TWICE at width `n`: hash-partitioned by
    * customer and by part — the [[qHitsConverge]] loop layout. Every
    * HITS half-round is `edges ⋈ broadcast(vec) → groupBy(c or p)`: a
    * broadcast join preserves the streamed side's partitioning, so a
    * half-round fed by the matching pre-partitioned copy plans NO
    * exchange at all — the per-half-round shuffle of the whole edge
    * list (16 of them across the 8-round loop) collapses into these two
    * up-front shuffles (guide §2.4: operations keyed the same way share
    * one exchange). Worth it only for the 8-round loop: [[qGraphHits]]'
    * fixed 2 iterations measured FASTER on the plain checkpoint (4
    * saved exchanges don't pay for 2 extra checkpoint builds). Build it
    * inside the loop's [[scopedLoop]], from edges rebound there. The two
    * cuts are independent single-action builds over the same
    * checkpoint, so they run CONCURRENTLY (guide §2.6 — overlap
    * independent jobs; 4.76 s vs 5.35 s sequential, sf0.1 on 4 cores):
    * by-part on a thread started for this call, by-customer here. */
  private def copurchaseLayouts(edges: DataFrame,
      n: Int): (DataFrame, DataFrame) = {
    def layout(key: String) =
      Tables.localCheckpoint(edges.repartition(n, col(key)))
    val byP = Tables.fork("graft-hits-layout")(layout("p"))
    val byC = layout("c")
    (byC, byP())
  }

  /** One normalized HITS round: h(c) = Σ_{p∈c} a(p) renormalized to
    * h·10⁶ div max(h), then a(p) = Σ_{c∋p} h(c) renormalized the same
    * way. The rank vectors are DIMENSION-bounded (|customers| / |parts|
    * rows of two longs), so each half-round joins |edges| against a
    * broadcast vector instead of sort-merging the edge list (§3.1), and
    * each renormalizing max is a global window over the dim-bounded
    * vector, NOT a crossJoin(broadcast(agg(max))) — that form consumed
    * the half-round vector twice and re-derived its whole join+agg
    * chain inside the broadcast build (round 12: exchange reuse did not
    * fire on the duplicated subtrees). Shared with [[qGraphHits]]'s
    * fixed 2-iteration chain via [[hitsHalf]] so the two cannot drift. */
  private def hitsHalf(edges: DataFrame, vec: DataFrame, joinKey: String,
      outKey: String, v: String, out: String): DataFrame =
    edges.join(broadcast(vec), joinKey)
      .groupBy(outKey).agg(sum(v).as(out))

  private val wAll = org.apache.spark.sql.expressions.Window.partitionBy()

  /** One normalized round over the pre-partitioned edge copies: the
    * h-half streams the by-customer copy (groupBy(c) exchange-free),
    * the a-half the by-part copy. */
  private def hitsRound(byC: DataFrame, byP: DataFrame,
      a: DataFrame): DataFrame = {
    val hn = hitsHalf(byC, a, "p", "c", "a", "h")
      .withColumn("hm", max(col("h")).over(wAll))
      .select(col("c"), expr("h * 1000000 div hm").as("h"))
    hitsHalf(byP, hn, "c", "p", "h", "a2")
      .withColumn("am", max(col("a2")).over(wAll))
      .select(col("p"), expr("a2 * 1000000 div am").as("a"))
  }

  private def hitsTop10(a: DataFrame): DataFrame =
    a.select(col("p").as("partkey"), col("a").as("authority_e6"))
      .orderBy(col("authority_e6").desc, col("partkey"))
      .limit(10)

  /** HITS run to CONVERGENCE on the customer→part co-purchase graph —
    * the [[qGraphHits]] graduation. Unnormalized HITS overflows, so each
    * round renormalizes IN INTEGERS: h(c) = Σ_{p∈c} a(p), then
    * h ← h·10⁶ div max(h); a(p) = Σ_{c∋p} h(c), then a ← a·10⁶ div
    * max(a). The loop exits early when the authority vector reaches an
    * EXACT fixpoint (aₖ = aₖ₋₁ for every part): a fixpoint of a
    * deterministic map persists, so stopping at round k < R provably
    * equals running all R rounds — which is exactly what the DuckDB
    * oracle does (R = [[HitsCap]] unrolled rounds). If no fixpoint
    * appears by R, both sides run R rounds — equal again. Either way
    * the check is BIGINT-exact with no tolerance. Scale: one |edges|
    * shuffle per half-round + two scalar max aggregates; the
    * fixpoint test is one lazy-checkpoint action per round.
    */
  def qHitsConverge(spark: SparkSession, sfDir: String): DataFrame =
    hitsConvergeWithIters(spark, sfDir)._1

  /** Exposes (result, rounds run, reached fixpoint) for Wave10Spec.
    *
    * Round-13 structure notes (guide §1 — measured, not guessed):
    *   - per-half-round edge-list exchanges are GONE (the
    *     [[copurchaseLayouts]] pre-partitioning; plan: the only exchanges
    *     left per round are the two 1-partition vector-max windows);
    *   - the per-round lazy localCheckpoint STAYS: a fully lazy 8-round
    *     unroll in one action was re-measured at 10.2 s warm vs 5.8 s —
    *     the deep nested-broadcast chain pays more in per-stage AQE
    *     scheduling + codegen than the checkpoint barriers cost;
    *   - probes stay on the last 3 rounds only (they are also the
    *     materializing actions; earlier probes cannot fire — measured
    *     first fixpoint at round 8 — and skipping one is output-neutral
    *     by construction: rounds past a fixpoint reproduce it, which is
    *     exactly the cap-unrolled DuckDB oracle). */
  private[graft] def hitsConvergeWithIters(
      spark: SparkSession, sfDir: String): (DataFrame, Int, Boolean) = {
    // the loop runs with AQE OFF at the layout width, layouts included
    // (AQE off so the checkpoints keep their partitioning): every loop
    // stage is dimension-bounded or pre-partitioned (no skew, nothing to
    // re-plan), and AQE's per-stage re-optimization added ~2 driver
    // round-trips per round (JobProf round 13: ~60 jobs vs 30, 9.5 s vs
    // 6.0 s warm — scheduling-bound, not data-bound). The loop's one
    // keyed exchange (the a₀ distinct) runs at the layout width, not
    // the session constant.
    val edges = copurchaseEdges(spark, sfDir)
    val n = layoutWidth(edges)
    val (last, r, fixed) = scopedLoop(spark, n) { in =>
      val (byC, byP) = copurchaseLayouts(in(edges), n)
      val a0 = Tables.localCheckpoint(byP.select(col("p")).distinct()
        .select(col("p"), lit(1000000L).as("a")), eager = false)
      rounds(a0, HitsCap)(hitsRound(byC, byP, _)) { (next, a, k) =>
        k > HitsCap - 3 && next.toDF("p", "na")
          .join(broadcast(a), "p")
          .filter(col("na") =!= col("a"))
          .isEmpty
      }
    }
    (hitsTop10(last), r, fixed)
  }

  /** h·10⁶ can overflow neither side: h ≤ |parts|·10⁶ ≤ ~10¹² at any
    * tested SF, ×10⁶ = 10¹⁸ < 2⁶³ — and DuckDB's sum() returns HUGEINT,
    * so the cast back to BIGINT happens only at the ≤ 10⁶ ratios. */
  val qHitsConvergeSql: String = {
    // MATERIALIZED everywhere — each round reads its predecessor and a
    // scalar max over itself; inlined CTEs would re-expand the whole
    // chain per reference (the qPagerankConvergeSql lesson)
    def round_(prev: String, k: Int): String =
      s"""h$k AS MATERIALIZED (SELECT c, sum(a) AS h
        |  FROM edges JOIN $prev USING (p) GROUP BY c),
        |hn$k AS MATERIALIZED (SELECT c,
        |  CAST(h * 1000000 // (SELECT max(h) FROM h$k) AS BIGINT) AS h
        |  FROM h$k),
        |a$k AS MATERIALIZED (SELECT p, sum(h) AS a2
        |  FROM edges JOIN hn$k USING (c) GROUP BY p),
        |an$k AS MATERIALIZED (SELECT p,
        |  CAST(a2 * 1000000 // (SELECT max(a2) FROM a$k) AS BIGINT) AS a
        |  FROM a$k)""".stripMargin
    val rounds = (1 to HitsCap).map(k =>
      round_(if (k == 1) "an0" else s"an${k - 1}", k)).mkString(",\n")
    s"""WITH edges AS MATERIALIZED (SELECT DISTINCT o_custkey AS c,
      |    l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |an0 AS MATERIALIZED (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS a
      |  FROM edges),
      |$rounds
      |SELECT p AS partkey, a AS authority_e6 FROM an$HitsCap
      |ORDER BY authority_e6 DESC, partkey LIMIT 10""".stripMargin
  }

  /** Synchronous label-propagation community rounds (cap). */
  private val LpaCap = 5

  /** Label-propagation communities over the verified near-dup graph —
    * the third converge-or-cap loop: nodes start from 16 coarse seed
    * labels (doc_id % 16), and each synchronous round every node adopts
    * the MODE of its neighbors' labels plus its own (self-vote —
    * the damping that prevents classic LPA bipartite oscillation), ties
    * to the smallest label. Mode + smallest-label tiebreak is exact
    * integer voting, so rounds are engine-identical; the Spark loop
    * exits at the exact fixpoint (labels stop changing), the oracle
    * unrolls [[LpaCap]] rounds — equal either way by the
    * [[qHitsConverge]] argument. Near-dup cliques converge in 1–2
    * rounds (majority seed wins, then self-stabilizes); isolated nodes
    * keep their seed. Scale: one \|edges\|+\|nodes\| shuffle per round
    * into a (node, label)-keyed count — the Pregel envelope again.
    */
  def qCommunityLpa(spark: SparkSession, sfDir: String): DataFrame =
    communityLpaWithIters(spark, sfDir)._1

  private[graft] def communityLpaWithIters(
      spark: SparkSession, sfDir: String): (DataFrame, Int, Boolean) = {
    // same loop discipline as pagerankConvergeWithHops (round 13): the
    // edge list is checkpointed EAGERLY (a lazy copy was re-derived by
    // concurrent consumer stages), then laid out by the per-round join
    // key d1; the loop itself runs with AQE off and its shuffles at the
    // layout's width.
    val sym = Tables.localCheckpoint(symmetric(nearDupEdges(spark, sfDir)))
    val n = layoutWidth(sym)
    val labels0 = Tables.localCheckpoint(sampleNodes(spark, sfDir)
      .withColumn("label", col("doc_id") % 16))
    val (last, r, fixed) = scopedLoop(spark, n) { in =>
      val edges = d1Layout(in(sym), n)
      rounds(in(labels0), LpaCap) { labels =>
        val votes = edges
          .join(labels.select(col("doc_id").as("src"), col("label")),
            edges("d1") === col("src"))
          .select(col("d2").as("nid"), col("label"))
          .unionAll(labels.select(col("doc_id").as("nid"), col("label")))
        // fixpoint probe FUSED into the round (round 13, guide §1/§2.4):
        // the new label rides with a changed-vs-previous flag (left join —
        // a nid absent from the previous vector contributes 0, exactly
        // the old inner-join probe's semantics), so ONE aggregate action
        // both materializes the round's lazy checkpoint and answers the
        // convergence test — the separate join+isEmpty job per round is
        // gone.
        votes.groupBy("nid", "label")
          .agg(count(lit(1)).as("cnt"))
          .groupBy("nid")
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("label")))
            .getField("label").as("label"))
          .select(col("nid").as("doc_id"), col("label"))
          .join(labels.select(col("doc_id"), col("label").as("prev")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("label"),
            when(col("prev").isNull, 0L)
              .otherwise((col("label") =!= col("prev")).cast("long"))
              .as("chg"))
      } { (next, _, _) => next.agg(sum("chg")).head().getLong(0) == 0L }
    }
    val sizes = last.groupBy("label").agg(count(lit(1)).as("csize"))
    (last.join(sizes, "label")
      .select(col("doc_id"), col("label").as("community"), col("csize"))
      .orderBy("doc_id"), r, fixed)
  }

  val qCommunityLpaSql: String = {
    def round_(prev: String, k: Int): String =
      s"""l$k AS MATERIALIZED (SELECT nid AS doc_id, label FROM (
        |  SELECT nid, label,
        |    row_number() OVER (PARTITION BY nid
        |      ORDER BY cnt DESC, label) AS rk
        |  FROM (SELECT nid, label, count(*) AS cnt FROM (
        |      SELECT e.b AS nid, p.label FROM $prev p
        |        JOIN edges_m e ON e.a = p.doc_id
        |      UNION ALL SELECT doc_id, label FROM $prev) v
        |    GROUP BY nid, label) c) r WHERE rk = 1)""".stripMargin
    val rounds = (1 to LpaCap)
      .map(k => round_(s"l${k - 1}", k)).mkString(",\n")
    s"""WITH
      |$edgesCte,
      |edges_m AS MATERIALIZED (SELECT a, b FROM edges),
      |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM dt),
      |l0 AS MATERIALIZED (SELECT doc_id, doc_id % 16 AS label FROM nodes),
      |$rounds,
      |sz AS (SELECT label, count(*) AS csize FROM l$LpaCap GROUP BY label)
      |SELECT l.doc_id, l.label AS community, sz.csize
      |FROM l$LpaCap l JOIN sz USING (label)
      |ORDER BY doc_id""".stripMargin
  }

  val qGraphHitsSql: String =
    """WITH edges AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |h1 AS (SELECT c, count(*) AS h1 FROM edges GROUP BY c),
      |a1 AS (SELECT p, sum(h1) AS a1 FROM edges JOIN h1 USING (c)
      |  GROUP BY p),
      |h2 AS (SELECT c, sum(a1) AS h2 FROM edges JOIN a1 USING (p)
      |  GROUP BY c),
      |a2 AS (SELECT p, sum(h2) AS a2 FROM edges JOIN h2 USING (c)
      |  GROUP BY p),
      |mx AS (SELECT max(a2) AS mx FROM a2)
      |SELECT p AS partkey, CAST(a2 AS BIGINT) AS authority,
      |  CAST(a2 * 1000 // mx AS BIGINT) AS share_pm
      |FROM a2, mx
      |ORDER BY authority DESC, partkey LIMIT 10""".stripMargin
}
