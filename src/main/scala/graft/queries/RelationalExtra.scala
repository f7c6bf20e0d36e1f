package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-3 relational breadth (SURVEY.md §2.14): gaps-and-islands,
  * regression/correlation aggregates, calendar densification, zone-map
  * partition stats. Scale notes inline per operator.
  */
object RelationalExtra {

  /** Gaps-and-islands: per customer, consecutive orders ≤30 days apart
    * form one island (lag → new-island flag → running flag sum as island
    * id). One shuffle on o_custkey; every window sorts only one
    * customer's orders, so the plan is skew-safe at any corpus size.
    */
  def qGapsIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val byCust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(spark, sfDir, "orders")
      .withColumn("prev", lag("o_orderdate", 1).over(byCust))
      .withColumn("flag",
        when(col("prev").isNull
          || datediff(col("o_orderdate"), col("prev")) > 30, 1).otherwise(0))
      .withColumn("island", sum("flag").over(
        byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("o_custkey", "island")
      .agg(count(lit(1)).as("n_orders"),
        min("o_orderdate").as("start_date"),
        max("o_orderdate").as("end_date"),
        datediff(max("o_orderdate"), min("o_orderdate")).cast("long").as("span_days"))
      .orderBy("o_custkey", "island")
  }

  val qGapsIslandsSql: String =
    """WITH f AS (SELECT o_custkey, o_orderkey, o_orderdate,
      |    CASE WHEN lag(o_orderdate) OVER w IS NULL
      |      OR date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
      |        CAST(o_orderdate AS DATE)) > 30 THEN 1 ELSE 0 END AS flag
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |i AS (SELECT *, CAST(sum(flag) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS island
      |  FROM f)
      |SELECT o_custkey, island, count(*) AS n_orders,
      |  min(o_orderdate) AS start_date, max(o_orderdate) AS end_date,
      |  date_diff('day', CAST(min(o_orderdate) AS DATE),
      |    CAST(max(o_orderdate) AS DATE)) AS span_days
      |FROM i GROUP BY o_custkey, island
      |ORDER BY o_custkey, island""".stripMargin

  /** Regression / correlation aggregates per return flag — corr, both
    * covariances, OLS slope/intercept/r². All are single-pass mergeable
    * co-moment aggregates (partial+final HashAggregate, no row shuffle
    * beyond the group key), exactly how a 100 TB profile pass runs.
    */
  def qCorrStats(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(corr("l_quantity", "l_extendedprice"), 4).as("corr_qp"),
        round(covar_pop("l_quantity", "l_extendedprice"), 4).as("covar_p"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_s"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
          .as("icept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2"))
      .orderBy("l_returnflag")

  val qCorrStatsSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
      |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
      |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
      |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Calendar gap-fill densification: month × priority grid (generated
    * analytically from the fact's min/max — never materialized as a
    * table) left-joined against pre-aggregated monthly counts. The fact
    * table aggregates BEFORE the join, so the join input is |months| ×
    * |priorities| regardless of corpus size, and the generated dimension
    * side broadcasts.
    */
  def qSeqFill(spark: SparkSession, sfDir: String): DataFrame = {
    val od = t(spark, sfDir, "orders")
      .select(date_trunc("month", col("o_orderdate")).as("mon"),
        col("o_orderpriority").as("prio"))
    val months = od.agg(min("mon").as("lo"), max("mon").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("mon"))
    val prios = od.select("prio").distinct()
    val actual = od.groupBy("mon", "prio").agg(count(lit(1)).as("cnt"))
    broadcast(months.crossJoin(prios))
      .join(actual, Seq("mon", "prio"), "left")
      .select(col("mon"), col("prio"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        when(col("cnt").isNull, 1).otherwise(0).as("filled"))
      .orderBy("mon", "prio")
  }

  val qSeqFillSql: String =
    """WITH od AS (SELECT date_trunc('month', o_orderdate) AS mon,
      |    o_orderpriority AS prio FROM orders),
      |months AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH))
      |    AS mon FROM (SELECT min(mon) AS lo, max(mon) AS hi FROM od)),
      |grid AS (SELECT mon, prio FROM months
      |  CROSS JOIN (SELECT DISTINCT prio FROM od)),
      |actual AS (SELECT mon, prio, count(*) AS cnt FROM od GROUP BY 1, 2)
      |SELECT mon, prio, coalesce(cnt, 0) AS n,
      |  CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS filled
      |FROM grid LEFT JOIN actual USING (mon, prio)
      |ORDER BY mon, prio""".stripMargin

  /** Zone-map stats per layout partition (ship month): row count, join-key
    * min/max, distinct parts, price sum — the per-file statistics a
    * lakehouse writer records so later scans can prune (data skipping).
    * One partial-aggregable pass; at 100 TB this runs as part of the
    * write, one stats row per output partition.
    */
  def qPartitionStats(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(date_trunc("month", col("l_shipdate")).as("part_month"))
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
        countDistinct("l_partkey").as("n_parts"),
        round(sum("l_extendedprice"), 4).as("sum_price"))
      .orderBy("part_month")

  /** Two-phase salted aggregation: the skew-safe shape for a hot group
    * key. Phase 1 aggregates on (key, salt) — a hot key's rows spread
    * over 8 reducers instead of melting one — phase 2 merges the 8
    * partials per key. Result ≡ the plain groupBy (the oracle IS the
    * equality check). Measures are exact integers (cents / unit
    * quantities), so the re-association is bit-exact on any engine.
    */
  def qSkewAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("c"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .groupBy("l_returnflag")
      .agg(sum("c").as("n_items"),
        sum("cents").as("revenue_cents"),
        sum("qty").as("sum_qty"))
      .orderBy("l_returnflag")

  val qSkewAggSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val qPartitionStatsSql: String =
    """SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
      |    AS part_month,
      |  count(*) AS n_rows,
      |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  round(sum(l_extendedprice), 4) AS sum_price
      |FROM lineitem GROUP BY part_month ORDER BY part_month""".stripMargin

  /** GROUPING flags on a rollup: subtotal rows carry an explicit level
    * id (2·grouping(flag) + grouping(status)) instead of ambiguous
    * NULLs — the BI-tool contract for rollup consumers. Keys coalesce
    * to 'ALL' so the output is NULL-free (the cross-engine NULL-order
    * hazard never arises). */
  def qAggGrouping(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        count(lit(1)).as("n"),
        (grouping("l_returnflag") * 2 + grouping("l_linestatus"))
          .cast("long").as("lvl"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("lvl"), col("qty"), col("n"))
      .orderBy("lvl", "flag", "status")

  val qAggGroupingSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |  coalesce(l_linestatus, 'ALL') AS status,
      |  CAST(2 * grouping(l_returnflag) + grouping(l_linestatus)
      |    AS BIGINT) AS lvl,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY lvl, flag, status""".stripMargin

  /** URL parse surface: synthesize a URL per document row, then
    * extract host / path / one query parameter with Spark's native
    * `parse_url` (codegen'd). The oracle mirrors with anchored
    * regexes — same component grammar. One narrow pass. */
  def qFnUrl(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.org/"),
          col("lang"), lit("/doc/"), col("doc_id").cast("string"),
          lit("?id="), col("doc_id").cast("string"),
          lit("&lang="), col("lang")))
      .select(col("doc_id"), col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("lang")).as("q_lang"))
      .orderBy("doc_id")

  val qFnUrlSql: String =
    """WITH u AS (SELECT doc_id,
      |    'https://' || source || '.example.org/' || lang || '/doc/'
      |      || doc_id || '?id=' || doc_id || '&lang=' || lang AS url
      |  FROM documents)
      |SELECT doc_id, url,
      |  regexp_extract(url, '^https://([^/]+)', 1) AS host,
      |  regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
      |  regexp_extract(url, '[?&]lang=([^&]*)', 1) AS q_lang
      |FROM u ORDER BY doc_id""".stripMargin

  /** Skyline (pareto frontier) over part: maximize p_size, minimize
    * p_retailprice; a part survives iff no other part has size >= AND
    * price <= with at least one strict. NOT the naive O(n²) anti-join:
    * sizes are first collapsed to a per-size min price (one bounded
    * groupBy — #distinct sizes rows), the "any larger size is cheaper"
    * test is a running min over that TINY aggregate (window input is
    * bounded, not fact-sized), and the verdict is broadcast back onto
    * the parts. The oracle cross-checks with the literal NOT EXISTS
    * dominance formulation.
    */
  def qSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    val bySize = t(spark, sfDir, "part")
      .groupBy("p_size").agg(min("p_retailprice").as("mn_eq"))
    // min price over STRICTLY larger sizes: one row per size, so a desc
    // rows-frame ending one row before current is exactly "size > mine"
    val mnGt = bySize.withColumn("mn_gt",
      min("mn_eq").over(Window.orderBy(desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    t(spark, sfDir, "part")
      .join(broadcast(mnGt), "p_size")
      .filter(col("p_retailprice") === col("mn_eq") &&
        (col("mn_gt").isNull || col("mn_gt") > col("p_retailprice")))
      .select("p_partkey", "p_size", "p_retailprice")
      .orderBy("p_size", "p_partkey")
  }

  val qSkylineSql: String =
    """SELECT p_partkey, p_size, p_retailprice
      |FROM part p WHERE NOT EXISTS (
      |  SELECT 1 FROM part o
      |  WHERE o.p_size >= p.p_size AND o.p_retailprice <= p.p_retailprice
      |    AND (o.p_size > p.p_size OR o.p_retailprice < p.p_retailprice))
      |ORDER BY p_size, p_partkey""".stripMargin

  /** Column profiling (the ANALYZE-TABLE shape): per numeric lineitem
    * column, row/null/exact-NDV counts plus min/max, one row per
    * column. Plan (round 11): THREE single-distinct branches unioned —
    * the multi-countDistinct single-aggregate form Expands every row
    * 4× (one projection per distinct group + one for min/max) before
    * the partial agg, shuffling 2.4M interleaved-null rows at sf0.1;
    * a SINGLE countDistinct per branch takes Spark's two-level
    * distinct-aggregate rewrite instead (map-side dedup on the value,
    * no Expand), and each branch scans one pruned column. Measured
    * 2.4 → 0.5 s warm at sf0.1; branch form matches the oracle SQL
    * one-for-one. At warehouse scale swap countDistinct for
    * approx_count_distinct and each branch loses its dedup shuffle
    * entirely.
    */
  def qStatsProfile(spark: SparkSession, sfDir: String): DataFrame = {
    def branch(c: String): DataFrame =
      t(spark, sfDir, "lineitem")
        .agg(count(lit(1)).as("n"), countDistinct(c).as("ndv"),
          round(min(c).cast("double"), 4).as("mn"),
          round(max(c).cast("double"), 4).as("mx"))
        .select(lit(c).as("col"), col("n"), col("ndv"), col("mn"), col("mx"))
    branch("l_quantity")
      .unionAll(branch("l_extendedprice"))
      .unionAll(branch("l_discount"))
      .orderBy("col")
  }

  val qStatsProfileSql: String =
    """SELECT 'l_quantity' AS col, count(*) AS n,
      |  count(DISTINCT l_quantity) AS ndv,
      |  round(CAST(min(l_quantity) AS DOUBLE), 4) AS mn,
      |  round(CAST(max(l_quantity) AS DOUBLE), 4) AS mx FROM lineitem
      |UNION ALL
      |SELECT 'l_extendedprice', count(*), count(DISTINCT l_extendedprice),
      |  round(CAST(min(l_extendedprice) AS DOUBLE), 4),
      |  round(CAST(max(l_extendedprice) AS DOUBLE), 4) FROM lineitem
      |UNION ALL
      |SELECT 'l_discount', count(*), count(DISTINCT l_discount),
      |  round(CAST(min(l_discount) AS DOUBLE), 4),
      |  round(CAST(max(l_discount) AS DOUBLE), 4) FROM lineitem
      |ORDER BY col""".stripMargin

  /** Deterministic uniform k-sample (reservoir-equivalent): rank every
    * order by a content hash and keep the k smallest — the distributed
    * replacement for driver-side reservoir state. orderBy+limit compiles
    * to TakeOrderedAndProject (per-partition top-k, then a k-row merge
    * on one reducer — no global sort materialization). The md5-prefix
    * trick is the q_split_train precedent for an engine-portable hash.
    */
  def qSampleReservoir(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .withColumn("hk",
        substring(md5(col("o_orderkey").cast("string")), 1, 15))
      .orderBy("hk", "o_orderkey")
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  val qSampleReservoirSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM (
      |  SELECT * FROM orders
      |  ORDER BY substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15),
      |    o_orderkey
      |  LIMIT 100)
      |ORDER BY o_orderkey""".stripMargin

  /** Weighted k-sample WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * each doc draws u ∈ (0,1] from its content hash (the 1e6-grid
    * md5Bucket — engine-portable) and is ranked by the exponential key
    * ln(1/u)/w with w = n_chars; the 50 SMALLEST keys are an exact
    * weight-proportional without-replacement sample — the training-mix
    * sampler for "prefer longer/higher-quality docs" draws. One narrow
    * pass compiling to TakeOrderedAndProject (per-partition heaps + a
    * 50-row merge — no global sort, no sequential reservoir state),
    * distributed-by-construction at any corpus size. ln(1/u) (not
    * -ln u) keeps u = 1 at +0.0 — a -0.0 could hash differently
    * cross-engine; the ranked key is scaled ×1e6, rounded to the
    * round(4) house grid, and doc_id-tiebroken so the order is total.
    */
  def qSampleWeighted(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .withColumn("u",
        (graft.Tables.md5Bucket(col("text")) % 1000000L + 1L)
          .cast("double") / 1000000.0)
      .withColumn("ekey",
        round(log(lit(1.0) / col("u")) / col("n_chars") * 1000000.0, 4))
      .orderBy("ekey", "doc_id")
      .limit(50)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("u"), 6).as("u"), col("ekey"))
      .orderBy("ekey", "doc_id")

  val qSampleWeightedSql: String =
    """WITH s AS (SELECT doc_id, lang, n_chars,
      |    ((('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000) + 1)
      |      / 1000000.0 AS u
      |  FROM documents)
      |SELECT doc_id, lang, n_chars, round(u, 6) AS u,
      |  round(ln(1.0 / u) / n_chars * 1000000.0, 4) AS ekey
      |FROM s ORDER BY ekey, doc_id LIMIT 50""".stripMargin

  /** Bitmap exact distinct-count: doc_ids bucketed 64-per-word, a
    * bit_or-merged Long bitmap per (lang, bucket), popcounts summed per
    * lang. The OLAP bitmap-index pattern: both aggregates are
    * partial-aggregable (bit_or and sum are commutative monoids), so
    * count-distinct costs one 8-byte word per 64 ids on the wire instead
    * of shuffling raw ids — and the (lang, bucket) partials are
    * mergeable across segments/days, unlike count(DISTINCT). The oracle
    * is the plain count(DISTINCT) the bitmap must equal exactly.
    */
  def qAggBitmap(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("lang"), (col("doc_id") / 64).cast("long").as("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 64 AS INT))")
          .as("bit"))
      .groupBy("lang", "bucket")
      .agg(expr("bit_or(bit)").as("word"))
      .groupBy("lang")
      .agg(sum(expr("bit_count(word)")).cast("long").as("n_docs"),
        count(lit(1)).as("n_words"))
      .orderBy("lang")

  val qAggBitmapSql: String =
    """SELECT lang, count(DISTINCT doc_id) AS n_docs,
      |  count(DISTINCT doc_id // 64) AS n_words
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Market-basket brand affinity: top-20 brand pairs by lift (observed
    * co-basket frequency over the independence expectation, integer
    * ppm). The self-join pairs only WITHIN an order — per-order pair
    * expansion is bounded by the basket's distinct brands (≤ 25), so the
    * join output is |orders|·O(brands²/2), linear in the fact table; the
    * margin counts and order total are brand-bounded broadcasts. Lift is
    * exact integer arithmetic: (c12 · N · 10⁶) div (c1 · c2).
    */
  // Persisted per (session, sfDir) like PipelinePlus.pairsCache: a fresh
  // .persist() per invocation would leak one cached copy into storage
  // memory on every bench/test run of this query (round-3 ADVICE).
  private val basketsCache =
    graft.Tables.registerCache()

  def qBasketLift(spark: SparkSession, sfDir: String): DataFrame = {
    // One fact-table pass: per-order sorted distinct brand sets via a
    // partial-aggregable collect_set (ONE shuffle, map-side combined).
    // Margins, the order total, and the pair expansion all derive from
    // this TINY table (|orders| rows × ≤25 brands), persisted so the
    // three branches don't rescan the fact side — pairs expand IN-ROW
    // (sorted array, i<j) instead of through an ok-keyed self-join, so
    // no corpus-sized join exists anywhere in the plan. The oracle keeps
    // the self-join formulation: two algorithms, one answer.
    val baskets = graft.Tables.memo(basketsCache, spark, sfDir)(
      t(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(t(spark, sfDir, "part")
          .select(col("p_partkey"), col("p_brand").as("brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("ok")
        .agg(sort_array(collect_set(col("brand"))).as("brands"))
        .persist())
    val n = baskets.select(count(lit(1)).as("n_orders"))
    val cb = baskets.select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("c"))
    val pairs = baskets.select(explode(expr(
      """flatten(transform(brands, (x, i) ->
        |  transform(slice(brands, i + 2, size(brands)),
        |    y -> named_struct('b1', x, 'b2', y))))""".stripMargin)).as("p"))
      .select(col("p.b1").as("b1"), col("p.b2").as("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("c12"))
    pairs
      .join(broadcast(cb.select(col("brand").as("b1"), col("c").as("c1"))), "b1")
      .join(broadcast(cb.select(col("brand").as("b2"), col("c").as("c2"))), "b2")
      .crossJoin(broadcast(n))
      .select(col("b1"), col("b2"), col("c12"), col("c1"), col("c2"),
        // decimal(38) numerator: c12 grows with the order count, so
        // c12 · n_orders · 10⁶ blows through BIGINT around TPC-H sf15
        // (ANSI: ArithmeticException; non-ANSI: silent negative lifts).
        // Exact decimal widening keeps the same integral value; the
        // oracle widens identically via HUGEINT.
        expr("(cast(c12 as decimal(38,0)) * n_orders * 1000000)" +
          " div (cast(c1 as decimal(38,0)) * c2)").as("lift_ppm"))
      .orderBy(desc("lift_ppm"), asc("b1"), asc("b2"))
      .limit(20)
  }

  /** Rolling exact median of purchase values over a 50-row frame per
    * event type — the windowed-aggregate (non-ranking) surface: an
    * ORDER-BY window with a bounded ROWS frame carrying a true aggregate
    * function. The frame is row-bounded so per-row cost is O(50)
    * regardless of corpus size, and the window partitions on event_type
    * with a total (tus, event_id) order. Spark's exact-interpolation
    * `percentile` matches DuckDB's median/quantile_cont
    * (q_agg_percentile precedent).
    */
  def qWinPercentile(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(asc("tus"), asc("event_id"))
      .rowsBetween(-49, Window.currentRow)
    graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("event_type"), col("value"),
        expr("unix_micros(ts)").as("tus"))
      // Bound the window INPUT, not just the output: after the
      // purchase filter the partition key is a constant, so the window
      // would otherwise funnel the whole purchase stream through ONE
      // sort task (the q_shard_pack scale-killer this file's qRfm note
      // warns about). The frame only looks backwards and the output is
      // the first 5000 rows of the SAME total order, so rows past 5000
      // cannot affect any emitted value — TakeOrdered (per-partition
      // heap + merge) prunes them distributively, and the single-
      // partition window then runs over ≤5000 rows at any corpus size.
      .orderBy("tus", "event_id")
      .limit(5000)
      .withColumn("roll_med",
        round(expr("percentile(value, 0.5D)").over(w), 4))
      .select("event_id", "event_type", "roll_med")
      .orderBy("tus", "event_id")
  }

  val qWinPercentileSql: String =
    """WITH e AS (SELECT event_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      |  FROM events WHERE event_type = 'purchase')
      |SELECT event_id, event_type,
      |  round(median(value) OVER (PARTITION BY event_type
      |    ORDER BY tus, event_id
      |    ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 4) AS roll_med
      |FROM e ORDER BY tus, event_id LIMIT 5000""".stripMargin

  val qBasketLiftSql: String =
    """WITH ob AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
      |cb AS (SELECT brand, count(*) AS c FROM ob GROUP BY brand),
      |pairs AS (SELECT a.brand AS b1, b.brand AS b2, count(*) AS c12
      |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
      |  GROUP BY 1, 2)
      |SELECT b1, b2, c12, c1.c AS c1, c2.c AS c2,
      |  CAST((CAST(c12 AS HUGEINT) * n.n_orders * 1000000)
      |    // (CAST(c1.c AS HUGEINT) * c2.c) AS BIGINT) AS lift_ppm
      |FROM pairs JOIN cb c1 ON b1 = c1.brand
      |JOIN cb c2 ON b2 = c2.brand CROSS JOIN n
      |ORDER BY lift_ppm DESC, b1, b2 LIMIT 20""".stripMargin

  // ───────── supplier concentration (HHI) per brand ─────────

  /** Herfindahl–Hirschman concentration of supply per brand — Σ of
    * squared supplier shares of shipped quantity, the single-source-risk
    * audit (HHI → 1: one supplier owns the brand; → 1/n: evenly
    * spread). l_quantity is integral by the data contract, so shares
    * are ratios of exact BIGINTs and HHI = Σq_s²/Q² takes ONE double
    * division per brand; the top-supplier share ships as integer ppm.
    * The fact table aggregates to the bounded |brand|×|supplier|
    * relation first; every window runs over that relation. Scale: one
    * partial-aggregable fact pass + bounded-grid windows.
    */
  def qHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val bs = t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "part")
        .select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    bs.groupBy("p_brand")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("q").as("total_qty"),
        round(sum(col("q") * col("q")) /
          (sum("q") * sum("q")).cast("double"), 6).as("hhi"),
        expr("max(q) * 1000000 div sum(q)").as("top_share_ppm"))
      .orderBy("p_brand")
  }

  val qHhiSql: String =
    """WITH bs AS (SELECT p_brand, l_suppkey,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, l_suppkey)
      |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  CAST(sum(q) AS BIGINT) AS total_qty,
      |  round(sum(q * q) / CAST(sum(q) * sum(q) AS DOUBLE), 6) AS hhi,
      |  CAST(max(q) * 1000000 // sum(q) AS BIGINT) AS top_share_ppm
      |FROM bs GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ───────── log-log price elasticity per brand ─────────

  /** Price elasticity of demand per brand — the slope of ln(quantity)
    * on ln(unit price) across a brand's line items (the constant-
    * elasticity log-log regression; slope ≈ %Δqty per %Δprice). The
    * brand dimension broadcasts onto the fact scan (|part| rows), the
    * regression runs through the codegen'd `regr_slope`/`regr_r2`
    * partial aggregates — one fact pass, no window, no sort — and both
    * ln() arguments are strictly positive by the quantity/price
    * domains. round(4) on the two regression doubles. Scale:
    * broadcast-join + partial-aggregable regression, the same shape at
    * any corpus size.
    */
  def qElasticity(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "part")
        .select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), log(col("l_quantity")).as("lq"),
        log(col("l_extendedprice") / col("l_quantity")).as("lp"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        round(expr("regr_slope(lq, lp)"), 4).as("elasticity"),
        round(expr("regr_r2(lq, lp)"), 4).as("r2"))
      .orderBy("p_brand")

  val qElasticitySql: String =
    """WITH f AS (SELECT p_brand, ln(l_quantity) AS lq,
      |    ln(l_extendedprice / l_quantity) AS lp
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT p_brand, count(*) AS n,
      |  round(regr_slope(lq, lp), 4) AS elasticity,
      |  round(regr_r2(lq, lp), 4) AS r2
      |FROM f GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ───────── Spearman rank correlation (bounded entity relation) ─────────

  /** Spearman rank correlation between per-supplier shipped quantity and
    * revenue — the monotone-association companion to [[qCorrStats]]'s
    * Pearson view (Spearman is outlier-robust and catches nonlinear
    * monotone relations Pearson understates). The fact table aggregates
    * to the BOUNDED supplier relation first (|suppliers| rows — the
    * q_seq_fill grid discipline), the per-supplier sums land on the
    * round(2) money grid so rank order is engine-stable, ranks are
    * tie-averaged analytically (rank() + (ties−1)/2 — no non-total sort
    * anywhere), and Spearman = Pearson over the rank pairs via the
    * codegen'd corr aggregate. Pearson over the raw sums ships alongside
    * for the contrast. Scale: one partial-aggregable fact pass; every
    * window runs over the bounded supplier relation.
    */
  def qCorrSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    val sup = t(spark, sfDir, "lineitem")
      .groupBy("l_suppkey")
      .agg(round(sum("l_quantity"), 2).as("x"),
        round(sum("l_extendedprice"), 2).as("y"))
    val ranked = sup
      .withColumn("rx", rank().over(Window.orderBy("x")) +
        (count(lit(1)).over(Window.partitionBy("x")) - 1L) / lit(2.0))
      .withColumn("ry", rank().over(Window.orderBy("y")) +
        (count(lit(1)).over(Window.partitionBy("y")) - 1L) / lit(2.0))
    ranked.agg(count(lit(1)).as("n_suppliers"),
      round(corr("rx", "ry"), 4).as("spearman"),
      round(corr("x", "y"), 4).as("pearson"))
  }

  val qCorrSpearmanSql: String =
    """WITH sup AS (SELECT l_suppkey, round(sum(l_quantity), 2) AS x,
      |    round(sum(l_extendedprice), 2) AS y
      |  FROM lineitem GROUP BY l_suppkey),
      |r AS (SELECT x, y,
      |    rank() OVER (ORDER BY x) +
      |      (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
      |    rank() OVER (ORDER BY y) +
      |      (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
      |  FROM sup)
      |SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
      |  round(corr(rx, ry), 4) AS spearman,
      |  round(corr(x, y), 4) AS pearson
      |FROM r ORDER BY spearman""".stripMargin

  // ───────── Kendall tau-b (bounded-grid pair identity) ─────────

  /** Kendall tau-b between per-nation shipped quantity and revenue —
    * the concordance view completing the correlation kit
    * ([[qCorrStats]] Pearson, [[qCorrSpearman]] rank-Pearson): tau
    * counts pairwise order agreements, so it is the statistic actually
    * bound to "if X ranks higher, does Y?" and is robust to any
    * monotone rescaling. Quantity sums are exact BIGINTs (quantities
    * are integral), revenue lands on the round(2) money grid, pair
    * signs and the concordant/discordant/tie counts are exact ints,
    * and tau-b = (C − D)/√((n₀−t_x)(n₀−t_y)) takes ONE sqrt at the
    * end. Scale: tau's O(n²) pair identity is reserved for the
    * BOUNDED nation grid (25 rows → 300 pairs, fixed at every SF);
    * the fact stream aggregates to that grid in one
    * partial-aggregable pass with the supplier dim broadcast. For
    * unbounded entities the rank-window [[qCorrSpearman]] is the
    * scale-correct monotone statistic — the two operators are
    * deliberately complementary.
    */
  def qCorrKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val byNation = t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "supplier")
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(sum(col("l_quantity").cast("long")).as("x"),
        round(sum("l_extendedprice"), 2).as("y"))
    val p = byNation.select(col("s_nationkey").as("k"), col("x"), col("y"))
    p.as("a").join(broadcast(p.as("b")), col("a.k") < col("b.k"))
      .select(signum((col("b.x") - col("a.x")).cast("double")).as("sx"),
        signum(col("b.y") - col("a.y")).as("sy"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("sx") === 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ties_y"))
      .withColumn("tau_b",
        round((col("concordant") - col("discordant")) /
          sqrt(((col("n_pairs") - col("ties_x")) *
            (col("n_pairs") - col("ties_y"))).cast("double")), 4))
  }

  val qCorrKendallSql: String =
    """WITH bn AS (SELECT s_nationkey,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
      |    round(sum(l_extendedprice), 2) AS y
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1),
      |s AS (SELECT sign(b.x - a.x) AS sx, sign(b.y - a.y) AS sy
      |  FROM bn a JOIN bn b ON a.s_nationkey < b.s_nationkey),
      |w AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS concordant,
      |    CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS discordant,
      |    CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_x,
      |    CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_y
      |  FROM s)
      |SELECT n_pairs, concordant, discordant, ties_x, ties_y,
      |  round((concordant - discordant) /
      |    sqrt(CAST((n_pairs - ties_x) * (n_pairs - ties_y) AS DOUBLE)),
      |    4) AS tau_b
      |FROM w ORDER BY n_pairs""".stripMargin

  // ───────── monthly price index (Laspeyres / Paasche / Fisher) ─────────

  /** Monthly price-index triple over brand unit values — the
    * inflation-accounting shape next to [[qElasticity]]'s demand
    * curve: per (brand, ship-month), unit price in integer CENTS
    * (floored — exact BIGINTs all the way: quantity sums are integral,
    * revenue cents land within 10⁻⁵ of an integer before the round),
    * then Laspeyres (base-month quantity weights), Paasche
    * (current-month weights), and Fisher (√(L·P), the geometric
    * compromise) vs the first month, as integer ppm — every index a
    * ratio of exact BIGINT weighted sums with ONE integer division;
    * Fisher's sqrt is IEEE-correctly-rounded, so the floor to ppm is
    * engine-exact. Scale: one fact pass with the part dim broadcast
    * onto the bounded |brands|×|months| grid; the base month is a
    * broadcast slice of that grid; weighted sums stay under 2⁶³ past
    * TPC-H sf100.
    */
  def qPriceIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val bm = t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "part")
        .select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"),
        col("p_brand"))
      .agg(sum(col("l_quantity").cast("long")).as("q"),
        round(sum("l_extendedprice") * 100).cast("long").as("e100"))
      .withColumn("p_cents", expr("e100 div q"))
    val m0 = bm.agg(min("m").as("m0"))
    val base = bm.join(broadcast(m0), col("m") === col("m0"))
      .select(col("p_brand"), col("q").as("q0"), col("p_cents").as("p0"))
    bm.join(broadcast(base), "p_brand")
      .groupBy("m")
      .agg(count(lit(1)).as("n_brands"),
        sum(col("p_cents") * col("q0")).as("lnum"),
        sum(col("p0") * col("q0")).as("lden"),
        sum(col("p_cents") * col("q")).as("pnum"),
        sum(col("p0") * col("q")).as("pden"))
      .select(col("m").cast("date").as("month"), col("n_brands"),
        expr("lnum * 1000000 div lden").as("laspeyres_ppm"),
        expr("pnum * 1000000 div pden").as("paasche_ppm"),
        floor(sqrt((expr("lnum * 1000000 div lden") *
          expr("pnum * 1000000 div pden")).cast("double")))
          .cast("long").as("fisher_ppm"))
      .orderBy("month")
  }

  val qPriceIndexSql: String =
    """WITH bm AS (SELECT date_trunc('month', l_shipdate) AS m, p_brand,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
      |    CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS e100
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |pm AS (SELECT m, p_brand, q, e100 // q AS p_cents FROM bm),
      |m0 AS (SELECT min(m) AS m0 FROM pm),
      |base AS (SELECT p_brand, q AS q0, p_cents AS p0
      |  FROM pm, m0 WHERE m = m0),
      |w AS (SELECT pm.m, count(*) AS n_brands,
      |    sum(pm.p_cents * base.q0) AS lnum,
      |    sum(base.p0 * base.q0) AS lden,
      |    sum(pm.p_cents * pm.q) AS pnum,
      |    sum(base.p0 * pm.q) AS pden
      |  FROM pm JOIN base USING (p_brand) GROUP BY 1)
      |SELECT CAST(m AS DATE) AS month, CAST(n_brands AS BIGINT)
      |    AS n_brands,
      |  CAST(lnum * 1000000 // lden AS BIGINT) AS laspeyres_ppm,
      |  CAST(pnum * 1000000 // pden AS BIGINT) AS paasche_ppm,
      |  CAST(floor(sqrt(CAST((lnum * 1000000 // lden) *
      |    (pnum * 1000000 // pden) AS DOUBLE))) AS BIGINT)
      |    AS fisher_ppm
      |FROM w ORDER BY month""".stripMargin

  // ───────── brand share trend (per-group regression over shares) ─────────

  /** Brand market-share trend: per brand, the OLS slope of its monthly
    * item-share (integer ppm) over the month index — "which brands are
    * gaining" as one number per brand, the BI companion to
    * [[qPriceIndex]]'s price view. Month index = year·12 + month
    * (exact int, gap-safe); shares are integer ppm from exact counts;
    * regr_slope runs per brand over the BOUNDED brand×month grid (the
    * fact table aggregates to that grid FIRST — one partial-aggregable
    * pass — so the regression input is ≤ \|brands\|·\|months\| rows at
    * any corpus size). Slope rounds at 4 dp; the 83-point-per-brand
    * co-moment sums are small enough that partial-sum order cannot
    * cross the grid (q_elasticity precedent).
    */
  def qBrandTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "part")
        .select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast("long").as("mi"))
      .agg(count(lit(1)).as("c"))
    // per-month totals as a window over the aggregated grid (round 12):
    // the groupBy+broadcast-join form consumed `grid` twice, re-running
    // the lineitem⋈part aggregation per consumer; the grid is
    // |brands|×|months|-bounded so the mi-keyed window is one tiny
    // shuffle on an already-aggregated relation
    grid.withColumn("tot",
        sum("c").over(Window.partitionBy("mi")))
      .select(col("p_brand"), col("mi"),
        expr("CAST(c * 1000000 DIV tot AS BIGINT)").as("share_ppm"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_months"),
        expr("sum(share_ppm) DIV count(*)").as("avg_share_ppm"),
        round(expr("regr_slope(share_ppm, mi)"), 4)
          .as("slope_ppm_per_month"))
      .orderBy(desc("slope_ppm_per_month"), asc("p_brand"))
  }

  val qBrandTrendSql: String =
    """WITH g AS (SELECT p_brand,
      |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
      |      AS mi,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT mi, CAST(sum(c) AS BIGINT) AS tot
      |  FROM g GROUP BY 1),
      |s AS (SELECT p_brand, g.mi,
      |    CAST(c * 1000000 // tot AS BIGINT) AS share_ppm
      |  FROM g JOIN tot ON g.mi = tot.mi)
      |SELECT p_brand, count(*) AS n_months,
      |  CAST(sum(share_ppm) // count(*) AS BIGINT) AS avg_share_ppm,
      |  round(regr_slope(share_ppm, mi), 4) AS slope_ppm_per_month
      |FROM s GROUP BY p_brand
      |ORDER BY slope_ppm_per_month DESC, p_brand""".stripMargin

  // ───────── pairwise correlation matrix (round 7) ─────────

  /** Pairwise Pearson correlation matrix over the four lineitem
    * numeric measures, unpivoted to (pair, r) rows — the feature-
    * redundancy profile a modeling pipeline runs before training.
    * All six correlations come from ONE single-pass aggregate (the
    * [[qCorrStats]] mergeable co-moment discipline — the oracle's six
    * scans collapse to one partial+final HashAggregate here), then a
    * 1-row stack unpivot. round(4) per the float rule.
    */
  def qCorrMatrix(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 4).as("r_qp"),
        round(corr("l_quantity", "l_discount"), 4).as("r_qd"),
        round(corr("l_quantity", "l_tax"), 4).as("r_qt"),
        round(corr("l_extendedprice", "l_discount"), 4).as("r_pd"),
        round(corr("l_extendedprice", "l_tax"), 4).as("r_pt"),
        round(corr("l_discount", "l_tax"), 4).as("r_dt"))
      .select(expr(
        """stack(6,
          |  'quantity~extendedprice', r_qp,
          |  'quantity~discount', r_qd,
          |  'quantity~tax', r_qt,
          |  'extendedprice~discount', r_pd,
          |  'extendedprice~tax', r_pt,
          |  'discount~tax', r_dt) AS (pair, r)""".stripMargin))
      .orderBy("pair")

  val qCorrMatrixSql: String =
    """SELECT * FROM (
      |SELECT 'quantity~extendedprice' AS pair,
      |  round(corr(l_quantity, l_extendedprice), 4) AS r FROM lineitem
      |UNION ALL SELECT 'quantity~discount',
      |  round(corr(l_quantity, l_discount), 4) FROM lineitem
      |UNION ALL SELECT 'quantity~tax',
      |  round(corr(l_quantity, l_tax), 4) FROM lineitem
      |UNION ALL SELECT 'extendedprice~discount',
      |  round(corr(l_extendedprice, l_discount), 4) FROM lineitem
      |UNION ALL SELECT 'extendedprice~tax',
      |  round(corr(l_extendedprice, l_tax), 4) FROM lineitem
      |UNION ALL SELECT 'discount~tax',
      |  round(corr(l_discount, l_tax), 4) FROM lineitem
      |) ORDER BY pair""".stripMargin

  // ───────── hierarchical share-of-parent rollup (round 7) ─────────

  /** Region → nation revenue rollup with SHARE-OF-PARENT ppm — the
    * drill-down view every revenue dashboard renders: nation rows carry
    * their ppm of the region subtotal, region rows their ppm of the
    * grand total, the grand row 10⁶. The three levels are built as
    * explicit aggregates of one shared cents relation (same rows as
    * ROLLUP, but the parent joins are then plain bounded equi-joins on
    * the ≤|regions| subtotal tables instead of grouping-NULL matching);
    * dimension joins broadcast; revenue is exact cents widened to
    * DECIMAL for the ppm product (the revE4 convention).
    */
  def qRollupShare(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, sfDir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, sfDir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val nat = rev.groupBy("region", "nation")
      .agg(sum("cents").as("rev"))
    val reg = nat.groupBy("region").agg(sum("rev").as("rev"))
    val tot = reg.agg(sum("rev").as("rev"))
    val natRows = nat
      .join(broadcast(reg.select(col("region"),
        col("rev").as("parent"))), "region")
      .select(col("region"), col("nation"), col("rev"),
        expr("CAST(rev AS DECIMAL(19,0)) * 1000000 div parent")
          .as("share_ppm"))
    val regRows = reg.crossJoin(broadcast(tot.select(
        col("rev").as("parent"))))
      .select(col("region"), lit(null).cast("string").as("nation"),
        col("rev"),
        expr("CAST(rev AS DECIMAL(19,0)) * 1000000 div parent")
          .as("share_ppm"))
    val totRow = tot.select(lit(null).cast("string").as("region"),
      lit(null).cast("string").as("nation"), col("rev"),
      lit(1000000L).as("share_ppm"))
    natRows.unionAll(regRows).unionAll(totRow)
      .select(col("region"), col("nation"), col("rev").as("rev_cents"),
        col("share_ppm"))
      .orderBy(asc_nulls_first("region"), asc_nulls_first("nation"))
  }

  val qRollupShareSql: String =
    """WITH rev AS (SELECT r.r_name AS region, n.n_name AS nation,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey),
      |ru AS (SELECT region, nation, sum(cents) AS rev FROM rev
      |  GROUP BY ROLLUP (region, nation)),
      |sh AS (SELECT region, nation, rev,
      |    CASE WHEN region IS NULL THEN rev
      |      WHEN nation IS NULL THEN
      |        (SELECT rev FROM ru WHERE region IS NULL)
      |      ELSE (SELECT p.rev FROM ru p WHERE p.region = sh0.region
      |        AND p.nation IS NULL) END AS parent
      |  FROM ru sh0)
      |SELECT region, nation, CAST(rev AS BIGINT) AS rev_cents,
      |  CAST(rev * 1000000 // parent AS BIGINT) AS share_ppm
      |FROM sh
      |ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST""".stripMargin

  // ───────── ABC inventory classification (round 7, wave 2) ─────────

  /** ABC classification of parts by revenue — A = parts inside the top
    * 80% of cumulative revenue, B = next 15% (≤95%), C = tail — the
    * inventory-prioritization twin of q_pareto_cut's user cut. Class
    * boundaries are EXACT integer cross-multiplications (cum·5 ≤
    * total·4, cum·20 ≤ total·19 — no ppm rounding at the boundary);
    * the cumulative window runs over the per-part revenue aggregate,
    * a DIMENSION-bounded relation (|parts| ≪ facts — the q_tok_vocab
    * window argument), never lineitem. Share ppm DECIMAL-widened.
    */
  def qAbcClass(spark: SparkSession, sfDir: String): DataFrame = {
    val pr = t(spark, sfDir, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("rev"))
    val cumW = Window.orderBy(desc("rev"), asc("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    pr
      .withColumn("cum", sum("rev").over(cumW))
      .withColumn("total", sum("rev").over(all))
      .withColumn("abc_class",
        when(col("cum") * 5 <= col("total") * 4, "A")
          .when(col("cum") * 20 <= col("total") * 19, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("rev_cents"),
        expr("CAST(sum(rev) AS DECIMAL(19,0)) * 1000000 div max(total)")
          .as("rev_share_ppm"))
      .orderBy("abc_class")
  }

  val qAbcClassSql: String =
    """WITH pr AS (SELECT l_partkey,
      |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |r AS (SELECT l_partkey, rev,
      |    sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(rev) OVER () AS total FROM pr),
      |cls AS (SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
      |                    WHEN cum * 20 <= total * 19 THEN 'B'
      |                    ELSE 'C' END AS abc_class, rev, total FROM r)
      |SELECT abc_class, count(*) AS n_parts,
      |  CAST(sum(rev) AS BIGINT) AS rev_cents,
      |  CAST(sum(rev) * 1000000 // max(total) AS BIGINT) AS rev_share_ppm
      |FROM cls GROUP BY abc_class ORDER BY abc_class""".stripMargin

  // ───────── leave-one-out target encoding (round 7, wave 2) ─────────

  /** Leave-one-out target encoding of customer on order price — the
    * standard leakage-free categorical encoder for ML feature prep:
    * each order carries the mean price of the SAME customer's OTHER
    * orders, (Σ − x) div (n − 1) in exact integer CENTS, NULL for
    * single-order customers. One per-customer aggregate + one
    * broadcast-able join back to the fact (group stats are
    * |customers|-sized); everything stays in exact BIGINTs (operands
    * non-negative, so floor ≡ truncate across engines).
    */
  def qTargetEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val st = t(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sc"))
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      .join(st, "o_custkey")
      // the mean stays in exact integer CENTS via floor division: a
      // /100.0 dollar mean is a rational with denominator (n−1)·100 and
      // lands exactly on the round(4) half-grid (the qWinRunning tie
      // class — measured: row 744 at sf0.01 flips .6287/.6288)
      .select(col("o_orderkey"), col("o_custkey"), col("price_cents"),
        when(col("n") > 1,
          expr("(sc - price_cents) div (n - 1)")).as("loo_mean_cents"))
      .orderBy("o_orderkey")
  }

  val qTargetEncodeSql: String =
    """WITH st AS (SELECT o_custkey, count(*) AS n,
      |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS sc
      |  FROM orders GROUP BY o_custkey)
      |SELECT o.o_orderkey, o.o_custkey,
      |  CAST(round(o.o_totalprice*100) AS BIGINT) AS price_cents,
      |  CASE WHEN st.n > 1 THEN
      |    CAST((st.sc - CAST(round(o.o_totalprice*100) AS BIGINT))
      |      // (st.n - 1) AS BIGINT)
      |  END AS loo_mean_cents
      |FROM orders o JOIN st USING (o_custkey)
      |ORDER BY o.o_orderkey""".stripMargin

  // ───────── period-over-period revenue bridge (round 7, wave 2) ─────────

  /** Revenue bridge 1997 → 1998 per brand: the volume-vs-price
    * decomposition every finance review runs — volume effect =
    * (q₂−q₁)·p₁ and price effect = q₂·(p₂−p₁), which sum exactly to
    * Δrevenue. Quantities and cents are exact integer conditional
    * aggregates from ONE fact pass (the year CASE split — no self-
    * join); the two effects are single fixed-association double
    * expressions from those ints, round(4). Brands missing a year are
    * excluded (guard, 25/25 present at every SF).
    */
  def qRevBridge(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .filter(expr("year(l_shipdate) IN (1997, 1998)"))
      .join(broadcast(t(spark, sfDir, "part")
        .select("p_partkey", "p_brand")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        sum(expr("CASE WHEN year(l_shipdate) = 1997 THEN " +
          "CAST(round(l_extendedprice*100) AS BIGINT) ELSE 0 END")).as("rev1"),
        sum(expr("CASE WHEN year(l_shipdate) = 1998 THEN " +
          "CAST(round(l_extendedprice*100) AS BIGINT) ELSE 0 END")).as("rev2"),
        sum(expr("CASE WHEN year(l_shipdate) = 1997 THEN " +
          "CAST(round(l_quantity) AS BIGINT) ELSE 0 END")).as("q1"),
        sum(expr("CASE WHEN year(l_shipdate) = 1998 THEN " +
          "CAST(round(l_quantity) AS BIGINT) ELSE 0 END")).as("q2"))
      .filter(col("q1") > 0 && col("q2") > 0)
      // literals spelled CAST(100.0 AS DOUBLE) on BOTH sides: a bare
      // 100.0 parses as DECIMAL in both engines but Spark then divides
      // IN DECIMAL (exact, different rounding path) while DuckDB
      // divides in double — forcing double keeps the IEEE value paths
      // identical
      .select(col("p_brand"),
        col("rev1").as("rev1_cents"), col("rev2").as("rev2_cents"),
        col("q1").as("qty1"), col("q2").as("qty2"),
        expr("round((q2 - q1) * (rev1 / (q1 * CAST(100.0 AS DOUBLE))), 4)")
          .as("volume_effect"),
        expr("round(q2 * (rev2 / (q2 * CAST(100.0 AS DOUBLE))" +
          " - rev1 / (q1 * CAST(100.0 AS DOUBLE))), 4)")
          .as("price_effect"))
      .orderBy("p_brand")

  val qRevBridgeSql: String =
    """WITH y AS (SELECT p.p_brand,
      |    sum(CASE WHEN year(l_shipdate) = 1997 THEN
      |      CAST(round(l_extendedprice*100) AS BIGINT) ELSE 0 END) AS rev1,
      |    sum(CASE WHEN year(l_shipdate) = 1998 THEN
      |      CAST(round(l_extendedprice*100) AS BIGINT) ELSE 0 END) AS rev2,
      |    sum(CASE WHEN year(l_shipdate) = 1997 THEN
      |      CAST(round(l_quantity) AS BIGINT) ELSE 0 END) AS q1,
      |    sum(CASE WHEN year(l_shipdate) = 1998 THEN
      |      CAST(round(l_quantity) AS BIGINT) ELSE 0 END) AS q2
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE year(l_shipdate) IN (1997, 1998)
      |  GROUP BY p.p_brand)
      |SELECT p_brand, CAST(rev1 AS BIGINT) AS rev1_cents,
      |  CAST(rev2 AS BIGINT) AS rev2_cents,
      |  CAST(q1 AS BIGINT) AS qty1, CAST(q2 AS BIGINT) AS qty2,
      |  round((q2 - q1) * (rev1 / (q1 * CAST(100.0 AS DOUBLE))), 4)
      |    AS volume_effect,
      |  round(q2 * (rev2 / (q2 * CAST(100.0 AS DOUBLE))
      |    - rev1 / (q1 * CAST(100.0 AS DOUBLE))), 4)
      |    AS price_effect
      |FROM y WHERE q1 > 0 AND q2 > 0
      |ORDER BY p_brand""".stripMargin

  // ───────── calendar-month order seasonality (round 7, wave 7) ─────────

  /** Month-of-year order seasonality — the warehouse-side twin of
    * q_evt_seasonality's hour-of-day profile: per calendar month
    * (pooled across years), total orders, the peak month (argmax count,
    * min-month tiebreak — exact ints via the same min-struct trick),
    * its ppm share, and active-month coverage. One bounded 12-key
    * aggregate; no window.
    */
  def qOrderSeasonality(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").as("n_orders"),
        max(struct(col("cnt"), (-col("mo")).as("nm"))).as("pk"),
        count(lit(1)).as("n_active_months"))
      .select(col("n_orders"),
        (-col("pk.nm")).cast("long").as("peak_month"),
        col("pk.cnt").as("peak_cnt"),
        expr("CAST(pk.cnt * 1000000 div n_orders AS BIGINT)")
          .as("peak_share_ppm"),
        col("n_active_months"))
      .orderBy("n_orders")

  val qOrderSeasonalitySql: String =
    """WITH m AS (SELECT month(o_orderdate) AS mo, count(*) AS cnt
      |  FROM orders GROUP BY 1),
      |a AS (SELECT sum(cnt) AS n, count(*) AS nm FROM m),
      |pk AS (SELECT mo, cnt FROM m ORDER BY cnt DESC, mo LIMIT 1)
      |SELECT CAST(a.n AS BIGINT) AS n_orders,
      |  CAST(pk.mo AS BIGINT) AS peak_month,
      |  CAST(pk.cnt AS BIGINT) AS peak_cnt,
      |  CAST(pk.cnt * 1000000 // a.n AS BIGINT) AS peak_share_ppm,
      |  CAST(a.nm AS BIGINT) AS n_active_months
      |FROM a, pk ORDER BY n_orders""".stripMargin

  // ───────── repeat-customer rate (round 7, wave 3) ─────────

  /** Repeat-customer audit: how many customers ordered 2+ times, and
    * what share of customers/orders/revenue the repeat cohort carries —
    * the retention-economics headline next to [[q_cohort_ltv]]'s curve.
    * One per-customer aggregate → one 1-row conditional rollup; every
    * share is exact integer ppm over exact cents/counts. */
  def qRepeatRate(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_repeat"),
        sum("n").as("n_orders"),
        sum(when(col("n") >= 2, col("n")).otherwise(0L))
          .as("repeat_orders"),
        sum("rev").as("rev_cents"),
        sum(when(col("n") >= 2, col("rev")).otherwise(0L))
          .as("repeat_rev_cents"))
      .select(col("n_customers"), col("n_repeat"),
        expr("n_repeat * 1000000 div n_customers").as("repeat_cust_ppm"),
        expr("repeat_orders * 1000000 div n_orders").as("repeat_order_ppm"),
        expr("CAST(repeat_rev_cents AS DECIMAL(19,0)) * 1000000" +
          " div rev_cents").as("repeat_rev_ppm"))
      .orderBy("n_customers")

  val qRepeatRateSql: String =
    """WITH pc AS (SELECT o_custkey, count(*) AS n,
      |    sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev
      |  FROM orders GROUP BY o_custkey),
      |a AS (SELECT count(*) AS n_customers,
      |    sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS n_repeat,
      |    sum(n) AS n_orders,
      |    sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS repeat_orders,
      |    sum(rev) AS rev_cents,
      |    sum(CASE WHEN n >= 2 THEN rev ELSE 0 END) AS repeat_rev_cents
      |  FROM pc)
      |SELECT CAST(n_customers AS BIGINT) AS n_customers,
      |  CAST(n_repeat AS BIGINT) AS n_repeat,
      |  CAST(n_repeat * 1000000 // n_customers AS BIGINT)
      |    AS repeat_cust_ppm,
      |  CAST(repeat_orders * 1000000 // n_orders AS BIGINT)
      |    AS repeat_order_ppm,
      |  CAST(repeat_rev_cents * 1000000 // rev_cents AS BIGINT)
      |    AS repeat_rev_ppm
      |FROM a ORDER BY n_customers""".stripMargin

  // ───────── equi-depth histogram boundaries (round 7, wave 2) ─────────

  /** Equi-depth decile boundaries of o_totalprice — the optimizer-
    * statistics artifact (histogram bucket fences) built WITHOUT a
    * global window: the q_win_ntile_pct two-phase trick (range-bucket
    * on the value → per-bucket counts → ≤P-row prefix offsets →
    * partitioned row_number + offset = exact global rank), then ONE
    * broadcast join against the 10 computed rank positions ⌈k·n/10⌉.
    * The (price, orderkey) order key is unique, so every boundary is
    * deterministic; output is 10 exact rows.
    */
  def qEquidepthHist(spark: SparkSession, sfDir: String): DataFrame = {
    val P = 32
    val ord = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val stats = ord.agg(min("o_totalprice").as("lo"),
      max("o_totalprice").as("hi"), count(lit(1)).as("n"))
    val withPid = ord.crossJoin(broadcast(stats))
      .withColumn("pid", least(lit(P - 1),
        floor((col("o_totalprice") - col("lo")) * P /
          (col("hi") - col("lo") + lit(1e-9))).cast("int")))
    val wOff = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withPid.groupBy("pid").agg(count(lit(1)).as("pc"))
      .withColumn("off", coalesce(sum("pc").over(wOff), lit(0L)))
      .select("pid", "off")
    val wIn = Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    val ranked = withPid.join(broadcast(offsets), "pid")
      .withColumn("rn", col("off") + row_number().over(wIn))
    val pos = stats.select(col("n"))
      .crossJoin(spark.range(1, 11).select(col("id").as("decile")))
      .withColumn("p", expr("(decile * n + 9) div 10"))
      .select("decile", "p")
    ranked.join(broadcast(pos), col("rn") === col("p"))
      .select(col("decile"), col("p").as("rank_pos"),
        round(col("o_totalprice"), 4).as("boundary_price"))
      .orderBy("decile")
  }

  val qEquidepthHistSql: String =
    """WITH r AS (SELECT o_totalprice,
      |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
      |    count(*) OVER () AS n FROM orders),
      |pos AS (SELECT d, (d * (SELECT max(n) FROM r) + 9) // 10 AS p
      |  FROM unnest(generate_series(1, 10)) t(d))
      |SELECT pos.d AS decile, CAST(pos.p AS BIGINT) AS rank_pos,
      |  round(r.o_totalprice, 4) AS boundary_price
      |FROM pos JOIN r ON r.rn = pos.p
      |ORDER BY decile""".stripMargin

  // ───────────── round-8: price dispersion across suppliers ─────────────

  /** Per-part cross-supplier price dispersion: each (part, supplier)'s
    * mean unit price in exact integer micro-cents (sum·1e4 div qty-sum
    * — one truncating division per pair), then per part the min/max
    * supplier mean and the spread in ppm of the min — top-20 arbitrage
    * candidates. ONE shuffle for both rollups (round 11): the
    * (part, supplier) key space is nearly row-per-group on this fact
    * (591k pairs / 600k rows at sf0.1 — measured), so map-side partial
    * aggregation reduces nothing and the naive plan pays two full
    * exchanges of ~|fact| rows. Repartitioning once on l_partkey
    * satisfies the clustered distribution of BOTH aggregates (partkey
    * is a subset of each grouping key set), so the pair rollup and the
    * per-part min/max run in-partition with no second exchange — at
    * any scale, the fact crosses the wire exactly once, pruned to the
    * 4 needed columns. No self-join of the fact.
    */
  def qPriceDispersion(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = t(spark, sfDir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .repartition(col("l_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(expr("""(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        | * 100) div sum(CAST(l_quantity AS BIGINT)))""".stripMargin)
        .as("unit_ucents"))
    ps.groupBy(col("l_partkey").as("partkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        min("unit_ucents").as("min_ucents"),
        max("unit_ucents").as("max_ucents"))
      .filter(col("n_suppliers") >= 2)
      .withColumn("spread_ppm",
        expr("((max_ucents - min_ucents) * 1000000) div min_ucents"))
      .orderBy(desc("spread_ppm"), asc("partkey"))
      .limit(20)
  }

  val qPriceDispersionSql: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |    (sum(CAST(round(l_extendedprice * 100) AS BIGINT) * 100)
      |     // sum(CAST(l_quantity AS BIGINT))) AS unit_ucents
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |p AS (SELECT l_partkey AS partkey, count(*) AS n_suppliers,
      |    min(unit_ucents) AS min_ucents, max(unit_ucents) AS max_ucents
      |  FROM ps GROUP BY l_partkey HAVING count(*) >= 2)
      |SELECT partkey, n_suppliers,
      |  CAST(min_ucents AS BIGINT) AS min_ucents,
      |  CAST(max_ucents AS BIGINT) AS max_ucents,
      |  CAST(((max_ucents - min_ucents) * 1000000) // min_ucents
      |    AS BIGINT) AS spread_ppm
      |FROM p ORDER BY spread_ppm DESC, partkey LIMIT 20""".stripMargin

  // ───────────── round-8: return-rate lift by brand ─────────────

  /** Return-rate lift per brand: each brand's 'R'-flag line share vs the
    * corpus rate, as exact integer ppm and a cross-multiplied integer
    * lift (brand_ret·total_n vs total_ret·brand_n — the q_basket_lift
    * no-double-division discipline). The quality-control readout a
    * merchandiser sorts by. One fact pass, broadcast part dim, bounded
    * |brands| grid out.
    */
  def qReturnRate(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        (col("l_returnflag") === "R").cast("long").as("ret"))
    val brand = li.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("ret").as("n_ret"))
    val tot = brand.agg(sum("n").as("tn"), sum("n_ret").as("tr"))
    brand.crossJoin(broadcast(tot))
      .select(col("p_brand"), col("n"), col("n_ret"),
        expr("(n_ret * 1000000) div n").as("ret_ppm"),
        // the triple product n_ret·tn·1000 overflows BIGINT around
        // sf300 (tn ~ 2e9 lines) — widen to DECIMAL(38,0) ↔ HUGEINT
        // (the q_kmv_distinct precedent) so the at-scale exactness
        // claim actually holds; `div` on decimals returns BIGINT
        expr("CAST(CAST(n_ret AS DECIMAL(38,0)) * tn * 1000 AS DECIMAL(38,0))" +
          " div CAST(greatest(CAST(tr AS DECIMAL(38,0)) * n, 1) AS DECIMAL(38,0))")
          .as("lift_e3"))
      .orderBy(desc("lift_e3"), asc("p_brand"))
  }

  val qReturnRateSql: String =
    """WITH li AS (SELECT p.p_brand,
      |    CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |b AS (SELECT p_brand, count(*) AS n,
      |    CAST(sum(ret) AS BIGINT) AS n_ret FROM li GROUP BY p_brand),
      |t AS (SELECT sum(n) AS tn, sum(n_ret) AS tr FROM b)
      |SELECT p_brand, n, n_ret,
      |  CAST((n_ret * 1000000) // n AS BIGINT) AS ret_ppm,
      |  CAST((n_ret::HUGEINT * t.tn * 1000)
      |    // greatest(t.tr::HUGEINT * n, 1) AS BIGINT) AS lift_e3
      |FROM b, t ORDER BY lift_e3 DESC, p_brand""".stripMargin
}
