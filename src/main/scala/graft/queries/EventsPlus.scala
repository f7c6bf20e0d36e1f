package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 event analytics (SURVEY.md §2.12): attribution, path mining,
  * dwell-time stats. All three are one-key-shuffle window plans — events
  * shuffle once on user_id and every window sorts only its own user's
  * rows, so the shapes hold unchanged on a 1000-executor cluster (user_id
  * is high-cardinality; no global window anywhere).
  */
object EventsPlus {

  private val SevenDaysUs = 604800000000L

  /** Last-touch attribution: each purchase is credited to the same user's
    * most recent PRIOR click, if it happened within 7 days. One pass:
    * `last(click, ignoreNulls)` over an unbounded-preceding-to-previous-row
    * frame carries the latest click downstream — no self-join of events
    * against events (the naive formulation shuffles the table twice and
    * explodes on active users).
    */
  def qEvtAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isClick = col("event_type") === "click"
    Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("click_id",
        last(when(isClick, col("event_id")), ignoreNulls = true).over(byUser))
      .withColumn("click_ts",
        last(when(isClick, col("ts_us")), ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .withColumn("in_window",
        col("ts_us") - col("click_ts") <= SevenDaysUs)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("in_window"), col("click_id")).as("click_id"),
        when(col("in_window"),
          expr("(ts_us - click_ts) div 1000000")).as("attr_sec"))
      .orderBy("purchase_id")
  }

  val qEvtAttributionSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |w AS (SELECT *,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END
      |      IGNORE NULLS) OVER pre AS c_id,
      |    last_value(CASE WHEN event_type = 'click' THEN ts_us END
      |      IGNORE NULLS) OVER pre AS c_ts
      |  FROM e
      |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id AS purchase_id, user_id,
      |  CASE WHEN ts_us - c_ts <= $SevenDaysUs THEN c_id END AS click_id,
      |  CASE WHEN ts_us - c_ts <= $SevenDaysUs
      |    THEN (ts_us - c_ts) // 1000000 END AS attr_sec
      |FROM w WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin

  /** Top-20 3-step event-type paths (lead×2 per user, count desc, path
    * asc tiebreak) — the "what do users do next" path-mining shape. */
  def qEvtPath(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("t2", lead("event_type", 1).over(byUser))
      .withColumn("t3", lead("event_type", 2).over(byUser))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path"))
      .limit(20)
  }

  val qEvtPathSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |w AS (SELECT event_type,
      |    lead(event_type, 1) OVER u AS t2,
      |    lead(event_type, 2) OVER u AS t3
      |  FROM e
      |  WINDOW u AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n
      |FROM w WHERE t3 IS NOT NULL
      |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin

  /** Dwell-time stats per event type: gap to the user's next event.
    * All outputs are integer µs/ms/sec arithmetic (`div`) — FP-grid-free
    * on both engines (BASELINE hazard list).
    */
  def qEvtDwell(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap_us", lead("ts_us", 1).over(byUser) - col("ts_us"))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("sum(gap_us) div 1000000").as("sum_gap_sec"),
        expr("(sum(gap_us) div count(1)) div 1000").as("mean_gap_ms"),
        expr("max(gap_us) div 1000000").as("max_gap_sec"))
      .orderBy("event_type")
  }

  /** EWMA smoothing of the daily event-count series per type, with a
    * truncated 8-day horizon: ewma = Σ_{k=0..7} 0.5^k · cnt_{t-k}. The
    * dyadic weights make every product/sum exactly representable, so
    * Spark and the oracle agree bit-for-bit (no FP-grid hazard). Scale:
    * the series is calendar-bounded (days × types), so the window runs
    * over a pre-aggregated table orders of magnitude smaller than the
    * event stream; the event scan itself is one partial-aggregable
    * groupBy.
    */
  def qEvtEwma(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy("event_type").orderBy("day")
    val ewma = (0 to 7).map(k =>
      lag(col("cnt"), k, 0).over(byType) * lit(math.pow(0.5, k)))
      .reduce(_ + _)
    daily
      .withColumn("ewma8", round(ewma, 4))
      .orderBy("event_type", "day")
  }

  val qEvtEwmaSql: String = {
    // CAST AS DOUBLE: DuckDB's 0.5^k literals are DECIMAL, and
    // BIGINT·DECIMAL sums stay DECIMAL — the driver would see
    // Decimal vs Spark's float64. Double weights keep both engines
    // in the same (exactly-representable, dyadic) arithmetic.
    val terms = (0 to 7)
      .map(k =>
        s"lag(cnt, $k, 0) OVER w * CAST(${math.pow(0.5, k)} AS DOUBLE)")
      .mkString(" + ")
    s"""WITH daily AS (SELECT event_type,
      |    CAST(ts AS DATE) AS day,
      |    count(*) AS cnt
      |  FROM events GROUP BY event_type, day)
      |SELECT event_type, day, cnt, round($terms, 4) AS ewma8
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |ORDER BY event_type, day""".stripMargin
  }

  val qEvtDwellSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |g AS (SELECT event_type,
      |    lead(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us,
      |      event_id) - ts_us AS gap_us
      |  FROM e)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(gap_us) AS BIGINT) // 1000000 AS sum_gap_sec,
      |  (CAST(sum(gap_us) AS BIGINT) // count(*)) // 1000 AS mean_gap_ms,
      |  max(gap_us) // 1000000 AS max_gap_sec
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** RFM segmentation: each user scored 1 (best) – 3 on Recency (days
    * since last event vs the corpus max day), Frequency (event count),
    * and Monetary (value in integer cents — floor(value·100) is the
    * same IEEE double product on both engines, and integer sums are
    * order-free), then rolled up per 3-digit segment. Buckets use FIXED
    * thresholds, not ntile: a global ntile is a single-partition window
    * (the q_shard_pack scale-killer); fixed cutoffs keep the whole
    * scoring pass narrow after one user-keyed aggregate. The max-day
    * bound is a broadcast scalar.
    */
  def qRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
    val perUser = ev.groupBy("user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("f"),
        sum("cents").as("cents"))
    val maxDay = ev.agg(max("day").as("max_day"))
    perUser.crossJoin(broadcast(maxDay))
      .withColumn("r_days", datediff(col("max_day"), col("last_day")))
      .withColumn("r", when(col("r_days") <= 0, 1L)
        .when(col("r_days") <= 1, 2L).otherwise(3L))
      .withColumn("fb", when(col("f") >= 70, 1L)
        .when(col("f") >= 60, 2L).otherwise(3L))
      .withColumn("m", when(col("cents") >= 420000L, 1L)
        .when(col("cents") >= 340000L, 2L).otherwise(3L))
      .withColumn("segment", col("r") * 100 + col("fb") * 10 + col("m"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"), sum("f").as("n_events"),
        sum("cents").as("cents"))
      .orderBy("segment")
  }

  val qRfmSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      |u AS (SELECT user_id, max(day) AS last_day, count(*) AS f,
      |    sum(cents) AS cents FROM e GROUP BY user_id),
      |mx AS (SELECT max(day) AS max_day FROM e),
      |s AS (SELECT user_id, f, cents,
      |    date_diff('day', last_day, max_day) AS r_days FROM u, mx),
      |seg AS (SELECT
      |    (CASE WHEN r_days <= 0 THEN 1
      |          WHEN r_days <= 1 THEN 2 ELSE 3 END) * 100
      |    + (CASE WHEN f >= 70 THEN 1
      |            WHEN f >= 60 THEN 2 ELSE 3 END) * 10
      |    + (CASE WHEN cents >= 420000 THEN 1
      |            WHEN cents >= 340000 THEN 2 ELSE 3 END) AS segment,
      |    f, cents
      |  FROM s)
      |SELECT CAST(segment AS BIGINT) AS segment, count(*) AS n_users,
      |  CAST(sum(f) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM seg GROUP BY segment ORDER BY segment""".stripMargin

  /** Lag-1 autocorrelation of the hourly event-count series per type:
    * hourly counts (fact-sized partial aggregate on a bounded
    * type×hour key space), then corr(cnt, lag(cnt)) over the OBSERVED
    * hours in order. The window runs over the pre-aggregated series —
    * |types| partitions of |hours| rows — never the fact table, so the
    * sort state is calendar-bounded at any event volume. round(4)
    * absorbs corr's merge-order float jitter.
    */
  def qEvtAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("h")
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prev", lag("cnt", 1).over(byType))
      .filter(col("prev").isNotNull)
      .groupBy("event_type")
      .agg(round(corr(col("cnt").cast("double"),
        col("prev").cast("double")), 4).as("ac1"),
        count(lit(1)).as("n_hours"))
      .orderBy("event_type")
  }

  val qEvtAutocorrSql: String =
    """WITH hourly AS (SELECT event_type,
      |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |    count(*) AS cnt
      |  FROM events GROUP BY event_type, h),
      |lagged AS (SELECT event_type, cnt,
      |    lag(cnt) OVER (PARTITION BY event_type ORDER BY h) AS prev
      |  FROM hourly)
      |SELECT event_type,
      |  round(corr(CAST(cnt AS DOUBLE), CAST(prev AS DOUBLE)), 4) AS ac1,
      |  count(*) AS n_hours
      |FROM lagged WHERE prev IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Robust outliers: top-20 events by |modified z-score| — MAD-based,
    * so a single extreme value can't inflate its own yardstick the way
    * q_evt_anomaly's stddev can. Two percentile aggregates per type
    * (median, then MAD against the broadcast median) + one narrow
    * scoring pass; the rank key is the round(4)-grid rz with event_id
    * tiebreak. Exact-interpolation `percentile` matches DuckDB's
    * percentile_cont (q_agg_percentile precedent).
    */
  def qOutlierMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5D)").as("med"))
    // mad > 0 pins the division semantics across engines: a zero MAD
    // (over half the values equal to the median) would make non-ANSI
    // Spark yield NULL where DuckDB yields ±inf, silently reordering the
    // rank (round-3 ADVICE). Degenerate types are excluded BY CONTRACT
    // on both sides — a constant-valued type has no robust outliers.
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
      .filter(col("mad") > 0)
    ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"),
        round(lit(0.6745) * (col("value") - col("med")) / col("mad"), 4)
          .as("rz"))
      .orderBy(abs(col("rz")).desc, asc("event_id"))
      .limit(20)
  }

  val qOutlierMadSql: String =
    """WITH med AS (SELECT event_type,
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      |  FROM events GROUP BY event_type),
      |mad AS (SELECT event_type, mad FROM (SELECT e.event_type,
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med))
      |      AS mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
      |  WHERE mad > 0)
      |SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
      |  round(0.6745 * (e.value - m.med) / d.mad, 4) AS rz
      |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
      |ORDER BY abs(round(0.6745 * (e.value - m.med) / d.mad, 4)) DESC,
      |  e.event_id
      |LIMIT 20""".stripMargin

  /** DAU / WAU actives + stickiness (DAU/WAU, integer ppm) per day.
    * Day keys are exact integer µs `div`; the 7-day membership is an
    * in-row explode of each (user, day) onto the ≤7 window days it
    * covers — a narrow ×7 expansion — then one partial-aggregable
    * distinct count per day. No row-range self-join, no window over the
    * event stream; the day grid is calendar-bounded.
    */
  def qEvtDauWau(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("dayn"))
      .distinct()
    val days = ud.select("dayn").distinct()
    val dau = ud.groupBy("dayn").agg(countDistinct("user_id").as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("dayn"), col("dayn") + 6)).as("dayn"))
      .join(broadcast(days), "dayn")
      .groupBy("dayn").agg(countDistinct("user_id").as("wau"))
    days.join(dau, "dayn").join(wau, "dayn")
      .select(col("dayn"), col("dau"), col("wau"),
        expr("(dau * 1000000) div wau").as("stickiness_ppm"))
      .orderBy("dayn")
  }

  /** Bounce rate per day: sessions (Events.sessionized — THE shared
    * 30-min-gap definition) with exactly one event, as an integer ppm
    * of the day's sessions, then two partial-aggregable groupBys on
    * bounded keys.
    */
  def qEvtBounce(spark: SparkSession, sfDir: String): DataFrame = {
    Events.sessionized(spark, sfDir)
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("start_us"), count(lit(1)).as("n_ev"))
      .withColumn("dayn", expr("start_us div 86400000000"))
      .groupBy("dayn")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounce"),
        expr("(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000000)" +
          " div count(1)").as("bounce_ppm"))
      .orderBy("dayn")
  }

  /** Funnel conversion latency: per converted user, seconds from first
    * signup to first subsequent purchase; p50/p90/max over the cohort —
    * the latency half of q_evt_funnel's conversion counts. Two
    * user-keyed partial aggregates; gaps are exact integer seconds
    * (µs `div`); quantiles by exact interpolation (q_agg_percentile
    * precedent), round(4).
    */
  def qEvtFunnelTime(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("s_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(broadcast(s), "user_id")
      .filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min("us").as("p_us"))
    s.join(p, "user_id")
      .select(expr("(p_us - s_us) div 1000000").as("gap_s"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(gap_s, 0.5D)"), 4).as("p50_s"),
        round(expr("percentile(gap_s, 0.9D)"), 4).as("p90_s"),
        max("gap_s").as("max_s"))
      .orderBy("n_converted")
  }

  val qEvtFunnelTimeSql: String =
    """WITH s AS (SELECT user_id,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_us
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (SELECT e.user_id,
      |    min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= s.s_us
      |  GROUP BY e.user_id),
      |lat AS (SELECT s.user_id, (p.p_us - s.s_us) // 1000000 AS gap_s
      |  FROM s JOIN p USING (user_id))
      |SELECT CAST(count(*) AS BIGINT) AS n_converted,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_s), 4)
      |    AS p50_s,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_s), 4)
      |    AS p90_s,
      |  CAST(max(gap_s) AS BIGINT) AS max_s
      |FROM lat ORDER BY n_converted""".stripMargin

  val qEvtBounceSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
      |l AS (SELECT user_id, event_id, tus,
      |    lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS prev FROM e),
      |f AS (SELECT user_id, event_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1
      |         ELSE 0 END AS brk FROM l),
      |s AS (SELECT user_id, event_id, tus,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM f),
      |g AS (SELECT user_id, sess, min(tus) AS start_us, count(*) AS n_ev
      |  FROM s GROUP BY user_id, sess)
      |SELECT start_us // 86400000000 AS dayn, count(*) AS n_sessions,
      |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bounce,
      |  CAST((sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000000)
      |    // count(*) AS BIGINT) AS bounce_ppm
      |FROM g GROUP BY dayn ORDER BY dayn""".stripMargin

  val qEvtDauWauSql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayn
      |  FROM events),
      |days AS (SELECT DISTINCT dayn FROM ud),
      |dau AS (SELECT dayn, count(DISTINCT user_id) AS dau
      |  FROM ud GROUP BY dayn),
      |cover AS (SELECT ud.user_id, d2.d AS dayn
      |  FROM ud, unnest(generate_series(ud.dayn, ud.dayn + 6)) d2(d)),
      |wau AS (SELECT c.dayn, count(DISTINCT c.user_id) AS wau
      |  FROM cover c JOIN days USING (dayn) GROUP BY c.dayn)
      |SELECT d.dayn, dau.dau, wau.wau,
      |  (dau.dau * 1000000) // wau.wau AS stickiness_ppm
      |FROM days d JOIN dau USING (dayn) JOIN wau USING (dayn)
      |ORDER BY d.dayn""".stripMargin

  // ───────── hour-of-day seasonality profile (round 6, late) ─────────

  /** Hour-of-day activity profile per event type — the seasonality
    * audit behind capacity planning and anomaly baselines (is traffic
    * diurnal, and how concentrated): per type, total events, the peak
    * hour (argmax count, min-hour tiebreak — exact ints), its ppm share,
    * and how many of the 24 hours are active. Everything is integer
    * arithmetic on a ≤|types|×24 aggregate; the argmax is a min-struct
    * over 24 rows per type, not a window. Scale: one narrow pass, one
    * bounded-key partial-aggregable shuffle.
    */
  def qEvtSeasonality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("event_type")
      .agg(sum("cnt").as("n"),
        max(struct(col("cnt"), (-col("h")).as("nh"))).as("pk"),
        count(lit(1)).as("n_active_hours"))
      .select(col("event_type"), col("n"),
        (-col("pk.nh")).cast("long").as("peak_hour"),
        col("pk.cnt").as("peak_cnt"),
        expr("pk.cnt * 1000000 div n").as("peak_share_ppm"),
        col("n_active_hours"))
      .orderBy("event_type")

  val qEvtSeasonalitySql: String =
    """WITH hh AS (SELECT event_type, hour(ts) AS h, count(*) AS cnt
      |  FROM events GROUP BY event_type, hour(ts)),
      |ag AS (SELECT event_type, sum(cnt) AS n, count(*) AS n_active_hours
      |  FROM hh GROUP BY event_type),
      |pk AS (SELECT event_type, h, cnt, row_number()
      |    OVER (PARTITION BY event_type ORDER BY cnt DESC, h) AS rk
      |  FROM hh)
      |SELECT ag.event_type, CAST(ag.n AS BIGINT) AS n,
      |  CAST(pk.h AS BIGINT) AS peak_hour,
      |  CAST(pk.cnt AS BIGINT) AS peak_cnt,
      |  CAST(pk.cnt * 1000000 // ag.n AS BIGINT) AS peak_share_ppm,
      |  ag.n_active_hours
      |FROM ag JOIN pk USING (event_type) WHERE pk.rk = 1
      |ORDER BY ag.event_type""".stripMargin

  // ───────── activity-concentration Gini (round 6, late) ─────────

  /** Gini coefficient of per-user event concentration — the 80/20 audit
    * behind rate-limiting, skew budgeting, and the [[qRfm]] power-user
    * view: how unequally activity distributes across users. Computed
    * ENTIRELY from the activity HISTOGRAM h(k) = users with exactly k
    * events (a bounded domain — distinct activity levels, the q_stats_ks
    * grid discipline — never a corpus-sized user sort): users in bucket
    * k occupy Lorenz ranks cum+1..cum+h, so Σᵢ i·xᵢ = Σ_k k·(h·cum +
    * h(h+1)/2) — exact BIGINTs via one window over the histogram — and
    * G = 2T/(nS) − (n+1)/n with one double expression from exact ints
    * onto round(4). Scale: two partial-aggregable integer aggregates +
    * one bounded-domain window.
    */
  def qGiniUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("h"))
    val ord = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum", coalesce(sum("h").over(ord), lit(0L)))
      // t is N²-order (Σ k·h·cum ≈ events×users): widen the exact-int
      // accumulation to DECIMAL(38,0) (revE4 convention) so exactness
      // holds past ~3e9 events. Accumulate 2t (the h(h+1) term stays
      // integral without a decimal `div`, which would narrow to LONG)
      // and fold the ÷2 into the one closing double division.
      .agg(sum("h").as("n_users"),
        sum(col("k") * col("h")).as("n_events"),
        max("k").as("max_k"),
        sum(col("k") * (lit(2L) * col("h").cast("decimal(19,0)") *
          col("cum") + col("h").cast("decimal(19,0)") * (col("h") + 1L)))
          .as("t2"))
      .select(col("n_users"), col("n_events"), col("max_k"),
        round(col("t2").cast("double") /
          (col("n_users").cast("decimal(19,0)") * col("n_events"))
            .cast("double") -
          (col("n_users") + 1) / col("n_users").cast("double"), 4)
          .as("gini"))
  }

  val qGiniUsersSql: String =
    """WITH uk AS (SELECT user_id, count(*) AS k FROM events
      |  GROUP BY user_id),
      |hist AS (SELECT k, count(*) AS h FROM uk GROUP BY k),
      |w AS (SELECT k, h, coalesce(sum(h) OVER (ORDER BY k
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM hist),
      |a AS (SELECT CAST(sum(h) AS BIGINT) AS n_users,
      |    CAST(sum(k * h) AS BIGINT) AS n_events,
      |    CAST(max(k) AS BIGINT) AS max_k,
      |    CAST(sum(k * (h * cum + h * (h + 1) // 2)) AS BIGINT) AS t
      |  FROM w)
      |SELECT n_users, n_events, max_k,
      |  round(2.0 * t / CAST(n_users * n_events AS DOUBLE)
      |    - (n_users + 1) / CAST(n_users AS DOUBLE), 4) AS gini
      |FROM a ORDER BY gini""".stripMargin

  // ───────── growth accounting: daily lifecycle (round 6, late) ─────────

  /** Daily growth accounting — each active day's users classified as
    * new (first-ever day), retained (active the previous day), or
    * resurrected (returning after a gap), plus churned = yesterday's
    * actives who did not return — the standard DAU decomposition
    * (new + retained + resurrected = active; churned closes the
    * balance). Per-user day streams are classified with one lag window
    * partitioned on user_id (the [[qEvtSession]] shuffle key — high
    * cardinality, skew-free); the churn balance is a lag over the
    * bounded per-day aggregate. All counts exact ints.
    */
  def qEvtLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val byUser = Window.partitionBy("user_id").orderBy("d")
    val daily = ud
      .withColumn("prev", lag("d", 1).over(byUser))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(datediff(col("d"), col("prev")) === 1, "retained")
          .otherwise("resurrected"))
      .groupBy("d")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    daily
      .withColumn("n_churned",
        coalesce(lag("n_active", 1).over(Window.orderBy("d")), lit(0L)) -
          col("n_retained"))
      .select(col("d").cast("date").as("day"), col("n_active"),
        col("n_new"), col("n_retained"), col("n_resurrected"),
        col("n_churned"))
      .orderBy("day")
  }

  val qEvtLifecycleSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
      |  FROM events),
      |st AS (SELECT d, user_id,
      |    lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev
      |  FROM ud),
      |daily AS (SELECT d, count(*) AS n_active,
      |    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
      |    sum(CASE WHEN date_diff('day', prev, d) = 1 THEN 1 ELSE 0 END)
      |      AS n_retained,
      |    sum(CASE WHEN prev IS NOT NULL
      |      AND date_diff('day', prev, d) > 1 THEN 1 ELSE 0 END)
      |      AS n_resurrected
      |  FROM st GROUP BY d)
      |SELECT CAST(d AS DATE) AS day,
      |  n_active, CAST(n_new AS BIGINT) AS n_new,
      |  CAST(n_retained AS BIGINT) AS n_retained,
      |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
      |  CAST(coalesce(lag(n_active) OVER (ORDER BY d), 0) - n_retained
      |    AS BIGINT) AS n_churned
      |FROM daily ORDER BY day""".stripMargin

  // ───────── winsorized robust stats (round 6, late) ─────────

  /** Winsorization audit per event type: p01/p99 bounds (round(4) — the
    * q_agg_percentile percentile↔percentile_cont parity), the count
    * clipped at each tail, and the post-clip mean — the robust-stats
    * prep that decides outlier handling before a value column feeds
    * normalization at 100 TB. The clipped mean is kept EXACT: clamped
    * values land on the 1e-4 grid by construction (raw values are
    * 2-decimal, bounds are round(4)), so each ships as
    * round(clamp·10⁴) — an exact BIGINT — and one final division onto
    * round(4). Scale: the bounds are a |types|-row broadcast; clipping
    * is a narrow second pass; both aggregates are partial-aggregable.
    */
  def qWinsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("event_type", "value")
    val bounds = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.01)"), 4).as("lo"),
        round(expr("percentile(value, 0.99)"), 4).as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("clamp", greatest(col("lo"), least(col("hi"), col("value"))))
      .withColumn("ce4", round(col("clamp") * 10000).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        min("lo").as("lo"), min("hi").as("hi"),
        sum("ce4").as("sce4"))
      .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
        col("lo"), col("hi"),
        round(col("sce4") / (col("n") * 10000.0), 4).as("clipped_mean"))
      .orderBy("event_type")
  }

  val qWinsorizeSql: String =
    """WITH b AS (SELECT event_type,
      |    round(percentile_cont(0.01) WITHIN GROUP (ORDER BY value), 4)
      |      AS lo,
      |    round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 4)
      |      AS hi
      |  FROM events GROUP BY event_type),
      |c AS (SELECT e.event_type, e.value, b.lo, b.hi,
      |    CAST(round(greatest(b.lo, least(b.hi, e.value)) * 10000)
      |      AS BIGINT) AS ce4
      |  FROM events e JOIN b USING (event_type))
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_lo,
      |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hi,
      |  min(lo) AS lo, min(hi) AS hi,
      |  round(sum(ce4) / (count(*) * 10000.0), 4) AS clipped_mean
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ───────── CUSUM changepoint on the daily rate ─────────

  /** Single changepoint detection on the daily event rate — the max-|CUSUM|
    * estimator (the classic offline AMOC shape): with daily counts c_d,
    * the cumulative deviation from the global mean S_d = Σ_{i≤d}(c_i − N/D)
    * peaks at the day the rate shifts. Computed EXACTLY in scaled integers:
    * S_d·D = D·cum_d − N·idx_d (BIGINT products — no float accumulation),
    * the argmax is over exact ints with the earliest-day tiebreak, and the
    * normalized statistic max|S|/N plus the before/after daily means take
    * one division each at the end. The window runs over the BOUNDED
    * per-day aggregate (the [[qGiniUsers]] histogram discipline), never
    * the event stream. Scale: one partial-aggregable count pass + a
    * |days|-row window.
    */
  def qEvtChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val ord = Window.orderBy("d")
    val all = Window.partitionBy()
    daily
      .withColumn("idx", row_number().over(ord))
      .withColumn("cum", sum("c").over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dd", count(lit(1)).over(all))
      .withColumn("n", sum("c").over(all))
      .withColumn("sxd", col("dd") * col("cum") - col("n") * col("idx"))
      .orderBy(abs(col("sxd")).desc, col("d").asc)
      .limit(1)
      .select(col("dd").as("n_days"), col("n").as("n_events"),
        col("d").cast("date").as("cp_day"),
        round(abs(col("sxd")) / (col("dd") * col("n")).cast("double"), 6)
          .as("cusum_norm"),
        round(col("cum") / col("idx").cast("double"), 4).as("mean_before"),
        round((col("n") - col("cum")) /
          nullif(col("dd") - col("idx"), lit(0)).cast("double"), 4)
          .as("mean_after"))
  }

  // ───────── weekly cohort LTV curves ─────────

  /** Cumulative revenue ("LTV") per weekly signup cohort over weeks
    * since first activity — the cohort economics view next to
    * [[qEvtLifecycle]]'s daily accounting and q_evt_retention's count
    * matrix: for each (cohort week, week number), cohort size and the
    * cohort's cumulative purchase revenue so far. Per-user first-day
    * is one partial-aggregable min on the user_id shuffle key; the
    * join back to events is user_id-co-located (same key, no extra
    * shuffle); the cumulative window runs over the BOUNDED
    * |cohorts|×|weeks| grid. Revenue sums land on round(2) before the
    * cumsum (2-decimal money over thousands of rows — exact in
    * doubles), cohort sizes are exact ints.
    */
  def qCohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cw"))
    val sized = first.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val weekly = ev.join(first, "user_id")
      .groupBy(col("cw"),
        (datediff(date_trunc("week", col("ts")), col("cw")) / 7)
          .cast("int").as("week_no"))
      .agg(round(sum(when(col("event_type") === "purchase",
        col("value")).otherwise(0.0)), 2).as("rev"))
    val cum = Window.partitionBy("cw").orderBy("week_no")
      .rowsBetween(Window.unboundedPreceding, 0)
    weekly.join(sized, "cw")
      .select(col("cw").cast("date").as("cohort_week"), col("week_no"),
        col("n_users"),
        round(sum("rev").over(cum), 2).as("cum_revenue"))
      .orderBy("cohort_week", "week_no")
  }

  val qCohortLtvSql: String =
    """WITH first AS (SELECT user_id,
      |    date_trunc('week', min(ts)) AS cw
      |  FROM events GROUP BY user_id),
      |sized AS (SELECT cw, count(*) AS n_users FROM first GROUP BY cw),
      |weekly AS (SELECT f.cw,
      |    CAST(date_diff('day', f.cw, date_trunc('week', e.ts)) // 7
      |      AS INTEGER) AS week_no,
      |    round(sum(CASE WHEN e.event_type = 'purchase' THEN e.value
      |      ELSE 0 END), 2) AS rev
      |  FROM events e JOIN first f ON e.user_id = f.user_id
      |  GROUP BY 1, 2)
      |SELECT CAST(w.cw AS DATE) AS cohort_week, w.week_no, s.n_users,
      |  round(sum(w.rev) OVER (PARTITION BY w.cw ORDER BY w.week_no
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
      |    AS cum_revenue
      |FROM weekly w JOIN sized s ON w.cw = s.cw
      |ORDER BY cohort_week, week_no""".stripMargin

  // ───────── weekday × hour activity heatmap ─────────

  /** Weekday × hour-of-day activity heatmap — the ops-calendar view
    * behind load shaping and anomaly triage: per (weekday, hour) cell,
    * event count and share of total as integer ppm. Weekday uses the
    * Monday=0 convention (`weekday()` ↔ DuckDB `isodow − 1` — the
    * Sunday-anchored `dayofweek` variants disagree across engines).
    * One partial-aggregable pass onto the ≤168-cell grid; the total is
    * a window over that grid. Scale: trivially partition-parallel.
    */
  def qEvtHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.events(spark, sfDir)
      .groupBy(expr("weekday(ts)").as("wd"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    g.withColumn("total", sum("n").over(Window.partitionBy()))
      .select(col("wd"), col("hr"), col("n"),
        expr("n * 1000000 div total").as("share_ppm"))
      .orderBy("wd", "hr")
  }

  val qEvtHeatmapSql: String =
    """WITH g AS (SELECT isodow(ts) - 1 AS wd, hour(ts) AS hr,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT wd, hr, n, sum(n) OVER () AS total FROM g)
      |SELECT CAST(wd AS INTEGER) AS wd, CAST(hr AS INTEGER) AS hr,
      |  CAST(n AS BIGINT) AS n,
      |  CAST(n * 1000000 // total AS BIGINT) AS share_ppm
      |FROM w ORDER BY wd, hr""".stripMargin

  // ───────── two-proportion A/B z-test ─────────

  /** Two-proportion z-test on per-user "heavy buyer" conversion between
    * the deterministic `user_id % 2` split — the experiment-readout
    * shape (assignment by id parity stands in for the hash-bucket
    * assignment a real A/B system uses; Spark's murmur3 `hash()` has no
    * DuckDB twin, id parity is engine-exact). Conversion = ≥14 purchase
    * events (the per-user median purchase count, SF-invariant since
    * events/user is constant across SFs — every user purchases at least
    * once, so "any purchase" is degenerate). The pooled-variance z uses
    * exact integer counts with ONE sqrt at the end, nullif-guarded for
    * the zero-variance edge; rates ship as integer ppm. Scale: one
    * partial-aggregable per-user pass on the user_id shuffle key, then
    * a 2-key aggregate.
    */
  def qAbtestZtest(spark: SparkSession, sfDir: String): DataFrame = {
    val arms = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= 14L).cast("long").as("conv"))
      .withColumn("arm", col("user_id") % 2)
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").as("x"))
    val w = arms.agg(
      sum(when(col("arm") === 0, col("n"))).as("n_a"),
      sum(when(col("arm") === 0, col("x"))).as("x_a"),
      sum(when(col("arm") === 1, col("n"))).as("n_b"),
      sum(when(col("arm") === 1, col("x"))).as("x_b"))
    w.select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
      expr("x_a * 1000000 div n_a").as("rate_a_ppm"),
      expr("x_b * 1000000 div n_b").as("rate_b_ppm"),
      round((col("x_a") / col("n_a").cast("double") -
        col("x_b") / col("n_b").cast("double")) /
        nullif(sqrt(((col("x_a") + col("x_b")) /
          (col("n_a") + col("n_b")).cast("double")) *
          (lit(1.0) - (col("x_a") + col("x_b")) /
            (col("n_a") + col("n_b")).cast("double")) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), lit(0.0)),
        4).as("z"))
  }

  val qAbtestZtestSql: String =
    """WITH u AS (SELECT user_id,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END) >= 14 THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY user_id),
      |arms AS (SELECT user_id % 2 AS arm, count(*) AS n, sum(conv) AS x
      |  FROM u GROUP BY 1),
      |w AS (SELECT
      |    CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x_b
      |  FROM arms)
      |SELECT n_a, n_b, x_a, x_b,
      |  CAST(x_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
      |  CAST(x_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
      |  round((x_a / CAST(n_a AS DOUBLE) - x_b / CAST(n_b AS DOUBLE)) /
      |    nullif(sqrt(((x_a + x_b) / CAST(n_a + n_b AS DOUBLE)) *
      |      (1.0 - (x_a + x_b) / CAST(n_a + n_b AS DOUBLE)) *
      |      (1.0 / n_a + 1.0 / n_b)), 0.0), 4) AS z
      |FROM w ORDER BY z""".stripMargin

  // ───────── moving-average forecast backtest ─────────

  /** 7-day simple-moving-average forecast backtest over the daily event
    * rate — each day past the warm-up is predicted from the PRECEDING
    * 7 days and scored against the actual: the capacity-planning sanity
    * loop. The per-day absolute percentage error is EXACT — with S the
    * preceding-7 sum, ape_ppm = |7c − S|·10⁶ div (7c), all BIGINTs
    * (forecast = S/7 never materializes as a rounded intermediate).
    * The window runs over the bounded per-day aggregate (the
    * [[qEvtChangepoint]] discipline). Scale: one count pass + a
    * |days|-row window.
    */
  def qEvtForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val ord = Window.orderBy("d")
    daily
      .withColumn("idx", row_number().over(ord))
      .withColumn("s7", sum("c").over(ord.rowsBetween(-7, -1)))
      .filter(col("idx") > 7)
      .select(col("d").cast("date").as("day"), col("c").as("actual"),
        round(col("s7") / lit(7.0), 4).as("forecast"),
        expr("abs(7 * c - s7) * 1000000 div (7 * c)").as("ape_ppm"))
      .orderBy("day")
  }

  val qEvtForecastSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS d, count(*) AS c
      |  FROM events GROUP BY 1),
      |w AS (SELECT d, c,
      |    row_number() OVER (ORDER BY d) AS idx,
      |    sum(c) OVER (ORDER BY d
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7
      |  FROM daily)
      |SELECT CAST(d AS DATE) AS day, CAST(c AS BIGINT) AS actual,
      |  round(s7 / 7.0, 4) AS forecast,
      |  CAST(abs(7 * c - s7) * 1000000 // (7 * c) AS BIGINT) AS ape_ppm
      |FROM w WHERE idx > 7 ORDER BY day""".stripMargin

  // ───────── rolling volatility bands (outlier days) ─────────

  /** Bollinger-style rolling bands on the daily event rate: each day
    * past the 14-day warm-up is flagged when it falls outside the
    * trailing mean ± 2σ. The FLAG is decided in exact integer
    * arithmetic — |x − S/k| > 2σ ⇔ (k−1)(kx − S)² > 4k(kQ − S²) with
    * S, Q the trailing sum and sum-of-squares (BIGINTs; no
    * float-comparison boundary can flip engines) — while the displayed
    * mean/σ take one division/sqrt onto round(4). Windows run over the
    * bounded per-day aggregate. Scale: one count pass + a |days|-row
    * window.
    */
  def qEvtBands(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val ord = Window.orderBy("d")
    val k = 14
    daily
      .withColumn("idx", row_number().over(ord))
      .withColumn("s", sum("c").over(ord.rowsBetween(-k, -1)))
      .withColumn("q", sum(col("c") * col("c"))
        .over(ord.rowsBetween(-k, -1)))
      .filter(col("idx") > k)
      .select(col("d").cast("date").as("day"), col("c").as("actual"),
        round(col("s") / lit(k.toDouble), 4).as("mean14"),
        round(sqrt((lit(k) * col("q") - col("s") * col("s")) /
          lit(k.toDouble * (k - 1))), 4).as("sd14"),
        (lit(k - 1) * (lit(k) * col("c") - col("s")) *
          (lit(k) * col("c") - col("s")) >
          lit(4L * k) * (lit(k) * col("q") - col("s") * col("s")))
          .cast("int").as("outlier"))
      .orderBy("day")
  }

  val qEvtBandsSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS d, count(*) AS c
      |  FROM events GROUP BY 1),
      |w AS (SELECT d, c,
      |    row_number() OVER (ORDER BY d) AS idx,
      |    sum(c) OVER (ORDER BY d
      |      ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) AS s,
      |    sum(c * c) OVER (ORDER BY d
      |      ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) AS q
      |  FROM daily)
      |SELECT CAST(d AS DATE) AS day, CAST(c AS BIGINT) AS actual,
      |  round(s / 14.0, 4) AS mean14,
      |  round(sqrt((14 * q - s * s) / (14.0 * 13)), 4) AS sd14,
      |  CAST(13 * (14 * c - s) * (14 * c - s) > 56 * (14 * q - s * s)
      |    AS INTEGER) AS outlier
      |FROM w WHERE idx > 14 ORDER BY day""".stripMargin

  val qEvtChangepointSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS d, count(*) AS c
      |  FROM events GROUP BY 1),
      |w AS (SELECT d, c,
      |    row_number() OVER (ORDER BY d) AS idx,
      |    sum(c) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    count(*) OVER () AS dd, sum(c) OVER () AS n
      |  FROM daily),
      |s AS (SELECT *, dd * cum - n * idx AS sxd FROM w)
      |SELECT CAST(dd AS BIGINT) AS n_days, CAST(n AS BIGINT) AS n_events,
      |  CAST(d AS DATE) AS cp_day,
      |  round(abs(sxd) / CAST(dd * n AS DOUBLE), 6) AS cusum_norm,
      |  round(cum / CAST(idx AS DOUBLE), 4) AS mean_before,
      |  round((n - cum) / CAST(nullif(dd - idx, 0) AS DOUBLE), 4)
      |    AS mean_after
      |FROM s ORDER BY abs(sxd) DESC, d LIMIT 1""".stripMargin

  // ───────── Wald–Wolfowitz runs test on the daily rate ─────────

  /** Wald–Wolfowitz runs test on the daily event rate — the
    * randomness audit completing [[qEvtChangepoint]]'s "where did it
    * shift" with "is the sequence random at all": days are signed
    * above/below the median daily count (median-equal days excluded,
    * the standard convention), the run count R is an exact lag-window
    * sum, and the normal approximation z = (R − μ)/σ with
    * μ = 1 + 2n₁n₂/N and σ² = 2n₁n₂(2n₁n₂ − N)/(N²(N−1)) takes ONE
    * sqrt at the end from exact BIGINT counts. Too few runs ⇒
    * clustering/trend; too many ⇒ oscillation. The median interpolates
    * on the per-day counts (int-vs-double compare is exact, so the
    * exclusion set is engine-stable). Scale: one partial-aggregable
    * count pass; every window runs over the bounded per-day aggregate
    * (the [[qEvtChangepoint]] discipline).
    */
  def qStatsRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val med = daily.agg(expr("percentile(c, 0.5D)").as("med"))
    val ord = Window.orderBy("d")
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("c") =!= col("med"))
      .withColumn("s", (col("c") > col("med")).cast("long"))
    signed
      .withColumn("chg", when(lag("s", 1).over(ord).isNull ||
        lag("s", 1).over(ord) =!= col("s"), 1L).otherwise(0L))
      .agg(sum("chg").as("runs"), sum("s").as("n1"),
        (count(lit(1)) - sum("s")).as("n2"))
      .select((col("n1") + col("n2")).as("n_days"),
        col("n1").as("n_above"), col("n2").as("n_below"), col("runs"),
        round(lit(1.0) + lit(2.0) * col("n1") * col("n2") /
          (col("n1") + col("n2")), 4).as("expected"),
        round((col("runs") - (lit(1.0) + lit(2.0) * col("n1") * col("n2") /
          (col("n1") + col("n2")))) /
          sqrt(lit(2.0) * col("n1") * col("n2") *
            (lit(2L) * col("n1") * col("n2") - (col("n1") + col("n2"))) /
            ((col("n1") + col("n2")).cast("double") *
              (col("n1") + col("n2")) * (col("n1") + col("n2") - 1L))),
          4).as("z"))
  }

  val qStatsRunsSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS d, count(*) AS c
      |  FROM events GROUP BY 1),
      |m AS (SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY c) AS med
      |  FROM daily),
      |s AS (SELECT d, CASE WHEN c > med THEN 1 ELSE 0 END AS s
      |  FROM daily, m WHERE c <> med),
      |r AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NULL
      |    OR lag(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS chg
      |  FROM s),
      |w AS (SELECT CAST(sum(chg) AS BIGINT) AS runs,
      |    CAST(sum(s) AS BIGINT) AS n1,
      |    CAST(count(*) - sum(s) AS BIGINT) AS n2
      |  FROM r)
      |SELECT n1 + n2 AS n_days, n1 AS n_above, n2 AS n_below, runs,
      |  round(1 + 2.0 * n1 * n2 / (n1 + n2), 4) AS expected,
      |  round((runs - (1 + 2.0 * n1 * n2 / (n1 + n2))) /
      |    sqrt(2.0 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) /
      |      (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))), 4)
      |    AS z
      |FROM w ORDER BY n_days""".stripMargin

  // ───────── Theil–Sen robust trend slope ─────────

  /** Theil–Sen estimator on the daily event rate — the median of all
    * pairwise slopes, the robust companion to [[qEvtForecast]]'s SMA
    * and the OLS `regr_slope` (a single outlier day drags OLS but
    * moves the pairwise median not at all; breakdown point 29%). Day
    * positions are exact ints (datediff from the first day — gap-safe,
    * unlike row_number), each pairwise slope is ONE division of exact
    * ints, and the median interpolates over the pair relation. The
    * intercept is the median residual at the Theil–Sen slope
    * (Conover's form). OLS slope ships alongside for the contrast.
    * Scale: the O(|days|²) pair identity is reserved for the BOUNDED
    * per-day aggregate (≤ ~10³ pairs for a quarter of days) — the
    * event stream itself is touched once, partial-aggregably; for
    * unbounded relations the rank-window Spearman/OLS forms apply
    * instead.
    */
  def qTrendTheilsen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val d0 = daily.agg(min("d").as("d0"))
    val pts = daily.crossJoin(broadcast(d0))
      .select(datediff(col("d"), col("d0")).cast("long").as("x"), col("c"))
    val pairs = pts.as("a").join(broadcast(pts.as("b")),
        col("a.x") < col("b.x"))
      .select(((col("b.c") - col("a.c")).cast("double") /
        (col("b.x") - col("a.x"))).as("slope"))
    val sl = pairs.agg(count(lit(1)).as("n_pairs"),
      expr("percentile(slope, 0.5D)").as("ts_slope"))
    val ols = pts.agg(count(lit(1)).as("n_days"),
      expr("regr_slope(c, x)").as("ols"))
    val icept = pts.crossJoin(broadcast(sl))
      .agg(expr("percentile(c - ts_slope * x, 0.5D)").as("icept"))
    ols.crossJoin(broadcast(sl)).crossJoin(broadcast(icept))
      .select(col("n_days"), col("n_pairs"),
        round(col("ts_slope"), 6).as("theilsen_slope"),
        round(col("icept"), 4).as("theilsen_icept"),
        round(col("ols"), 6).as("ols_slope"))
  }

  val qTrendTheilsenSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS d, count(*) AS c
      |  FROM events GROUP BY 1),
      |d0 AS (SELECT min(d) AS d0 FROM daily),
      |pts AS (SELECT CAST(date_diff('day', d0, d) AS BIGINT) AS x, c
      |  FROM daily, d0),
      |pairs AS (SELECT CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS slope
      |  FROM pts a JOIN pts b ON a.x < b.x),
      |sl AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY slope) AS ts_slope
      |  FROM pairs),
      |ols AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    regr_slope(c, x) AS ols FROM pts),
      |ic AS (SELECT percentile_cont(0.5)
      |    WITHIN GROUP (ORDER BY c - ts_slope * x) AS icept
      |  FROM pts, sl)
      |SELECT n_days, n_pairs,
      |  round(ts_slope, 6) AS theilsen_slope,
      |  round(icept, 4) AS theilsen_icept,
      |  round(ols, 6) AS ols_slope
      |FROM ols, sl, ic ORDER BY n_days""".stripMargin

  // ───────── inter-arrival gap distribution per event type ─────────

  /** Inter-arrival time distribution per event type — the latency-SLO
    * view of the stream: per user, the µs gap to their previous event
    * (any type), attributed to the LATTER event's type; per type the
    * gap count, interpolated p50/p90 (exact-percentile over exact
    * BIGINT µs — the q_agg_percentile Spark↔DuckDB interpolation
    * parity), and the integer-div mean. Scale: ONE lag window on the
    * user_id shuffle key (per-user sort only), then a partial-aggregable
    * |types|-key rollup; percentile is the one non-mergeable aggregate
    * and runs per-type, the same exactness-over-histogram trade as
    * q_agg_percentile (the mergeable path is q_agg_approx_pct).
    */
  def qEvtInterarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5D)"), 1).as("p50_us"),
        round(expr("percentile(gap_us, 0.9D)"), 1).as("p90_us"),
        expr("sum(gap_us) DIV count(*)").as("mean_us"))
      .orderBy("event_type")
  }

  val qEvtInterarrivalSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |g AS (SELECT event_type,
      |    ts_us - lag(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS gap_us
      |  FROM e)
      |SELECT event_type, count(*) AS n_gaps,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us), 1)
      |    AS p50_us,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_us), 1)
      |    AS p90_us,
      |  CAST(sum(gap_us) // count(*) AS BIGINT) AS mean_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ───────── Kaplan–Meier user-survival curve ─────────

  /** Kaplan–Meier survival curve over user lifetimes — the
    * censoring-aware churn view next to [[qEvtLifecycle]]'s daily
    * accounting: lifetime = days between a user's first and last
    * event; a user still active in the final 7 days of data is
    * CENSORED (their true lifetime exceeds what we observed), everyone
    * else churned. Per distinct lifetime t: the at-risk count n_t from
    * the cumulative window, deaths d_t, and Ŝ(t) = Π_{s≤t}(1 − d_s/n_s)
    * computed as exp of the cumulative sum of ln((n−d)/n) — every ln
    * argument a ratio of exact BIGINTs (the q_source_mix_kl
    * discipline), with the n = d exhaustion edge CASE-guarded to an
    * exact 0 (ln(0) is null in Spark but an error in DuckDB). Scale:
    * per-user min/max is one partial-aggregable pass on the user_id
    * shuffle key; the horizon is a 1-row broadcast; all windows run
    * over the bounded lifetime histogram (≤ |days| rows).
    */
  def qSurvivalKm(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(date_trunc("day", min("ts")).as("first_d"),
        date_trunc("day", max("ts")).as("last_d"))
    val horizon = perUser.agg(max("last_d").as("h"))
    val byT = perUser.crossJoin(broadcast(horizon))
      .select(datediff(col("last_d"), col("first_d")).cast("long").as("t"),
        (datediff(col("h"), col("last_d")) > 7).cast("long").as("dead"))
      .groupBy("t")
      .agg(count(lit(1)).as("ended"), sum("dead").as("d"))
    val ord = Window.orderBy("t")
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upto = ord.rowsBetween(Window.unboundedPreceding, 0)
    byT
      .withColumn("total", sum("ended").over(Window.partitionBy()))
      .withColumn("n_risk",
        col("total") - coalesce(sum("ended").over(before), lit(0L)))
      .withColumn("term", when(col("d") < col("n_risk"),
        log((col("n_risk") - col("d")) / col("n_risk").cast("double")))
        .otherwise(lit(0.0)))
      .withColumn("zeroed",
        max((col("d") === col("n_risk")).cast("int")).over(upto))
      .select(col("t").as("t_days"), col("n_risk"),
        col("d").as("deaths"), (col("ended") - col("d")).as("censored"),
        when(col("zeroed") === 1, lit(0.0))
          .otherwise(round(exp(sum("term").over(upto)), 6)).as("survival"))
      .orderBy("t_days")
  }

  val qSurvivalKmSql: String =
    """WITH pu AS (SELECT user_id,
      |    date_trunc('day', min(ts)) AS first_d,
      |    date_trunc('day', max(ts)) AS last_d
      |  FROM events GROUP BY user_id),
      |h AS (SELECT max(last_d) AS h FROM pu),
      |byt AS (SELECT
      |    CAST(date_diff('day', first_d, last_d) AS BIGINT) AS t,
      |    count(*) AS ended,
      |    CAST(sum(CASE WHEN date_diff('day', last_d, h) > 7
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM pu, h GROUP BY 1),
      |w AS (SELECT t, ended, d,
      |    sum(ended) OVER () AS total,
      |    sum(ended) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cumb
      |  FROM byt),
      |r AS (SELECT t, ended, d,
      |    total - coalesce(cumb, 0) AS n_risk FROM w),
      |s AS (SELECT t, ended, d, n_risk,
      |    CASE WHEN d < n_risk
      |      THEN ln((n_risk - d) / CAST(n_risk AS DOUBLE))
      |      ELSE 0.0 END AS term,
      |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed
      |  FROM r)
      |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
      |  d AS deaths, CAST(ended - d AS BIGINT) AS censored,
      |  CASE WHEN zeroed = 1 THEN 0.0
      |    ELSE round(exp(sum(term) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
      |    END AS survival
      |FROM s ORDER BY t_days""".stripMargin

  // ───────── round 7: activity concentration & reliability audits ─────────

  /** Pareto cut of user activity — the minimal number of top users that
    * covers ≥ 80% of all events (the "how many whales" audit behind
    * [[qGiniUsers]]' inequality coefficient and q_hhi's concentration
    * index). Computed ENTIRELY from the activity histogram h(k) (the
    * qGiniUsers grid discipline — never a corpus-sized user sort): walk
    * activity levels k DESCENDING with cumulative users/events windows
    * over the bounded grid, locate the bucket where cumulative events
    * cross T = ⌈0.8·S⌉, and finish the cut arithmetically inside it.
    * All exact BIGINTs; ONE row out. Scale: two partial-aggregable
    * integer aggregates + one bounded-domain window.
    */
  def qParetoCut(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("h"))
    val before = Window.orderBy(desc("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    hist
      .withColumn("prev_ev",
        coalesce(sum(col("k") * col("h")).over(before), lit(0L)))
      .withColumn("prev_u", coalesce(sum("h").over(before), lit(0L)))
      .withColumn("s", sum(col("k") * col("h")).over(all))
      .withColumn("nu", sum("h").over(all))
      .withColumn("t", expr("(s * 4 + 4) div 5"))
      .filter(col("prev_ev") < col("t") &&
        col("prev_ev") + col("k") * col("h") >= col("t"))
      .withColumn("topu",
        col("prev_u") + expr("(t - prev_ev + k - 1) div k"))
      .select(col("nu").as("n_users"), col("s").as("n_events"),
        col("topu").as("top_users"),
        expr("topu * 1000000 div nu").as("top_users_ppm"),
        (col("prev_ev") + (col("topu") - col("prev_u")) * col("k"))
          .as("covered_events"))
      .orderBy("n_users")
  }

  val qParetoCutSql: String =
    """WITH uk AS (SELECT user_id, count(*) AS k FROM events
      |  GROUP BY user_id),
      |hist AS (SELECT k, count(*) AS h FROM uk GROUP BY k),
      |w AS (SELECT k, h,
      |    coalesce(sum(k*h) OVER (ORDER BY k DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS prev_ev,
      |    coalesce(sum(h) OVER (ORDER BY k DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS prev_u,
      |    sum(k*h) OVER () AS s, sum(h) OVER () AS nu
      |  FROM hist),
      |c AS (SELECT *, (s*4 + 4) // 5 AS t,
      |    prev_u + ((s*4 + 4) // 5 - prev_ev + k - 1) // k AS topu
      |  FROM w
      |  WHERE prev_ev < (s*4 + 4) // 5
      |    AND prev_ev + k*h >= (s*4 + 4) // 5)
      |SELECT CAST(nu AS BIGINT) AS n_users, CAST(s AS BIGINT) AS n_events,
      |  CAST(topu AS BIGINT) AS top_users,
      |  CAST(topu * 1000000 // nu AS BIGINT) AS top_users_ppm,
      |  CAST(prev_ev + (topu - prev_u) * k AS BIGINT) AS covered_events
      |FROM c ORDER BY n_users""".stripMargin

  /** Top-10 longest consecutive-day activity streaks — the engagement
    * counterpart of [[qEvtLifecycle]]'s daily decomposition: per user,
    * the longest run of consecutive active days (classic gaps-and-
    * islands on the per-user distinct-day stream: day − row_number is
    * constant within a run), plus how many separate streaks the user
    * had. Scale: the distinct (user, day) projection is one partial-
    * aggregable pass; the run window partitions on user_id (skew-free);
    * the top-10 is a TakeOrdered over per-user 1-row aggregates.
    */
  def qEvtStreak(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("d")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .distinct()
      .withColumn("rn", row_number().over(byUser))
      .withColumn("grp", date_sub(col("d"), col("rn")))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy(desc("longest_streak"), asc("user_id"))
      .limit(10)
  }

  val qEvtStreakSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      |  FROM events),
      |r AS (SELECT user_id, d, row_number() OVER (PARTITION BY user_id
      |    ORDER BY d) AS rn FROM ud),
      |st AS (SELECT user_id, count(*) AS len FROM
      |  (SELECT user_id, d - CAST(rn AS INTEGER) AS grp FROM r)
      |  GROUP BY user_id, grp),
      |mx AS (SELECT user_id, max(len) AS longest, count(*) AS n_streaks
      |  FROM st GROUP BY user_id)
      |SELECT user_id, CAST(longest AS BIGINT) AS longest_streak,
      |  CAST(n_streaks AS BIGINT) AS n_streaks
      |FROM mx ORDER BY longest_streak DESC, user_id LIMIT 10""".stripMargin

  /** Per-type conversion rate with a Wilson 95% score interval — the
    * uncertainty-aware companion to [[qAbtestZtest]]: the share of
    * events with value > 50 per type, bounded by the Wilson interval
    * (the CI that stays inside [0,1] and behaves at small n, the one
    * production dashboards should use instead of the Wald interval).
    * x and n are exact ints; the interval is one fixed-association
    * double expression (z² written as 1.96*1.96 in BOTH engines so the
    * IEEE products agree bit-for-bit), round(6). Scale: one
    * partial-aggregable 5-key aggregate.
    */
  def qEvtWilson(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 50, 1L).otherwise(0L)).as("x"))
      // z and z² spelled as CAST(… AS DOUBLE) literals on BOTH sides:
      // a bare 1.96 parses as DECIMAL in both engines, and Spark then
      // runs the /(2n) step in exact decimal while DuckDB converts to
      // double first — forcing double keeps the IEEE paths identical
      .withColumn("ph", expr("x / CAST(n AS DOUBLE)"))
      .withColumn("z", expr("CAST(1.96 AS DOUBLE)"))
      .select(col("event_type"), col("n"), col("x").as("conv"),
        round(col("ph"), 6).as("cr"),
        expr("round((ph + (z*z)/(2*n) - z*sqrt(ph*(1-ph)/n" +
          " + (z*z)/(CAST(4.0 AS DOUBLE)*n*n))) / (1 + (z*z)/n), 6)")
          .as("wilson_lo"),
        expr("round((ph + (z*z)/(2*n) + z*sqrt(ph*(1-ph)/n" +
          " + (z*z)/(CAST(4.0 AS DOUBLE)*n*n))) / (1 + (z*z)/n), 6)")
          .as("wilson_hi"))
      .orderBy("event_type")

  val qEvtWilsonSql: String =
    """WITH a AS (SELECT event_type, count(*) AS n,
      |    sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS x
      |  FROM events GROUP BY event_type),
      |p AS (SELECT event_type, n, x, x / CAST(n AS DOUBLE) AS ph,
      |    CAST(1.96 AS DOUBLE) AS z FROM a)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS conv,
      |  round(ph, 6) AS cr,
      |  round((ph + (z*z)/(2*n) - z*sqrt(ph*(1-ph)/n
      |    + (z*z)/(CAST(4.0 AS DOUBLE)*n*n))) / (1 + (z*z)/n), 6)
      |    AS wilson_lo,
      |  round((ph + (z*z)/(2*n) + z*sqrt(ph*(1-ph)/n
      |    + (z*z)/(CAST(4.0 AS DOUBLE)*n*n))) / (1 + (z*z)/n), 6)
      |    AS wilson_hi
      |FROM p ORDER BY event_type""".stripMargin

  /** Per-user behavioral entropy over the FIXED 5-type event alphabet —
    * the "how varied is this user" signal behind bot detection and
    * segment profiling: H = ln(n) − (Σ c·ln c)/n from exact per-type
    * counts. The five c·ln(c) terms are pivoted to FIXED columns and
    * summed in one explicitly-parenthesized left-to-right chain so both
    * engines evaluate the identical IEEE association (the [[qGiniUsers]]
    * determinism discipline — a fold over an arbitrary-order aggregate
    * would not be reproducible). Scale: one partial-aggregable
    * conditional aggregate per user, one narrow expression; no window.
    */
  def qUserEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("c2"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c3"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("c4"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c5"))
      .select(col("user_id"), col("n").as("n_events"),
        expr("""CAST((CASE WHEN c1>0 THEN 1 ELSE 0 END)
                 + (CASE WHEN c2>0 THEN 1 ELSE 0 END)
                 + (CASE WHEN c3>0 THEN 1 ELSE 0 END)
                 + (CASE WHEN c4>0 THEN 1 ELSE 0 END)
                 + (CASE WHEN c5>0 THEN 1 ELSE 0 END) AS BIGINT)""")
          .as("n_types"),
        expr("""round(ln(n) - ((((CASE WHEN c1>0 THEN c1*ln(c1) ELSE 0 END
                 + CASE WHEN c2>0 THEN c2*ln(c2) ELSE 0 END)
                 + CASE WHEN c3>0 THEN c3*ln(c3) ELSE 0 END)
                 + CASE WHEN c4>0 THEN c4*ln(c4) ELSE 0 END)
                 + CASE WHEN c5>0 THEN c5*ln(c5) ELSE 0 END) / n, 4)""")
          .as("entropy"))
      .orderBy("user_id")

  val qUserEntropySql: String =
    """WITH a AS (SELECT user_id, count(*) AS n,
      |    sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS c2,
      |    sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS c3,
      |    sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS c4,
      |    sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS c5
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(n AS BIGINT) AS n_events,
      |  CAST((CASE WHEN c1>0 THEN 1 ELSE 0 END)
      |   + (CASE WHEN c2>0 THEN 1 ELSE 0 END)
      |   + (CASE WHEN c3>0 THEN 1 ELSE 0 END)
      |   + (CASE WHEN c4>0 THEN 1 ELSE 0 END)
      |   + (CASE WHEN c5>0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
      |  round(ln(n) - ((((CASE WHEN c1>0 THEN c1*ln(c1) ELSE 0 END
      |    + CASE WHEN c2>0 THEN c2*ln(c2) ELSE 0 END)
      |    + CASE WHEN c3>0 THEN c3*ln(c3) ELSE 0 END)
      |    + CASE WHEN c4>0 THEN c4*ln(c4) ELSE 0 END)
      |    + CASE WHEN c5>0 THEN c5*ln(c5) ELSE 0 END) / n, 4) AS entropy
      |FROM a ORDER BY user_id""".stripMargin

  /** Per-day peak session concurrency — the capacity-planning sweep
    * line: sessions (the shared [[Events.sessionized]] 30-min-gap
    * definition) are clipped to the days they overlap, each day's
    * clipped segments become ±1 boundary events, and the peak is the
    * max of the running sum. Start boundaries sort BEFORE ends at equal
    * instants (delta descending), so zero-length single-event sessions
    * still register and back-to-back sessions touching at one instant
    * count as concurrent — the inclusive convention, same in both
    * engines. The peak is order-independent within equal-(ts, delta)
    * runs (a max over an equal-sign run is its end value), so the sweep
    * is deterministic without a third tiebreak. Scale: the sweep window
    * partitions on DAY (bounded key, skew capped by daily volume); the
    * day-clip explode is ≤ |sessions|·(span days), span ≈ 1.
    */
  def qEvtConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val ses = Events.sessionized(spark, sfDir)
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("st"), max("ts_us").as("en"))
    val DayUs = 86400000000L
    val seg = ses
      .withColumn("d", explode(sequence(
        expr(s"st div $DayUs"), expr(s"en div $DayUs"))))
      .withColumn("day", date_add(lit("1970-01-01").cast("date"),
        col("d").cast("int")))
      .withColumn("d0", col("d") * DayUs)
      .select(col("day"),
        greatest(col("st"), col("d0")).as("s"),
        least(col("en"), col("d0") + (DayUs - 1)).as("e"))
    val bnd = seg.select(col("day"), col("s").as("ts"), lit(1L).as("delta"))
      .unionAll(seg.select(col("day"), col("e").as("ts"),
        lit(-1L).as("delta")))
    val sweep = Window.partitionBy("day").orderBy(asc("ts"), desc("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bnd
      .withColumn("open", sum("delta").over(sweep))
      .groupBy("day")
      .agg(expr("count(1) div 2").as("n_segments"),
        max("open").as("peak_concurrent"))
      .orderBy("day")
  }

  val qEvtConcurrencySql: String =
    """WITH e AS (SELECT event_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |flagged AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w
      |    > 1800000000 OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END
      |    AS gap
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (SELECT user_id, ts_us,
      |    CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS sid
      |  FROM flagged),
      |ses AS (SELECT user_id, sid, min(ts_us) AS st, max(ts_us) AS en
      |  FROM sess GROUP BY user_id, sid),
      |days AS (SELECT st, en,
      |    CAST(to_timestamp(0) AS DATE) + CAST(d AS INTEGER) AS day,
      |    d * 86400000000 AS d0
      |  FROM ses, unnest(generate_series(st // 86400000000,
      |    en // 86400000000)) t(d)),
      |seg AS (SELECT day, greatest(st, d0) AS s,
      |    least(en, d0 + 86399999999) AS e FROM days),
      |bnd AS (SELECT day, s AS ts, 1 AS delta FROM seg
      |  UNION ALL SELECT day, e, -1 FROM seg),
      |run AS (SELECT day, sum(delta) OVER (PARTITION BY day
      |    ORDER BY ts, delta DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
      |  FROM bnd)
      |SELECT day, CAST(count(*) // 2 AS BIGINT) AS n_segments,
      |  CAST(max(open) AS BIGINT) AS peak_concurrent
      |FROM run GROUP BY day ORDER BY day""".stripMargin

  /** Daily active / new / cumulative-distinct users — the growth
    * headline chart. Cumulative distinct is computed WITHOUT a running
    * distinct aggregate (which has no partial form): each user's
    * first-seen day is ONE aggregate, daily new-user counts roll up
    * from it, and the running total is a window over the bounded day
    * grid (the [[qEvtLifecycle]] new-user discipline as a cumulative
    * curve). All exact ints.
    */
  def qCumUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("day"))
    val nd = ev.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("nu"))
    val ad = ev.groupBy("day")
      .agg(countDistinct("user_id").as("active_users"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ad.join(nd, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("nu"), lit(0L)))
      .withColumn("cum_users", sum("new_users").over(cum))
      .select("day", "active_users", "new_users", "cum_users")
      .orderBy("day")
  }

  val qCumUsersSql: String =
    """WITH fu AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
      |  FROM events GROUP BY user_id),
      |nd AS (SELECT d0 AS day, count(*) AS nu FROM fu GROUP BY d0),
      |ad AS (SELECT CAST(ts AS DATE) AS day,
      |    count(DISTINCT user_id) AS active_users FROM events GROUP BY 1)
      |SELECT day, CAST(active_users AS BIGINT) AS active_users,
      |  CAST(coalesce(nu, 0) AS BIGINT) AS new_users,
      |  CAST(sum(coalesce(nu, 0)) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM ad LEFT JOIN nd USING (day) ORDER BY day""".stripMargin

  /** Week-over-week growth per event type — the weekly growth-rate
    * readout next to [[qEvtLifecycle]]'s daily decomposition and
    * [[qBrandTrend]]'s OLS trend: weekly counts, previous week, and the
    * growth rate as exact integer ppm (Δ·10⁶ div prev — NULL for each
    * type's first week). The lag window runs over the bounded
    * type×week grid, never events. */
  def qEvtWow(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("wk")
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag("n", 1).over(byType))
      // negative growth: Spark `div` truncates toward zero but DuckDB
      // `//` floors, so negative deltas route through an explicit
      // sign-split (floor ≡ trunc on the positive magnitude) — both
      // engines then truncate identically
      .select(col("event_type"), col("wk"), col("n"), col("prev_n"),
        expr("""CASE WHEN prev_n IS NULL THEN NULL
                WHEN n >= prev_n THEN (n - prev_n) * 1000000 div prev_n
                ELSE -((prev_n - n) * 1000000 div prev_n)
                END""").as("wow_growth_ppm"))
      .orderBy("event_type", "wk")
  }

  val qEvtWowSql: String =
    """WITH w AS (SELECT event_type,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT event_type, wk, n,
      |    lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
      |  FROM w)
      |SELECT event_type, wk, CAST(n AS BIGINT) AS n,
      |  CAST(prev_n AS BIGINT) AS prev_n,
      |  CAST(CASE WHEN prev_n IS NULL THEN NULL
      |    WHEN n >= prev_n THEN (n - prev_n) * 1000000 // prev_n
      |    ELSE -((prev_n - n) * 1000000 // prev_n)
      |    END AS BIGINT) AS wow_growth_ppm
      |FROM g ORDER BY event_type, wk""".stripMargin

  // ───────── windowed funnel levels (round 7, wave 4) ─────────

  /** Funnel window, µs (24 h — measured to populate all three levels
    * at sf0.01). */
  private val FunnelWinUs = 86400000000L

  /** Windowed funnel levels (the ClickHouse `windowFunnel` shape):
    * signup → click → purchase, each step strictly after the previous
    * and ALL inside [[FunnelWinUs]] of the user's FIRST signup; the
    * output is the user count per deepest-reached level (0 = never
    * signed up). Levels chain as three per-user conditional MIN
    * aggregates with the previous level's timestamp joined back — one
    * user-keyed shuffle per step, no per-user sequence scan, exact µs
    * ints throughout. Complements q_evt_funnel (unwindowed 2-step) and
    * q_evt_funnel_time (latency of converters).
    */
  def qFunnelK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
    val u = e.select("user_id").distinct()
    val t1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tu").as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("tu") >= col("t1") &&
        col("tu") <= col("t1") + FunnelWinUs)
      .groupBy("user_id").agg(min("tu").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t1, "user_id").join(t2, "user_id")
      .filter(col("tu") >= col("t2") &&
        col("tu") <= col("t1") + FunnelWinUs)
      .groupBy("user_id").agg(min("tu").as("t3"))
    u.join(t1.select(col("user_id"), lit(1).as("l1")), Seq("user_id"), "left")
      .join(t2.select(col("user_id"), lit(1).as("l2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), lit(1).as("l3")), Seq("user_id"), "left")
      .select(when(col("l3").isNotNull, 3L)
        .when(col("l2").isNotNull, 2L)
        .when(col("l1").isNotNull, 1L).otherwise(0L).as("level"))
      .groupBy("level").agg(count(lit(1)).as("n_users"))
      .orderBy("level")
  }

  val qFunnelKSql: String =
    s"""WITH e AS (SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
      |u AS (SELECT DISTINCT user_id FROM e),
      |t1 AS (SELECT user_id, min(tu) AS t1 FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(tu) AS t2 FROM e JOIN t1 USING (user_id)
      |  WHERE event_type = 'click' AND tu >= t1.t1
      |    AND tu <= t1.t1 + $FunnelWinUs GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(tu) AS t3 FROM e
      |  JOIN t1 USING (user_id) JOIN t2 USING (user_id)
      |  WHERE event_type = 'purchase' AND tu >= t2.t2
      |    AND tu <= t1.t1 + $FunnelWinUs GROUP BY e.user_id),
      |lv AS (SELECT u.user_id,
      |    CASE WHEN t3.user_id IS NOT NULL THEN 3
      |         WHEN t2.user_id IS NOT NULL THEN 2
      |         WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS level
      |  FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
      |  LEFT JOIN t2 ON u.user_id = t2.user_id
      |  LEFT JOIN t3 ON u.user_id = t3.user_id)
      |SELECT CAST(level AS BIGINT) AS level, count(*) AS n_users
      |FROM lv GROUP BY level ORDER BY level""".stripMargin

  // ───────── event-sequence pattern match (round 7, wave 4) ─────────

  /** Per-user event-sequence pattern match (the ClickHouse
    * `sequenceMatch` shape): each user's time-ordered event-type
    * initials collapse to one string, then subsequence patterns match
    * with LIKE — view-then-later-purchase and the full
    * signup→view→purchase arc. The ordered collapse is a sort_array
    * over (tu, event_id, initial) structs gathered per user (event_id
    * makes the order total), so the string is identical to the
    * oracle's ORDER BY string_agg; per-user sequences are session-
    * sized, never corpus-sized. */
  def qSeqMatch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy("user_id")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(tu, event_id, ini)))," +
          " x -> x.ini)"), "").as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("seq_len"),
        col("seq").like("%v%p%").cast("long").as("view_then_purchase"),
        col("seq").like("%s%v%p%").cast("long").as("signup_view_purchase"))
      .orderBy("user_id")

  val qSeqMatchSql: String =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tu,
      |    event_id, substr(event_type, 1, 1) AS ini FROM events),
      |s AS (SELECT user_id, string_agg(ini, '' ORDER BY tu, event_id)
      |    AS seq FROM e GROUP BY user_id)
      |SELECT user_id, CAST(len(seq) AS BIGINT) AS seq_len,
      |  CAST(CASE WHEN seq LIKE '%v%p%' THEN 1 ELSE 0 END AS BIGINT)
      |    AS view_then_purchase,
      |  CAST(CASE WHEN seq LIKE '%s%v%p%' THEN 1 ELSE 0 END AS BIGINT)
      |    AS signup_view_purchase
      |FROM s ORDER BY user_id""".stripMargin

  // ───────── activity-segment migration (round 7, wave 4) ─────────

  /** Activity-segment migration matrix between the window's two halves
    * (split at 2024-01-16, the data midpoint at every SF): users
    * segment by per-half event count (none / light < 33 / heavy ≥ 33 —
    * the per-user half-month mean is ≈33 at every SF since users and
    * events scale together) and the matrix counts users per
    * (first-half, second-half) segment pair — the customer-base
    * dynamics view behind churn/upgrade alarms, complementing
    * [[qEvtLifecycle]] (daily) and [[qRfm]] (static segments). One
    * conditional per-user aggregate + a ≤9-key rollup.
    */
  def qRfmShift(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    def seg(c: org.apache.spark.sql.Column) =
      when(c === 0, "none").when(c < 33, "light").otherwise("heavy")
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("n1"),
        sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("n2"))
      .select(seg(col("n1")).as("seg_h1"), seg(col("n2")).as("seg_h2"))
      .groupBy("seg_h1", "seg_h2").agg(count(lit(1)).as("n_users"))
      .orderBy("seg_h1", "seg_h2")
  }

  val qRfmShiftSql: String =
    """WITH h AS (SELECT user_id,
      |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
      |      AS n1,
      |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
      |      AS n2
      |  FROM events GROUP BY user_id),
      |seg AS (SELECT
      |    CASE WHEN n1 = 0 THEN 'none' WHEN n1 < 33 THEN 'light'
      |      ELSE 'heavy' END AS seg_h1,
      |    CASE WHEN n2 = 0 THEN 'none' WHEN n2 < 33 THEN 'light'
      |      ELSE 'heavy' END AS seg_h2
      |  FROM h)
      |SELECT seg_h1, seg_h2, count(*) AS n_users
      |FROM seg GROUP BY seg_h1, seg_h2 ORDER BY seg_h1, seg_h2""".stripMargin

  // ───────── audience overlap matrix (round 7, wave 5) ─────────

  /** Audience-overlap (Jaccard) matrix between event types over the
    * first three days — which behaviors share users, the audience-
    * planning twin of [[qBasketLift]]'s item affinity (time-boxed
    * because over the full window every user touches every type and
    * the matrix saturates at 10⁶ ppm). The per-user type sets are ≤5
    * rows each, so the self-join is ≤ C(5,2) pairs per user — linear
    * in users, never |users|² — and the matrix is ≤ C(|types|,2) rows.
    * Exact integer ppm.
    */
  def qAudienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = Tables.events(spark, sfDir)
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
      .select("user_id", "event_type").distinct()
    val tot = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pair = ut.as("a")
      .join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pair
      .join(broadcast(tot.select(col("event_type").as("type_a"),
        col("n").as("na"))), "type_a")
      .join(broadcast(tot.select(col("event_type").as("type_b"),
        col("n").as("nb"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"),
        (col("na") + col("nb") - col("n_both")).as("n_union"),
        expr("n_both * 1000000 div (na + nb - n_both)").as("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  val qAudienceOverlapSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
      |  WHERE ts < TIMESTAMP '2024-01-04'),
      |tot AS (SELECT event_type, count(*) AS n FROM ut
      |  GROUP BY event_type),
      |pair AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, CAST(p.n_both AS BIGINT) AS n_both,
      |  CAST(ta.n + tb.n - p.n_both AS BIGINT) AS n_union,
      |  CAST(p.n_both * 1000000 // (ta.n + tb.n - p.n_both) AS BIGINT)
      |    AS jaccard_ppm
      |FROM pair p JOIN tot ta ON p.type_a = ta.event_type
      |  JOIN tot tb ON p.type_b = tb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // ───────── session-duration profile (round 7, wave 5) ─────────

  /** Session-duration band profile — the dashboard rollup over
    * [[Events.qEvtSession]]'s raw sessions: sessions and events per
    * fixed duration band (instant / ≤1m / 1–5m / 5–15m / 15–30m /
    * >30m; the 30-min gap makes longer single sessions possible only
    * via chained activity). Reuses the ONE shared sessionization;
    * output is ≤6 exact-int rows.
    */
  def qSessionProfile(spark: SparkSession, sfDir: String): DataFrame =
    Events.sessionized(spark, sfDir)
      .groupBy("user_id", "session_id")
      .agg(expr("(max(ts_us) - min(ts_us)) div 1000000").as("dur"),
        count(lit(1)).as("n"))
      .select(when(col("dur") === 0, "0_single_instant")
        .when(col("dur") <= 60, "1_under_1m")
        .when(col("dur") <= 300, "2_1m_5m")
        .when(col("dur") <= 900, "3_5m_15m")
        .when(col("dur") <= 1800, "4_15m_30m")
        .otherwise("5_over_30m").as("band"), col("n"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"))
      .orderBy("band")

  val qSessionProfileSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |f AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
      |    OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS gap
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (SELECT user_id, CAST(sum(gap) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
      |    CURRENT ROW) AS BIGINT) AS sid, ts_us FROM f),
      |ses AS (SELECT user_id, sid,
      |    (max(ts_us) - min(ts_us)) // 1000000 AS dur, count(*) AS n
      |  FROM s GROUP BY 1, 2),
      |b AS (SELECT CASE WHEN dur = 0 THEN '0_single_instant'
      |    WHEN dur <= 60 THEN '1_under_1m'
      |    WHEN dur <= 300 THEN '2_1m_5m'
      |    WHEN dur <= 900 THEN '3_5m_15m'
      |    WHEN dur <= 1800 THEN '4_15m_30m'
      |    ELSE '5_over_30m' END AS band, n FROM ses)
      |SELECT band, count(*) AS n_sessions,
      |  CAST(sum(n) AS BIGINT) AS n_events
      |FROM b GROUP BY band ORDER BY band""".stripMargin

  // ───────── per-user ML feature assembly (round 7, wave 7) ─────────

  /** Per-user feature-store assembly — the ONE-pass wide feature table
    * a churn/propensity model trains on: activity volume, behavioral
    * breadth, monetary value (exact cents), purchase count, tenure and
    * recency (days vs the fixed window end 2024-01-31), and distinct
    * active days. Every feature is an exact-int conditional aggregate
    * in a SINGLE per-user pass (one shuffle; the assembly shape that
    * matters at 100 TB is precisely "don't make one pass per
    * feature"). */
  def qUserFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("ts").cast("date").as("d"), col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("event_type").as("n_types"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        expr("(max(tu) - min(tu)) div 86400000000").as("tenure_days"),
        expr(s"(unix_micros(TIMESTAMP'2024-01-31 00:00:00') - max(tu))" +
          " div 86400000000").as("recency_days"),
        countDistinct("d").as("active_days"))
      .orderBy("user_id")

  val qUserFeaturesSql: String =
    """WITH s AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tu,
      |    CAST(ts AS DATE) AS d, event_type, value FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  count(DISTINCT event_type) AS n_types,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS value_cents,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchases,
      |  (max(tu) - min(tu)) // 86400000000 AS tenure_days,
      |  (epoch_us(TIMESTAMP '2024-01-31 00:00:00') - max(tu))
      |    // 86400000000 AS recency_days,
      |  count(DISTINCT d) AS active_days
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  // ───────────── round-8 wave: ops telemetry time series ─────────────

  /** Daily exact p50/p95 of event value — the latency-dashboard
    * percentile time series. Percentiles are EXPLICIT rank picks on the
    * exact cents grid (idx = ⌈q·n⌉ via integer ceiling division), not an
    * engine-defined quantile_disc/percentile_cont whose tie/interpolation
    * rules differ — so both engines pick the identical row. The rank
    * window partitions per day (30 bounded partitions here; day-keyed
    * partitions at any scale).
    */
  def qEvtPercentileTs(spark: SparkSession, sfDir: String): DataFrame = {
    val byDay = Window.partitionBy("d").orderBy("cents", "event_id")
    Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("d"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(byDay))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("d")))
      .filter(col("rn") === expr("(n * 50 + 99) div 100") ||
        col("rn") === expr("(n * 95 + 99) div 100"))
      .groupBy(col("d"))
      .agg(max("n").as("n"),
        min(when(col("rn") === expr("(n * 50 + 99) div 100"),
          col("cents"))).as("p50_cents"),
        min(when(col("rn") === expr("(n * 95 + 99) div 100"),
          col("cents"))).as("p95_cents"))
      .orderBy("d")
  }

  val qEvtPercentileTsSql: String =
    """WITH e AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
      |    event_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (SELECT d, cents,
      |    row_number() OVER (PARTITION BY d ORDER BY cents, event_id)
      |      AS rn,
      |    count(*) OVER (PARTITION BY d) AS n
      |  FROM e)
      |SELECT CAST(d AS TIMESTAMP) AS d, CAST(max(n) AS BIGINT) AS n,
      |  min(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END)
      |    AS p50_cents,
      |  min(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END)
      |    AS p95_cents
      |FROM r WHERE rn = (n * 50 + 99) // 100 OR rn = (n * 95 + 99) // 100
      |GROUP BY d ORDER BY d""".stripMargin

  /** Per-user event-type TRIGRAMS (the order-2 extension of
    * q_evt_markov's bigram transition matrix): top-20 three-step
    * behavioral paths by count. Two leads inside the per-user window —
    * one shuffle on user_id, bounded |types|³ key space out.
    */
  def qEvtTrigram(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("t2", lead("event_type", 1).over(byUser))
      .withColumn("t3", lead("event_type", 2).over(byUser))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("t1"), asc("t2"), asc("t3"))
      .limit(20)
  }

  val qEvtTrigramSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |t AS (SELECT event_type AS t1,
      |    lead(event_type, 1) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS t3
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT t1, t2, t3, count(*) AS n FROM t WHERE t3 IS NOT NULL
      |GROUP BY t1, t2, t3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin

  /** Daily new-vs-returning split — the growth-accounting companion to
    * q_cum_users: per day, how many active users saw their first-ever
    * event that day, how many returned, and the new share in ppm. The
    * first-seen relation is one user-keyed aggregate (broadcast-sized
    * per day-join side is the bounded day×2 grid).
    */
  def qEvtNewReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min("d").as("d0"))
    ud.join(first, "user_id")
      .groupBy("d")
      .agg(sum((col("d") === col("d0")).cast("long")).as("new_users"),
        sum((col("d") =!= col("d0")).cast("long")).as("returning"))
      .withColumn("new_ppm",
        expr("(new_users * 1000000) div (new_users + returning)"))
      .orderBy("d")
  }

  val qEvtNewReturningSql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
      |f AS (SELECT user_id, min(d) AS d0 FROM ud GROUP BY user_id)
      |SELECT CAST(d AS TIMESTAMP) AS d,
      |  CAST(sum(CASE WHEN ud.d = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS new_users,
      |  CAST(sum(CASE WHEN ud.d <> f.d0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS returning,
      |  CAST((sum(CASE WHEN ud.d = f.d0 THEN 1 ELSE 0 END) * 1000000)
      |    // count(*) AS BIGINT) AS new_ppm
      |FROM ud JOIN f USING (user_id)
      |GROUP BY d ORDER BY d""".stripMargin

  /** Weekly churn: of the users active in ISO-week w, how many are
    * absent in w+1 (the backward-looking complement of q_evt_retention's
    * forward cohort curve). Week keys are exact integer day-number
    * divisions (epoch-µs div), the membership probe is a LEFT anti-ish
    * join of the bounded (week, user) relation against its own
    * week-shifted alias, and churn is integer ppm.
    */
  def qUserChurn(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct()
    val nxt = uw.select(col("user_id"), (col("wk") - 1).as("wk"),
      lit(1L).as("active_next"))
    val last = uw.agg(max("wk").as("max_wk"))
    uw.join(nxt, Seq("user_id", "wk"), "left")
      .crossJoin(broadcast(last))
      .filter(col("wk") < col("max_wk"))
      .groupBy("wk")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("active_next").isNull, 1L).otherwise(0L))
          .as("n_churned"))
      .withColumn("churn_ppm",
        expr("(n_churned * 1000000) div n_active"))
      .orderBy("wk")
  }

  val qUserChurnSql: String =
    """WITH uw AS (SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
      |  FROM events),
      |nxt AS (SELECT user_id, wk - 1 AS wk, 1 AS active_next FROM uw),
      |mx AS (SELECT max(wk) AS max_wk FROM uw)
      |SELECT uw.wk AS wk, count(*) AS n_active,
      |  CAST(sum(CASE WHEN nxt.active_next IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_churned,
      |  CAST((sum(CASE WHEN nxt.active_next IS NULL THEN 1 ELSE 0 END)
      |    * 1000000) // count(*) AS BIGINT) AS churn_ppm
      |FROM uw LEFT JOIN nxt ON uw.user_id = nxt.user_id
      |  AND uw.wk = nxt.wk, mx
      |WHERE uw.wk < mx.max_wk
      |GROUP BY uw.wk ORDER BY uw.wk""".stripMargin

  /** Additive time-series decomposition of daily revenue cents:
    * trend = centered 7-day moving average (full windows only — the 3
    * edge days on each side are excluded), seasonal = per-day-of-week
    * mean residual, remainder = residual − seasonal. EVERY component is
    * exact integer cents (moving average and DOW mean via truncating
    * integer division — Spark `div` and DuckDB `//` BOTH truncate toward
    * zero, verified, so even the routinely-NEGATIVE seasonal residual
    * sums divide identically; do NOT "fix" either side to floor
    * semantics), so no float accumulates across the
    * three stages. The day series is calendar-bounded at any corpus
    * scale; dow is aligned to DuckDB's Sunday=0 convention.
    */
  def qEvtDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(expr("sum(CAST(round(value * 100) AS BIGINT))").as("total_cents"))
    val wMa = Window.orderBy("d").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n_win", count(lit(1)).over(wMa))
      .withColumn("trend_cents",
        expr("sum(total_cents) over (order by d rows between 3 preceding and 3 following) div 7"))
      .filter(col("n_win") === 7)
      .withColumn("resid", col("total_cents") - col("trend_cents"))
      .withColumn("dow", (dayofweek(col("d")) - 1).cast("long"))
    val seasonal = trended.groupBy("dow")
      .agg(expr("sum(resid) div count(*)").as("seasonal_cents"))
    trended.join(broadcast(seasonal), "dow")
      .select(col("d"), col("total_cents"), col("trend_cents"), col("dow"),
        col("seasonal_cents"),
        (col("resid") - col("seasonal_cents")).as("remainder_cents"))
      .orderBy("d")
  }

  val qEvtDecomposeSql: String =
    """WITH daily AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |      AS total_cents
      |  FROM events GROUP BY d),
      |t AS (SELECT d, total_cents,
      |    count(*) OVER w AS n_win,
      |    CAST(sum(total_cents) OVER w // 7 AS BIGINT) AS trend_cents
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |r AS (SELECT *, total_cents - trend_cents AS resid,
      |    CAST(dayofweek(d) AS BIGINT) AS dow
      |  FROM t WHERE n_win = 7),
      |se AS (SELECT dow, CAST(sum(resid) // count(*) AS BIGINT)
      |    AS seasonal_cents FROM r GROUP BY dow)
      |SELECT CAST(r.d AS TIMESTAMP) AS d, r.total_cents, r.trend_cents,
      |  r.dow, se.seasonal_cents,
      |  r.resid - se.seasonal_cents AS remainder_cents
      |FROM r JOIN se USING (dow) ORDER BY d""".stripMargin

  /** Nearest-in-time join: for every purchase event, the user's nearest
    * click in EITHER direction by |Δt| (backward as-of ∪ forward as-of,
    * closer side wins, backward on ties) — the two-sided completion of
    * the q_join_asof family. One interleaved per-user window with
    * IGNORE-NULLS last/first supplies both candidates without a range
    * join; output is |purchases|-sized.
    */
  def qEvtNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("click_id",
        when(col("event_type") === "click", col("event_id")))
      .withColumn("click_ts",
        when(col("event_type") === "click", col("ts_us")))
    val cand = ev
      .withColumn("prev_id", last("click_id", ignoreNulls = true)
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prev_ts", last("click_ts", ignoreNulls = true)
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_id", first("click_id", ignoreNulls = true)
        .over(byUser.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("next_ts", first("click_ts", ignoreNulls = true)
        .over(byUser.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
    cand.select(col("user_id"), col("event_id").as("purchase_id"),
      expr("""CASE
        | WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
        | WHEN prev_id IS NULL THEN next_id
        | WHEN next_id IS NULL THEN prev_id
        | WHEN ts_us - prev_ts <= next_ts - ts_us THEN prev_id
        | ELSE next_id END""".stripMargin).as("nearest_click_id"),
      expr("""CASE
        | WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
        | WHEN prev_id IS NULL THEN next_ts - ts_us
        | WHEN next_id IS NULL THEN ts_us - prev_ts
        | WHEN ts_us - prev_ts <= next_ts - ts_us THEN ts_us - prev_ts
        | ELSE next_ts - ts_us END""".stripMargin).as("delta_us"))
      .orderBy("user_id", "purchase_id")
  }

  val qEvtNearestSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CASE WHEN event_type = 'click' THEN event_id END AS click_id,
      |    CASE WHEN event_type = 'click' THEN
      |      epoch_us(CAST(ts AS TIMESTAMP)) END AS click_ts
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |c AS (SELECT *,
      |    last_value(click_id IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
      |    last_value(click_ts IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
      |    first_value(click_id IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id,
      |    first_value(click_ts IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
      |  FROM e)
      |SELECT user_id, event_id AS purchase_id,
      |  CASE
      |   WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
      |   WHEN prev_id IS NULL THEN next_id
      |   WHEN next_id IS NULL THEN prev_id
      |   WHEN ts_us - prev_ts <= next_ts - ts_us THEN prev_id
      |   ELSE next_id END AS nearest_click_id,
      |  CASE
      |   WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
      |   WHEN prev_id IS NULL THEN next_ts - ts_us
      |   WHEN next_id IS NULL THEN ts_us - prev_ts
      |   WHEN ts_us - prev_ts <= next_ts - ts_us THEN ts_us - prev_ts
      |   ELSE next_ts - ts_us END AS delta_us
      |FROM c WHERE event_type = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin

  // ───────── exact Shapley-value channel attribution (round 9) ─────────

  /** Data-driven multi-touch attribution with EXACT Shapley values over
    * the 4 non-purchase channels, at SESSION granularity (user-level
    * conversion is ~1 in this corpus — degenerate; sessions convert or
    * don't): each session's pre-first-purchase exposure set becomes a
    * 4-bit mask, the coalition value v(S) = P(session converts |
    * exposure ⊆ S) comes from the 16-cell mask histogram, and each
    * channel's Shapley credit is the standard weighted marginal sum
    * Σ w(\|S\|)·(v(S∪{i})−v(S)) — computable in closed form because
    * the channel set is BOUNDED (2⁴ coalitions), the trick that makes
    * game-theoretic attribution tractable at any corpus size.
    * Corpus-scale work is the shared [[Events.sessionized]] relation +
    * one session-windowed min + one bit_or aggregate; everything after
    * the 16-row histogram is bounded-grid math (containment join
    * 16×16, marginal table 4×8). Weights are exact rationals (¼,
    * 1/12) written identically on both engines; v(S) is a rational of
    * exact counts.
    */
  /** (mask, conv) per session — the exposure/conversion relation the
    * Shapley computation aggregates; package-visible so Wave9Spec can
    * verify the efficiency axiom against it independently. */
  private[graft] def shapleySessions(spark: SparkSession,
      sfDir: String): DataFrame = {
    val wSess = Window.partitionBy("user_id", "session_id")
    Events.sessionized(spark, sfDir)
      .withColumn("fp",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(wSess))
      .groupBy("user_id", "session_id")
      .agg(
        coalesce(expr(
          """bit_or(CASE WHEN event_type <> 'purchase'
            |    AND (fp IS NULL OR ts_us < fp)
            |  THEN CASE event_type WHEN 'click' THEN 1L
            |    WHEN 'signup' THEN 2L WHEN 'error' THEN 4L
            |    ELSE 8L END END)""".stripMargin), lit(0L)).as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
  }

  def qAttribShapley(spark: SparkSession, sfDir: String): DataFrame = {
    val sessions = shapleySessions(spark, sfDir)
    // ≤16 rows, but its lineage is the full sessionization pass over
    // events; v is consumed twice (v0/v1 broadcasts), so without the
    // checkpoint that corpus pass ran twice per invocation (round 12)
    val m = Tables.localCheckpoint(sessions.groupBy("mask")
      .agg(count(lit(1)).as("nu"), sum("conv").as("nc")), eager = false)
    val v = spark.range(16).select(col("id").as("s"))
      .join(broadcast(m), expr("(mask & s) = mask"))
      .groupBy("s")
      .agg(sum("nu").as("u"), sum("nc").as("c"))
      .select(col("s"),
        when(col("u") > 0L, col("c") / col("u")).otherwise(lit(0.0))
          .as("vv"))
    val ch = {
      import spark.implicits._
      Seq(("click", 1L), ("signup", 2L), ("error", 4L), ("view", 8L))
        .toDF("channel", "bit")
    }
    ch.crossJoin(broadcast(v.select(col("s"), col("vv").as("v0"))))
      .filter(expr("(s & bit) = 0"))
      .join(broadcast(v.select(col("s").as("s1"), col("vv").as("v1"))),
        expr("s1 = s + bit"))
      .select(col("channel"),
        (when(expr("bit_count(s)") === 0, lit(0.25))
          .when(expr("bit_count(s)") === 3, lit(0.25))
          .otherwise(lit(1.0) / 12.0) * (col("v1") - col("v0"))).as("t"))
      .groupBy("channel")
      .agg(round(sum("t"), 6).as("shapley"))
      .orderBy("channel")
  }

  val qAttribShapleySql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |flagged AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w
      |    > 1800000000 OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END
      |    AS gap
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (SELECT *, sum(gap) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
      |    CURRENT ROW) AS session_id FROM flagged),
      |wfp AS (SELECT *, min(CASE WHEN event_type = 'purchase' THEN ts_us
      |    END) OVER (PARTITION BY user_id, session_id) AS fp FROM sess),
      |sm AS (SELECT user_id, session_id,
      |    coalesce(bit_or(CASE WHEN event_type <> 'purchase'
      |        AND (fp IS NULL OR ts_us < fp)
      |      THEN CASE event_type WHEN 'click' THEN 1 WHEN 'signup' THEN 2
      |        WHEN 'error' THEN 4 ELSE 8 END END), 0) AS mask,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM wfp GROUP BY user_id, session_id),
      |m AS (SELECT mask, count(*) AS nu, sum(conv) AS nc
      |  FROM sm GROUP BY mask),
      |v AS (SELECT ss.s, CASE WHEN sum(nu) > 0
      |      THEN sum(nc) / CAST(sum(nu) AS DOUBLE) ELSE 0.0 END AS vv
      |  FROM generate_series(0, 15) ss(s)
      |  JOIN m ON (m.mask & ss.s) = m.mask GROUP BY ss.s),
      |ch AS (SELECT * FROM (VALUES ('click', 1), ('signup', 2),
      |    ('error', 4), ('view', 8)) c(channel, bit)),
      |terms AS (SELECT ch.channel,
      |    (CASE WHEN bit_count(v0.s) = 0 THEN 0.25
      |      WHEN bit_count(v0.s) = 3 THEN 0.25
      |      ELSE 1.0 / 12.0 END) * (v1.vv - v0.vv) AS t
      |  FROM ch JOIN v v0 ON (v0.s & ch.bit) = 0
      |  JOIN v v1 ON v1.s = v0.s + ch.bit)
      |SELECT channel, round(sum(t), 6) AS shapley
      |FROM terms GROUP BY channel ORDER BY channel""".stripMargin
}
