package graft.ops

import graft.{Op, Tables}
import graft.par._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log analytics: the batch half of the engine's stream surface
  * (graft.streaming holds the Structured Streaming equivalents).
  *
  * Oracle parity: all time math is done on integral epoch seconds
  * (`ts div 1e9` in Spark == `epoch_ns(ts) // 1e9` in DuckDB), so no
  * float time arithmetic can diverge.
  *
  * Scale notes: sessionization is a window over (user_id) — shuffles
  * once on user_id and stays partitioned for the session aggregation;
  * at 100 TB user_id is high-cardinality so partitions stay balanced.
  */
object Events {

  /** events.ts has shipped in two parquet encodings across corpus
    * generations: TIMESTAMP(NANOS), which vanilla Spark refuses and the
    * legacy flag reads as a raw nanosecond BIGINT, and
    * TIMESTAMP(MICROS) without UTC adjustment, which reads natively as
    * TIMESTAMP_NTZ. Normalize either to integral epoch seconds `es`
    * (== DuckDB `epoch_ns(ts) // 1e9`; both sides floor, and the
    * session timezone is pinned UTC so the NTZ wall clock IS the
    * epoch clock) and keep all downstream time math integral.
    */
  private[graft] def withEpoch(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables(s, dir, "events")
    val es = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr("unix_seconds(cast(ts as timestamp))")
      case _ => expr("unix_seconds(ts)")
    }
    ev.withColumn("es", es)
  }

  /** 30-minute-gap sessionization via lag + running sum of boundaries;
    * shared by e01 (the session table) and e10 (duration stats).
    */
  def sessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
    withEpoch(s, dir)
      .withColumn("prev_es", lag(col("es"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_es").isNull || col("es") - col("prev_es") > 1800, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("es")).as("start_es"),
        max(col("es")).as("end_es"),
        dsum(col("value"), 2).as("session_value"))
  }

  /** The session table, materialized once per (session, corpus) —
    * e01 emits it, e10 makes several selection passes over it.
    */
  def sessionsTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"sessions:$dir", "graft_sess")(sessions(s, dir))

  private def e01(s: SparkSession, dir: String): DataFrame =
    sessionsTable(s, dir).orderBy(col("user_id"), col("session_idx"))

  /** CTE chain ending in sess(user_id, session_idx, n_events,
    * start_es, end_es, session_value) — the oracle mirror of
    * [[sessions]].
    */
  private val sessionsCteSql = s"""
    ev AS (
      SELECT event_id, user_id, value, (epoch_ns(ts) // 1000000000) AS es
      FROM events),
    flagged AS (
      SELECT *, CAST(CASE WHEN prev_es IS NULL OR es - prev_es > 1800
          THEN 1 ELSE 0 END AS BIGINT) AS new_session
      FROM (SELECT *, lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev_es
            FROM ev)),
    numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM flagged),
    sess AS (
      SELECT user_id, session_idx, count(*) AS n_events,
        min(es) AS start_es, max(es) AS end_es,
        ${dsumSql("value", 2)} AS session_value
      FROM numbered
      GROUP BY user_id, session_idx)"""

  private val e01Sql = s"""
    WITH $sessionsCteSql
    SELECT user_id, session_idx, n_events, start_es, end_es, session_value
    FROM sess
    ORDER BY user_id, session_idx"""

  /** Hourly tumbling-window aggregate (batch analog of streaming agg). */
  private def e02(s: SparkSession, dir: String): DataFrame =
    withEpoch(s, dir)
      .withColumn("hour_start", (floor(col("es") / 3600) * 3600).cast("long"))
      .groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value"), 2).as("total_value"))
      .orderBy(col("hour_start"), col("event_type"))

  private val e02Sql = s"""
    SELECT CAST(FLOOR((epoch_ns(ts) // 1000000000) / 3600) * 3600 AS BIGINT) AS hour_start,
      event_type, count(*) AS n_events,
      count(DISTINCT user_id) AS n_users,
      ${dsumSql("value", 2)} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_start, event_type"""

  /** Day-over-day retention: users active on day d AND d+1. */
  private def e03(s: SparkSession, dir: String): DataFrame = {
    val days = withEpoch(s, dir)
      .select(col("user_id"), floor(col("es") / 86400).cast("long").as("day"))
      .distinct()
    val next = days.select(col("user_id").as("user_id2"), (col("day") - 1).as("day2"))
    days.join(next, col("user_id") === col("user_id2") && col("day") === col("day2"), "left")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
        count(col("user_id2")).as("retained_users"))
      .withColumn("retention_rate",
        col("retained_users").cast("double") / col("active_users").cast("double"))
      .orderBy(col("day"))
  }

  private val e03Sql = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(FLOOR((epoch_ns(ts) // 1000000000) / 86400) AS BIGINT) AS day
      FROM events)
    SELECT d.day, count(*) AS active_users,
      count(n.user_id) AS retained_users,
      CAST(count(n.user_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS retention_rate
    FROM days d
    LEFT JOIN days n ON n.user_id = d.user_id AND n.day = d.day + 1
    GROUP BY d.day
    ORDER BY d.day"""

  /** As-of join composed from built-ins (preference (a) before any
    * custom operator): each purchase matched to the user's most recent
    * click at-or-before it — one window pass carrying the last click
    * timestamp forward, no range-join blowup. At 100 TB this is a
    * single shuffle on user_id reused by the window sort.
    */
  private def e04(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("es"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withEpoch(s, dir)
      .withColumn("click_es",
        last(when(col("event_type") === "click", col("es")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("click_es").isNotNull)
      .select(col("event_id"), col("user_id"), col("es"), col("click_es"),
        (col("es") - col("click_es")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  private val e04Sql = """
    WITH ev AS (
      SELECT event_id, user_id, event_type, (epoch_ns(ts) // 1000000000) AS es
      FROM events),
    w AS (
      SELECT *, last_value(CASE WHEN event_type = 'click' THEN es END IGNORE NULLS)
        OVER (PARTITION BY user_id ORDER BY es, event_id ROWS UNBOUNDED PRECEDING) AS click_es
      FROM ev)
    SELECT event_id, user_id, es, click_es, es - click_es AS gap_s
    FROM w
    WHERE event_type = 'purchase' AND click_es IS NOT NULL
    ORDER BY event_id"""

  /** Ordered funnel: signup -> first click at-or-after it -> first
    * purchase at-or-after that click, per user; one aggregation pass
    * per stage, each a user_id-partitioned min (no per-user state on
    * the driver, no window blowup).
    */
  private def e05(s: SparkSession, dir: String): DataFrame = {
    val ev = withEpoch(s, dir).select(col("user_id"), col("event_type"), col("es"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("es"))).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1.filter(col("t1").isNotNull), Seq("user_id"))
      .filter(col("es") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("es")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("es") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("es")).as("t3"))
    val nUsers = s1.agg(count(lit(1)).as("n_users"))
    val nSignup = s1.filter(col("t1").isNotNull)
      .agg(count(lit(1)).as("n_signup"))
    val nClick = s2.agg(count(lit(1)).as("n_signup_click"))
    val nFull = s3.agg(count(lit(1)).as("n_full_funnel"))
    nUsers.crossJoin(nSignup).crossJoin(nClick).crossJoin(nFull)
  }

  private val e05Sql = """
    WITH ev AS (
      SELECT user_id, event_type, (epoch_ns(ts) // 1000000000) AS es FROM events),
    s1 AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN es END) AS t1
      FROM ev GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(e.es) AS t2
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL AND e.es >= s1.t1
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(e.es) AS t3
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.es >= s2.t2
      GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s1) AS n_users,
      (SELECT count(*) FROM s1 WHERE t1 IS NOT NULL) AS n_signup,
      (SELECT count(*) FROM s2) AS n_signup_click,
      (SELECT count(*) FROM s3) AS n_full_funnel"""

  /** Semi-structured extraction: pull the numeric `k` out of the JSON
    * props column and aggregate per event type — the schema-on-read
    * path every event pipeline needs. `get_json_object` is codegen'd;
    * no UDF.
    */
  private def e06(s: SparkSession, dir: String): DataFrame =
    withEpoch(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))

  private val e06Sql = """
    SELECT event_type, count(k) AS n_with_k,
      CAST(SUM(k) AS BIGINT) AS sum_k,
      MIN(k) AS min_k, MAX(k) AS max_k,
      count(DISTINCT k) AS n_distinct_k
    FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type ORDER BY event_type"""

  /** Hourly volume anomalies: z-score of each (type, hour) event count
    * against that type's hourly distribution. Counts are integral so
    * mean/std derive from exact integer sums; the double arithmetic
    * after that is order-pinned and identical in both engines.
    */
  private def e07(s: SparkSession, dir: String): DataFrame = {
    val hourly = withEpoch(s, dir)
      .withColumn("hour_start", (floor(col("es") / 3600) * 3600).cast("long"))
      .groupBy(col("event_type"), col("hour_start"))
      .agg(count(lit(1)).as("n_events"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_events")).as("sc"),
        sum(col("n_events") * col("n_events")).as("sq"))
    hourly.join(stats, Seq("event_type"))
      .withColumn("mean_c", col("sc").cast("double") / col("n"))
      .withColumn("std_c",
        sqrt(col("sq").cast("double") / col("n") - col("mean_c") * col("mean_c")))
      .withColumn("z", (col("n_events") - col("mean_c")) / col("std_c"))
      .filter(col("std_c") > 0 && abs(col("z")) >= 2.0)
      .select(col("event_type"), col("hour_start"), col("n_events"),
        col("mean_c"), col("std_c"), col("z"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  private val e07Sql = """
    WITH hourly AS (
      SELECT event_type,
        CAST(FLOOR((epoch_ns(ts) // 1000000000) / 3600) * 3600 AS BIGINT) AS hour_start,
        count(*) AS n_events
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, count(*) AS n,
        CAST(SUM(n_events) AS BIGINT) AS sc,
        CAST(SUM(n_events * n_events) AS BIGINT) AS sq
      FROM hourly GROUP BY 1),
    j AS (
      SELECT h.event_type, h.hour_start, h.n_events,
        CAST(sc AS DOUBLE) / n AS mean_c,
        sqrt(CAST(sq AS DOUBLE) / n
          - (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n)) AS std_c
      FROM hourly h JOIN stats s ON s.event_type = h.event_type)
    SELECT event_type, hour_start, n_events, mean_c, std_c,
      (n_events - mean_c) / std_c AS z
    FROM j WHERE std_c > 0 AND abs((n_events - mean_c) / std_c) >= 2.0
    ORDER BY event_type, hour_start"""

  /** Event-type transition matrix: per-user consecutive event pairs
    * (Markov-chain edge counts) — one lead() window over the same
    * user_id/es ordering the sessionizer uses, then a count per
    * (from, to) pair.
    */
  private def e08(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
    withEpoch(s, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val e08Sql = """
    WITH ev AS (
      SELECT event_id, user_id, event_type, (epoch_ns(ts) // 1000000000) AS es
      FROM events),
    nxt AS (
      SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY es, event_id) AS next_type
      FROM ev)
    SELECT event_type AS from_type, next_type AS to_type,
      count(*) AS n_transitions, count(DISTINCT user_id) AS n_users
    FROM nxt WHERE next_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY from_type, to_type"""

  /** Daily event counts pivoted to one column per type (crosstab —
    * the wide-format export BI and feature pipelines ask for). The
    * value list is pinned so the output schema is static; Catalyst
    * compiles pivot to conditional aggregates, mirrored literally in
    * the oracle.
    */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def e09(s: SparkSession, dir: String): DataFrame =
    withEpoch(s, dir)
      .withColumn("day", floor(col("es") / 86400).cast("long"))
      .groupBy(col("day"))
      .pivot(col("event_type"), eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)
      .orderBy(col("day"))

  private val e09Sql = {
    val cols = eventTypes.map(t =>
      s"""count(CASE WHEN event_type = '$t' THEN 1 END) AS "$t"""").mkString(", ")
    s"""
    SELECT CAST(FLOOR((epoch_ns(ts) // 1000000000) / 86400) AS BIGINT) AS day, $cols
    FROM events GROUP BY 1 ORDER BY day"""
  }

  /** Session-duration/engagement distribution — the product metric the
    * sessionizer feeds: exact interpolated percentiles of session
    * length and per-session event count, over a session-materialized
    * sessions table, through [[graft.util.OrderStats.percentiles]]
    * (its class doc holds the built-in/selection switch; the oracle is
    * unchanged on either path).
    */
  private def e10(s: SparkSession, dir: String): DataFrame = {
    import graft.util.OrderStats.Percentile
    val dur = col("end_es") - col("start_es")
    graft.util.OrderStats.percentiles(sessionsTable(s, dir), Nil,
        Seq(Percentile(dur, 0.5, "p50_duration_s"), Percentile(dur, 0.9, "p90_duration_s"),
          Percentile(col("n_events"), 0.5, "p50_events")),
        Seq(count(lit(1)).as("n_sessions"),
          sum(col("n_events").cast(org.apache.spark.sql.types.DecimalType(18, 0)))
            .cast("long").as("total_events")))
      .select(col("n_sessions"), col("p50_duration_s"), col("p90_duration_s"),
        col("p50_events"), col("total_events"))
  }

  private val e10Sql = s"""
    WITH $sessionsCteSql
    SELECT count(*) AS n_sessions,
      percentile_cont(0.5) WITHIN GROUP (ORDER BY end_es - start_es) AS p50_duration_s,
      percentile_cont(0.9) WITHIN GROUP (ORDER BY end_es - start_es) AS p90_duration_s,
      percentile_cont(0.5) WITHIN GROUP (ORDER BY n_events) AS p50_events,
      CAST(SUM(CAST(n_events AS DECIMAL(18,0))) AS BIGINT) AS total_events
    FROM sess"""

  // ---- e11: rolling distinct users from merged KMV sketches ---------
  /** 7-day rolling distinct users per event_type, computed by MERGING
    * per-day KMV sketches — the reason sketches (not just sampled
    * counts) matter for a rolling metric at 100 TB: exact rolling
    * distinct cannot reuse yesterday's answer (distinct counts don't
    * subtract), so every day costs a full re-scan of the window's
    * events; daily min-k sketches merge in O(7k log 7k) per group per
    * day, reading no event twice. Correctness of the merge is
    * structural: each day retains its k smallest distinct user
    * hashes, and any of the window's k smallest is among its own
    * day's k smallest, so the union of daily sketches contains the
    * window's true bottom-k — the merged estimate equals the one a
    * single pass over the whole window would produce, which is
    * exactly what the DuckDB oracle computes (rank over the window's
    * distinct hashes, no sketch simulation needed).
    *
    * Groups with fewer than k distinct hashes degrade to the exact
    * (hash-)distinct count, same convention as q18. The exact
    * 7-day countDistinct rides along as the accuracy witness — each
    * event row is exploded to the ≤7 windows it serves (map-side ×7,
    * then one shuffle of (type, day, user)), which is the linear cost
    * the sketch path replaces and would be dropped at scale.
    */
  private val rkK = 64

  /** Events with the shared rolling-distinct key hash and day index. */
  private def rkEvents(s: SparkSession, dir: String): DataFrame =
    graft.functions.Hash32.withH32(
      withEpoch(s, dir).withColumn("day_idx", expr("es div 86400")),
      "rk:", col("user_id").cast("string"))

  /** The merged rolling sketch — (event_type, day_idx, n_kept,
    * kmv_est_7d) — shared by e11 (witnessed) and e12 (scale form).
    */
  private def rollingSketch(ev: DataFrame): DataFrame = {
    import graft.functions.TopKAggregate
    // per-(type, day) sketch: ascending array of the k smallest
    // DISTINCT user hashes (score = −h ⇒ k-smallest, distinct
    // payloads ⇒ set semantics; bounded k-entry state, exact
    // partial/merge decomposition on the exchange)
    val daily = ev.groupBy(col("event_type"), col("day_idx"))
      .agg(TopKAggregate.topKScoredDistinct(
        negate(col("h32").cast("double")), col("h32"), rkK).as("mins"))
      .select(col("event_type"), col("day_idx"),
        expr("transform(mins, x -> x.payload)").as("sk"))
    // merge the window's ≤7 sketches: union-distinct, re-sort, kth
    // smallest is the same R a single whole-window pass would find
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("day_idx")).rangeBetween(-6, 0)
    daily
      .withColumn("u", array_sort(array_distinct(flatten(collect_list(col("sk")).over(w)))))
      .withColumn("nu", size(col("u")).cast("long"))
      .select(Seq(col("event_type"), col("day_idx")) ++ TopKAggregate.kmvEstimate(
        col("nu"), element_at(col("u"), rkK), rkK, "kmv_est_7d"): _*)
  }

  private def e11(s: SparkSession, dir: String): DataFrame = {
    val ev = rkEvents(s, dir)
    val exact = ev
      .select(col("event_type"), col("user_id"),
        explode(expr("sequence(day_idx, day_idx + 6)")).as("day_idx"))
      .groupBy(col("event_type"), col("day_idx"))
      .agg(countDistinct(col("user_id")).as("n_exact_7d"))
    rollingSketch(ev).join(exact, Seq("event_type", "day_idx"))
      .select(col("event_type"),
        date_format(date_from_unix_date(col("day_idx").cast("int")), "yyyy-MM-dd").as("day"),
        col("n_exact_7d"), col("n_kept"), col("kmv_est_7d"))
      .orderBy(col("event_type"), col("day"))
  }

  // ---- e12: rolling distinct, sketch-only — the scale form ----------
  /** e11 WITHOUT the exact witness — the plan a 100 TB metrics
    * pipeline actually schedules. e11's measured cost is dominated by
    * its accuracy witness, which explodes EVERY event to the ≤7
    * windows it serves (the linear-in-window-length re-read the
    * sketch exists to avoid) and has always been documented "dropped
    * at scale"; this registers that drop, the d05→d12 pattern. What
    * remains reads each event once into a bounded k-entry daily
    * sketch and merges ≤7 of those per output row; the witnessed e11
    * stays registered as the accuracy evidence at oracle scale.
    */
  private def e12(s: SparkSession, dir: String): DataFrame =
    rollingSketch(rkEvents(s, dir))
      .select(col("event_type"),
        date_format(date_from_unix_date(col("day_idx").cast("int")), "yyyy-MM-dd").as("day"),
        col("n_kept"), col("kmv_est_7d"))
      .orderBy(col("event_type"), col("day"))

  private val e12Sql = s"""
    WITH ev AS (
      SELECT event_type, (epoch_ns(ts) // 1000000000) // 86400 AS day_idx,
        ${graft.functions.Hash32.h32Duck("'rk:' || CAST(user_id AS VARCHAR)")} AS h32
      FROM events),
    days AS (SELECT DISTINCT event_type, day_idx FROM ev),
    dh AS (SELECT DISTINCT event_type, day_idx, h32 FROM ev),
    wh AS (
      SELECT DISTINCT d.event_type, d.day_idx, h.h32
      FROM days d JOIN dh h ON h.event_type = d.event_type
        AND h.day_idx BETWEEN d.day_idx - 6 AND d.day_idx),
    ranked AS (
      SELECT event_type, day_idx, h32,
        row_number() OVER (PARTITION BY event_type, day_idx ORDER BY h32) AS rn
      FROM wh),
    sk AS (
      SELECT event_type, day_idx,
        CAST(least(max(rn), $rkK) AS BIGINT) AS n_kept,
        max(CASE WHEN rn = $rkK THEN h32 END) AS kth,
        max(rn) AS m
      FROM ranked GROUP BY event_type, day_idx)
    SELECT sk.event_type,
      CAST(DATE '1970-01-01' + CAST(sk.day_idx AS INTEGER) AS VARCHAR) AS day,
      sk.n_kept,
      CASE WHEN sk.m < $rkK THEN CAST(sk.m AS DOUBLE)
           ELSE CAST(${rkK - 1} AS DOUBLE) * 4294967296.0 / (CAST(sk.kth AS DOUBLE) + CAST(1 AS DOUBLE))
      END AS kmv_est_7d
    FROM sk
    ORDER BY sk.event_type, day"""

  private val e11Sql = s"""
    WITH ev AS (
      SELECT event_type, (epoch_ns(ts) // 1000000000) // 86400 AS day_idx,
        user_id,
        ${graft.functions.Hash32.h32Duck("'rk:' || CAST(user_id AS VARCHAR)")} AS h32
      FROM events),
    days AS (SELECT DISTINCT event_type, day_idx FROM ev),
    dh AS (SELECT DISTINCT event_type, day_idx, h32 FROM ev),
    wh AS (
      SELECT DISTINCT d.event_type, d.day_idx, h.h32
      FROM days d JOIN dh h ON h.event_type = d.event_type
        AND h.day_idx BETWEEN d.day_idx - 6 AND d.day_idx),
    ranked AS (
      SELECT event_type, day_idx, h32,
        row_number() OVER (PARTITION BY event_type, day_idx ORDER BY h32) AS rn
      FROM wh),
    sk AS (
      SELECT event_type, day_idx,
        CAST(least(max(rn), $rkK) AS BIGINT) AS n_kept,
        max(CASE WHEN rn = $rkK THEN h32 END) AS kth,
        max(rn) AS m
      FROM ranked GROUP BY event_type, day_idx),
    ex AS (
      SELECT d.event_type, d.day_idx, count(DISTINCT e.user_id) AS n_exact_7d
      FROM days d JOIN ev e ON e.event_type = d.event_type
        AND e.day_idx BETWEEN d.day_idx - 6 AND d.day_idx
      GROUP BY d.event_type, d.day_idx)
    SELECT sk.event_type,
      CAST(DATE '1970-01-01' + CAST(sk.day_idx AS INTEGER) AS VARCHAR) AS day,
      ex.n_exact_7d, sk.n_kept,
      CASE WHEN sk.m < $rkK THEN CAST(sk.m AS DOUBLE)
           ELSE CAST(${rkK - 1} AS DOUBLE) * 4294967296.0 / (CAST(sk.kth AS DOUBLE) + CAST(1 AS DOUBLE))
      END AS kmv_est_7d
    FROM sk
    JOIN ex ON ex.event_type = sk.event_type AND ex.day_idx = sk.day_idx
    ORDER BY sk.event_type, day"""

  // ---- e13: interval join via time-bucket blocking -------------------
  /** Interval join: each purchase counts the same user's clicks in the
    * preceding 30 minutes — the general range-join shape (e04's as-of
    * join carries only the LATEST click forward; an interval aggregate
    * needs EVERY click in the window). Left alone, a pure time-range
    * predicate plans as broadcast-nested-loop or cartesian — the
    * O(clicks × purchases) death at any scale. Re-expressed as an
    * EQUI-join on (user_id, time bucket): with the bucket width equal
    * to the window length, every click lives in exactly one bucket and
    * a purchase's half-open window [es−W, es) spans at most two, so
    * each purchase probes its own bucket and the previous one
    * (map-side ×2 explode of the narrow probe row), the exact window
    * predicate filters the bounded candidates, and a click can match a
    * given purchase through only ONE of its two probes (a click has
    * one bucket), so no dedup is needed before the count. One shuffle
    * per side on hash-uniform (user, bucket) keys — linear candidate
    * volume, and hot users ride the same AQE skew handling every
    * equi-join gets.
    */
  private val IntervalS = 1800L

  /** The general interval-count operator: per purchase, the count of
    * the same user's clicks in the preceding `windowS` seconds,
    * blocked on time buckets of `bucketS` seconds. A click's bucket is
    * es div B; a purchase's half-open window [es−W, es) spans buckets
    * (es div B) − ⌈W/B⌉ … es div B, so each purchase probes
    * ⌈W/B⌉ + 1 buckets (map-side explode of the narrow probe row —
    * the e13 case W = B probes exactly 2). A click still matches a
    * given purchase through only ONE probe (a click has one bucket),
    * so no dedup precedes the count, and the plan stays pure equi-join
    * at every (W, B) — the no-nested-loop pin R13OpsSpec asserts
    * across widths. Decoupling B from W is the tuning knob a real
    * deployment needs: B ≪ W tightens candidate precision for long
    * windows at the price of more probes; B = W minimizes probes.
    */
  private[graft] def intervalCounts(ev: DataFrame, windowS: Long,
      bucketS: Long, outCol: String): DataFrame = {
    require(windowS > 0 && bucketS > 0)
    val nProbe = (windowS + bucketS - 1) / bucketS + 1
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("es").as("ces"),
        expr(s"es div $bucketS").as("cb"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("es"),
        explode(expr(
          s"sequence(es div $bucketS - ${nProbe - 1}, es div $bucketS)")).as("cb"))
    purchases
      .join(clicks, Seq("user_id", "cb"), "left")
      .groupBy(col("event_id"), col("user_id"), col("es"))
      .agg(count(when(col("ces") >= col("es") - windowS &&
        col("ces") < col("es"), lit(1))).as(outCol))
      .orderBy(col("event_id"))
  }

  private def e13(s: SparkSession, dir: String): DataFrame =
    intervalCounts(withEpoch(s, dir), IntervalS, IntervalS, "n_clicks_30m")

  /** e14: the same operator at a DIFFERENT (window, bucket) pair — a
    * 2-hour window blocked on 30-min buckets (5 probes per purchase) —
    * so the parameterized form, not just e13's W = B special case, is
    * oracle-checked.
    */
  private def e14(s: SparkSession, dir: String): DataFrame =
    intervalCounts(withEpoch(s, dir), 7200L, IntervalS, "n_clicks_2h")

  private def intervalSql(windowS: Long, outCol: String) = s"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, (epoch_ns(ts) // 1000000000) AS es
      FROM events),
    p AS (SELECT event_id, user_id, es FROM ev WHERE event_type = 'purchase'),
    c AS (SELECT user_id, es AS ces FROM ev WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.es, count(c.ces) AS $outCol
    FROM p LEFT JOIN c ON c.user_id = p.user_id
      AND c.ces >= p.es - $windowS AND c.ces < p.es
    GROUP BY p.event_id, p.user_id, p.es
    ORDER BY p.event_id"""

  private val e13Sql = intervalSql(IntervalS, "n_clicks_30m")
  private val e14Sql = intervalSql(7200L, "n_clicks_2h")

  val ops: Seq[Op] = Seq(
    Op("e01_sessionize", e01, Some(e01Sql)),
    Op("e13_interval_counts", e13, Some(e13Sql)),
    Op("e14_interval_counts_2h", e14, Some(e14Sql)),
    Op("e11_rolling_distinct_kmv", e11, Some(e11Sql)),
    Op("e12_rolling_distinct_scale", e12, Some(e12Sql)),
    Op("e09_pivot", e09, Some(e09Sql)),
    Op("e10_session_stats", e10, Some(e10Sql)),
    Op("e02_tumbling_window", e02, Some(e02Sql)),
    Op("e03_retention", e03, Some(e03Sql)),
    Op("e04_asof_join", e04, Some(e04Sql)),
    Op("e05_funnel", e05, Some(e05Sql)),
    Op("e06_json_props", e06, Some(e06Sql)),
    Op("e07_anomaly_zscore", e07, Some(e07Sql)),
    Op("e08_transitions", e08, Some(e08Sql)))
}
