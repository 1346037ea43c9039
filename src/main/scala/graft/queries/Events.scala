package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Sessionize
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** Event analytics: sessions, funnels, cohorts, attribution and
  * per-user windows. */
object Events {

  val defs: Seq[QueryDef] = Seq(

    // #28: gap-based sessionization (30-minute gap)
    QueryDef("q_sessionize", (s, dir) =>
      Sessionize.sessions(t(s, dir, "events"), "user_id", "ts", "event_id", 1800.0),
      """WITH x AS (
        |  SELECT user_id, event_id, epoch(ts) AS sec,
        |    CASE WHEN lag(epoch(ts)) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, sec,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
        |  CAST(FLOOR(MIN(sec)) AS BIGINT) AS start_s,
        |  CAST(FLOOR(MAX(sec)) AS BIGINT) AS end_s
        |FROM y GROUP BY user_id, session_seq""".stripMargin),

    // #88: sequential conversion funnel (view -> click -> purchase with
    // strictly increasing times per user): three chained aggregations,
    // one ANSI text on both engines; each stage is one shuffle on user
    //
    // Sequential funnel, shared verbatim: per-user first 'view', first
    // 'click' strictly after it, first 'purchase' strictly after that.
    // Timestamps compare natively within each engine; only counts
    // surface.
    QueryDef.sql("q_funnel",
      """WITH a AS (
        |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM events GROUP BY user_id),
        |b AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'click' AND e.ts > a.t_view
        |  GROUP BY e.user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > b.t_click
        |  GROUP BY e.user_id)
        |SELECT
        |  (SELECT COUNT(*) FROM a WHERE t_view IS NOT NULL) AS n_view,
        |  (SELECT COUNT(*) FROM b) AS n_click,
        |  (SELECT COUNT(*) FROM c) AS n_purchase""".stripMargin),

    // #100: event inter-arrival histogram (per-user gap distribution,
    // minutes capped at 60) — one window pass on (user, time), integer
    // seconds throughout
    QueryDef("q_interarrival", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("gap", col("es") - lag(col("es"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(least(expr("gap div 60"), lit(60L)).as("gap_min"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, ts FROM events),
        |g AS (SELECT es - lag(es) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS gap FROM e)
        |SELECT least(gap // 60, 60) AS gap_min, count(*) AS n
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY gap_min""".stripMargin),

    // #104: hopping (sliding) windows in batch — Spark's window() with
    // a slide emits every covering slot per event (W/S assignments, here
    // 2), then a plain hash agg; win_start surfaces as epoch seconds
    QueryDef("q_hopping_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n")),
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |w AS (SELECT event_type, (es // 1800) * 1800 - k * 1800 AS win_start
        |  FROM e, unnest([0, 1]) AS u(k))
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY win_start, event_type""".stripMargin),

    // #105: native session_window aggregation in BATCH (the streaming
    // gap-close operator reused on static data) — same shape as
    // q_sessionize but via the built-in, with its [start, start+gap)
    // overlap semantics (new session at diff >= gap, vs sessionize's >)
    QueryDef("q_session_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("sess_start"),
          col("n_events")),
      """WITH x AS (
        |  SELECT user_id, epoch(ts) AS sec, event_id,
        |    CASE WHEN lag(epoch(ts)) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts)) OVER w >= 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, sec,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x
        |)
        |SELECT user_id, CAST(FLOOR(MIN(sec)) AS BIGINT) AS sess_start,
        |  COUNT(*) AS n_events
        |FROM y GROUP BY user_id, session_seq""".stripMargin),

    // #130: distinct users per hopping window (audience-reach metric) —
    // exact count_distinct per 1h/30m slot; at 100 TB the drop-in is
    // approx_count_distinct (HLL) on the same plan shape
    QueryDef("q_window_users", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("n_users"), col("n_events")),
      """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |w AS (SELECT user_id, (es // 1800) * 1800 - k * 1800 AS win_start
        |  FROM e, unnest([0, 1]) AS u(k))
        |SELECT win_start, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM w GROUP BY win_start""".stripMargin),

    // #198: clamped running balance (inventory / wallet floor-at-zero):
    // B_t = max(0, B_{t-1} + d_t) looks inherently sequential — but the
    // reflection identity B_t = P_t − min(0, min_{s≤t} P_s) (P = plain
    // prefix sum) makes it TWO window aggregates sharing one
    // (user → ts, seq) exchange+sort. Deltas stay decimal-exact end to
    // end, so no float-order concerns; the oracle replays the literal
    // per-step clamp as a recursive CTE, proving the identity. The final
    // round(·,2) pins the double representation: DuckDB's wide-decimal
    // (int128) → double cast is off by an ULP from Spark's BigDecimal
    // path, and both sides round back to the canonical 2-dp double.
    QueryDef("q_clamped_balance", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          (col("value").cast("decimal(18,2)") - lit(50)).as("d"))
        .withColumn("p", sum(col("d")).over(w))
        .withColumn("m", min(col("p")).over(w))
        .select(col("event_id"),
          round((col("p") - least(col("m"), lit(0).cast("decimal(18,2)")))
            .cast("double"), 2).as("balance"))
    },
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) - 50 AS d,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk(user_id, event_id, rn, balance) AS (
        |  SELECT user_id, event_id, rn,
        |    CAST(GREATEST(CAST(0 AS DECIMAL(18,2)), d) AS DECIMAL(18,2))
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.event_id, s.rn,
        |    CAST(GREATEST(CAST(0 AS DECIMAL(18,2)), w.balance + s.d) AS DECIMAL(18,2))
        |  FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1)
        |SELECT event_id, round(CAST(balance AS DOUBLE), 2) AS balance FROM walk""".stripMargin),

    // #196: TRAILING-7-day distinct users per day (rolling DAU/WAU) —
    // count_distinct over a sliding range frame would re-scan events
    // per window and a distinct inside a window frame isn't supported
    // anyway; instead dedup FIRST to the (day, user) table (≪ events),
    // explode each row onto the ≤7 observation days it serves, dedup
    // the bounded 7× table, and count — every shuffle is user-day-sized,
    // events are scanned once.
    QueryDef("q_rolling_distinct", (s, dir) => {
      // r18 (guide §3.3): du feeds days, contrib and u1 — checkpoint
      // the distinct user-day table once (3 scans → 1)
      val du = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        .eagerCheckpoint()
      val days = du.select(col("day")).distinct()
      val contrib = du
        .select(col("day"), col("user_id"),
          explode(sequence(lit(0), lit(6))).as("i"))
        .select(date_add(col("day"), col("i")).as("day"), col("user_id"))
        .distinct()
      val u7 = contrib.join(days, "day")
        .groupBy(col("day")).agg(count(lit(1)).as("u7"))
      val u1 = du.groupBy(col("day")).agg(count(lit(1)).as("u1"))
      u1.join(u7, "day")
        .select(unix_date(col("day")).cast("long").as("day"),
          col("u1"), col("u7"))
        .orderBy(col("day"))
    },
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |contrib AS (SELECT DISTINCT day + i AS day, user_id
        |  FROM du CROSS JOIN unnest([0,1,2,3,4,5,6]) AS t(i)),
        |u7 AS (SELECT c.day, count(*) AS u7
        |  FROM contrib c JOIN days USING (day) GROUP BY c.day),
        |u1 AS (SELECT day, count(*) AS u1 FROM du GROUP BY day)
        |SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day, u1, u7
        |FROM u1 JOIN u7 USING (day) ORDER BY day""".stripMargin),

    // #131: weekly cohort retention matrix (first-seen week × offset) —
    // the classic growth-analytics query; distinct (user, week) first so
    // the cohort join and the count are user-week-sized, integer-exact
    QueryDef("q_retention", (s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"), expr("unix_timestamp(ts) div 604800").as("wk"))
        .distinct()
      val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("wk0"))
      uw.join(cohort, "user_id")
        .groupBy(col("wk0").as("cohort_week"), (col("wk") - col("wk0")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
      """WITH e AS (SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS wk0 FROM e GROUP BY user_id)
        |SELECT wk0 AS cohort_week, wk - wk0 AS week_offset, count(*) AS n_users
        |FROM e JOIN c USING (user_id) GROUP BY cohort_week, week_offset""".stripMargin),

    // #215: funnel time-to-convert (signup → first qualifying
    // purchase) with exact discrete percentiles: latencies quantize
    // to whole hours, so the p50/p90 are order statistics read off a
    // latency-domain-sized histogram cumulative (the
    // q_percentile_disc trick on a DERIVED duration) — no global sort
    // of users, no interpolated quantiles. Second diffs and target
    // ranks ceil(qN) are pure integer arithmetic in both engines; the
    // per-user first-purchase-after-signup is one user-keyed join +
    // min agg, user-sized shuffles only.
    QueryDef("q_funnel_latency", (s, dir) => {
      val ev = t(s, dir, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val lat = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("ts") >= col("s_ts"))
        .groupBy(col("user_id"), col("s_ts")).agg(min(col("ts")).as("p_ts"))
        .select(((unix_timestamp(col("p_ts")) - unix_timestamp(col("s_ts")))
          .cast("long")).as("secs"))
        .select(expr("secs div 3600").as("h"))
      // r18 (guide §3.3): hist feeds cum and tot — checkpoint the
      // hour histogram once (the signup⋈purchase pipeline runs once)
      val hist = lat.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val wc = boundedGlobal("hour-latency histogram, |distinct hours| rows")
        .orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(wc))
      val tot = hist.agg(sum(col("c")).cast("long").as("nn"))
      val j = cum.crossJoin(broadcast(tot))
      j.agg(max(col("nn")).as("n_users"),
          min(when(col("cum") >= expr("(nn + 1) div 2"), col("h")))
            .as("p50_hours"),
          min(when(col("cum") >= expr("(9 * nn + 9) div 10"), col("h")))
            .as("p90_hours"))
    },
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |lat AS (SELECT (datediff('second', su.s_ts, min(e.ts)) // 3600) AS h
        |  FROM events e JOIN su ON su.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
        |  GROUP BY e.user_id, su.s_ts),
        |hist AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY h),
        |cum AS (SELECT h, c, CAST(SUM(c) OVER (ORDER BY h
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hist),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM hist)
        |SELECT max(nn) AS n_users,
        |  min(CASE WHEN cum >= (nn + 1) // 2 THEN h END) AS p50_hours,
        |  min(CASE WHEN cum >= (9 * nn + 9) // 10 THEN h END) AS p90_hours
        |FROM cum, tot""".stripMargin),

    // #239: peak concurrent sessions per day (capacity planning /
    // load-envelope metric): classic +1/−1 boundary sweep over the
    // Sessionize intervals, day-clipped so the cumulative runs
    // per-day. Boundaries aggregate per (day, second) FIRST — running
    // concurrency after a tick's arrivals is cum_prev + plus, which
    // makes the sweep deterministic under timestamp ties (row-level
    // prefix sums inside a tie group are permutation-dependent;
    // group-level ones are not). End-exclusive at ce+1; peak time is
    // the earliest tick attaining the max.
    QueryDef("q_concurrency", (s, dir) => {
      val sess = Sessionize.sessions(t(s, dir, "events"),
        "user_id", "ts", "event_id", 1800.0)
      // r18 (guide §3.3): both sweep-event union branches consume the
      // clipped sessions — checkpoint once (2 sessionize passes → 1)
      val clipped = sess
        .withColumn("d", explode(sequence(expr("start_s div 86400"),
          expr("end_s div 86400"))))
        .withColumn("cs", greatest(col("start_s"), col("d") * 86400L))
        .withColumn("ce", least(col("end_s"), col("d") * 86400L + 86399L))
        .eagerCheckpoint()
      val bounds = clipped
        .select(col("d"), col("cs").as("t"), lit(1L).as("delta"))
        .union(clipped.select(col("d"), (col("ce") + 1L).as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("d"), col("t"))
        .agg(sum(col("delta")).as("net"),
          sum(when(col("delta") > 0, col("delta")).otherwise(0L)).as("plus"))
      val wc = Window.partitionBy(col("d")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val swept = bounds.withColumn("cum", sum(col("net")).over(wc))
        .withColumn("gm", col("cum") - col("net") + col("plus"))
      swept.groupBy(col("d"))
        .agg(max(col("gm")).as("peak"),
          max_by(col("t"), struct(col("gm"), negate(col("t")))).as("at_s"))
        .select(col("d").as("day"), col("peak"), col("at_s"))
        .orderBy(col("day"))
    },
      """WITH x AS (
        |  SELECT user_id, event_id, epoch(ts) AS sec,
        |    CASE WHEN lag(epoch(ts)) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, sec,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x
        |), sess AS (
        |  SELECT CAST(FLOOR(MIN(sec)) AS BIGINT) AS start_s,
        |    CAST(FLOOR(MAX(sec)) AS BIGINT) AS end_s
        |  FROM y GROUP BY user_id, session_seq
        |), clipped AS (
        |  SELECT d, GREATEST(start_s, d * 86400) AS cs,
        |    LEAST(end_s, d * 86400 + 86399) AS ce
        |  FROM (SELECT start_s, end_s,
        |      unnest(generate_series(start_s // 86400, end_s // 86400)) AS d
        |    FROM sess)
        |), bounds AS (
        |  SELECT d, t, CAST(SUM(delta) AS BIGINT) AS net,
        |    CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS plus
        |  FROM (SELECT d, cs AS t, 1 AS delta FROM clipped
        |    UNION ALL SELECT d, ce + 1 AS t, -1 AS delta FROM clipped)
        |  GROUP BY d, t
        |), swept AS (
        |  SELECT d, t, net, plus,
        |    CAST(SUM(net) OVER (PARTITION BY d ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM bounds
        |), gm AS (SELECT d, t, cum - net + plus AS gm FROM swept),
        |mx AS (SELECT d, t, gm, MAX(gm) OVER (PARTITION BY d) AS mxg FROM gm)
        |SELECT d AS day, CAST(MAX(gm) AS BIGINT) AS peak,
        |  MIN(CASE WHEN gm = mxg THEN t END) AS at_s
        |FROM mx GROUP BY d ORDER BY day""".stripMargin),

    // #233: daily growth accounting (new / retained / resurrected /
    // churned + quick ratio — the growth-analytics decomposition of
    // DAU beside row 131's cohort retention): classify each (user,
    // active-day) row against the user's PREVIOUS active day (lag)
    // and charge churn to the day AFTER an activity gap (lead), so
    // the whole report rides one (user → day) exchange with two
    // window functions — no day×user matrix, no self-joins. Counts
    // are exact integers; the quick ratio is the only float,
    // round(9), null on churn-free days.
    QueryDef("q_growth_accounting", (s, dir) => {
      val da = t(s, dir, "events")
        .select(col("user_id"), unix_date(to_date(col("ts"))).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      // r18 (guide §3.3): flagged feeds the state rollup AND the churn
      // pass — checkpoint the windowed frame once (2 window passes → 1)
      val flagged = da
        .withColumn("prev", lag(col("day"), 1).over(w))
        .withColumn("nxt", lead(col("day"), 1).over(w))
        .eagerCheckpoint()
      val maxDay = da.agg(max(col("day")).as("max_day"))
      val states = flagged
        .withColumn("state", when(col("prev").isNull, lit("new"))
          .when(col("prev") === col("day") - 1, lit("retained"))
          .otherwise(lit("resurrected")))
      val active = states.groupBy(col("day"))
        .agg(sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("state") === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("state") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
      val churn = flagged.crossJoin(broadcast(maxDay))
        .filter((col("nxt").isNull || col("nxt") > col("day") + 1) &&
          col("day") + 1 <= col("max_day"))
        .groupBy((col("day") + 1).as("day"))
        .agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("day"), "left")
        .na.fill(0L, Seq("n_churned"))
        .select(col("day"), col("n_new"), col("n_retained"),
          col("n_resurrected"), col("n_churned"),
          when(col("n_churned") > 0,
            round((col("n_new") + col("n_resurrected")).cast("double") /
              col("n_churned").cast("double"), 9)).as("quick_ratio"))
        .orderBy(col("day"))
    },
      """WITH da AS (SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, day,
        |    lag(day) OVER w AS prev, lead(day) OVER w AS nxt
        |  FROM da WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |md AS (SELECT max(day) AS max_day FROM da),
        |act AS (SELECT day,
        |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_resurrected
        |  FROM f GROUP BY day),
        |ch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM f, md
        |  WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= max_day
        |  GROUP BY day + 1)
        |SELECT act.day, n_new, n_retained, n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned,
        |  CASE WHEN COALESCE(n_churned, 0) > 0
        |    THEN ROUND(CAST(n_new + n_resurrected AS DOUBLE)
        |      / CAST(n_churned AS DOUBLE), 9) END AS quick_ratio
        |FROM act LEFT JOIN ch ON ch.day = act.day
        |ORDER BY act.day""".stripMargin),

    // #232: top behavioral trigram paths (the sequential-pattern step
    // past q_transitions' bigram matrix — "view→click→purchase"-style
    // micro-journeys): two leads over ONE (user → ts, id) exchange
    // build consecutive event-type triples in place (no self-joins),
    // then a hash-agg counts paths; top-20 through per-partition
    // heaps. Deterministic tie order on the path string.
    QueryDef("q_session_paths", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    },
      """WITH s AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1 || '>' || e2 || '>' || e3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""".stripMargin),

    // #223: Kaplan–Meier time-to-event estimator with right-censoring
    // ("what fraction of users have NOT yet made a high-value
    // purchase t days after their first activity?"): the event is the
    // first purchase with value > 300; users who never convert are
    // CENSORED at the observation horizon — they contribute at-risk
    // time without an event, which is the estimator's whole point vs
    // the naive converters-only CDF. S(t) = Π_{s≤t}(1 − d_s/n_s) runs
    // as a log-space DECIMAL cumulative sum (a float cumprod would be
    // order/association-dependent); at-risk counts come from the
    // day-domain duration histogram's suffix sums — the windows ride
    // a ≤31-row domain, never users. A d=n step pins S to 0 from
    // there on (the ln(0) guard).
    QueryDef("q_survival", (s, dir) => {
      val ev = t(s, dir, "events")
      val horizon = ev.agg(max(unix_timestamp(col("ts"))).as("hz"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("first_s"),
          min(when(col("event_type") === "purchase" && col("value") > 300.0,
            unix_timestamp(col("ts")))).as("conv_s"))
        .crossJoin(broadcast(horizon))
        .select(expr(
            "(coalesce(conv_s, hz) - first_s) div 86400").as("dur"),
          col("conv_s").isNull.as("censored"))
      // r18 (guide §3.3): hd feeds tot and the at-risk windows —
      // checkpoint the duration histogram once (users pass runs once)
      val hd = users.groupBy(col("dur"))
        .agg(count(lit(1)).as("all_n"),
          sum(when(!col("censored"), 1L).otherwise(0L)).as("d"))
        .eagerCheckpoint()
      val tot = hd.agg(sum(col("all_n")).cast("long").as("nn"))
      val wlt = boundedGlobal("duration-day histogram, |distinct days| rows")
        .orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wc = boundedGlobal("duration-day histogram, |distinct days| rows")
        .orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val atRisk = hd.crossJoin(broadcast(tot))
        .withColumn("cumlt", coalesce(sum(col("all_n")).over(wlt), lit(0L)))
        .withColumn("n", col("nn") - col("cumlt"))
        .filter(col("d") > 0)
      val terms = atRisk
        .withColumn("lt", when(col("d") < col("n"),
          round(log(lit(1.0) - col("d").cast("double") /
            col("n").cast("double")), 9).cast("decimal(20,9)"))
          .otherwise(lit(null).cast("decimal(20,9)")))
        .withColumn("dead", max(when(col("d") === col("n"), 1L)
          .otherwise(0L)).over(wc))
        .withColumn("cum", sum(col("lt")).over(wc))
      terms.select(col("dur"), col("d"), col("n"),
          when(col("dead") === 1L, lit(0.0))
            .otherwise(round(exp(col("cum").cast("double")), 6)).as("surv"))
        .orderBy(col("dur"))
    },
      """WITH hz AS (SELECT CAST(FLOOR(max(epoch(ts))) AS BIGINT) AS hz FROM events),
        |u AS (SELECT
        |    (COALESCE(CAST(FLOOR(min(CASE WHEN event_type = 'purchase'
        |          AND value > 300.0 THEN epoch(ts) END)) AS BIGINT),
        |        (SELECT hz FROM hz))
        |      - CAST(FLOOR(min(epoch(ts))) AS BIGINT)) // 86400 AS dur,
        |    (min(CASE WHEN event_type = 'purchase' AND value > 300.0
        |        THEN epoch(ts) END) IS NULL) AS censored
        |  FROM events GROUP BY user_id),
        |hd AS (SELECT dur, CAST(count(*) AS BIGINT) AS all_n,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u GROUP BY dur),
        |tot AS (SELECT CAST(SUM(all_n) AS BIGINT) AS nn FROM hd),
        |ar AS (SELECT dur, d, nn - CAST(COALESCE(SUM(all_n) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
        |  FROM hd, tot),
        |ev AS (SELECT dur, d, n,
        |    CASE WHEN d < n THEN CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
        |      / CAST(n AS DOUBLE)), 9) AS DECIMAL(20,9)) END AS lt
        |  FROM ar WHERE d > 0),
        |cm AS (SELECT dur, d, n,
        |    MAX(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (ORDER BY dur
        |      ROWS UNBOUNDED PRECEDING) AS dead,
        |    SUM(lt) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ev)
        |SELECT dur, d, n,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE ROUND(exp(CAST(cum AS DOUBLE)), 6) END AS surv
        |FROM cm ORDER BY dur""".stripMargin),

    // #221: RFM customer segmentation (recency / frequency / monetary
    // quintile codes, the classic CRM segmentation): all three
    // quintiles come from ONE GroupRank.ntileMany pass — the r/f/m
    // dimensions are stacked as (dim, value, custkey) rows and ranked
    // by a single range-repartition (each dim its own contiguous key
    // range), then pivoted back: one Exchange of 3n rows where the
    // previous chain of three ntile calls paid three (r7 verdict
    // item 8; the pattern generalizes to any multi-dimension quantile
    // segmentation). Spark's exact ntile semantics, no single-task
    // global sort. Ties break on custkey so tiles are
    // engine-identical; recency is the integer epoch-day of the last
    // order. Output: the populated RFM cells with customer counts —
    // the segmentation report a CRM publishes.
    QueryDef("q_rfm", (s, dir) => {
      // r18 (guide §3.3): ntileMany melts its input once per dimension
      // (3 here) — checkpoint the customer rollup so the orders scan
      // runs once
      val base = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(unix_date(to_date(col("o_orderdate")))).as("last_day"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
        .eagerCheckpoint()
      val tiles = graft.operators.GroupRank.ntileMany(base, Seq("o_custkey"),
        Seq("last_day" -> "r", "freq" -> "f", "spend" -> "m"), 5)
      tiles.groupBy((col("r") * 100 + col("f") * 10 + col("m")).as("rfm"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("rfm"))
    },
      """WITH base AS (SELECT o_custkey,
        |    max(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey),
        |t AS (SELECT o_custkey,
        |    CAST(ntile(5) OVER (ORDER BY last_day, o_custkey) AS BIGINT) AS r,
        |    CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f,
        |    CAST(ntile(5) OVER (ORDER BY spend, o_custkey) AS BIGINT) AS m
        |  FROM base)
        |SELECT r * 100 + f * 10 + m AS rfm,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM t GROUP BY 1 ORDER BY rfm""".stripMargin),

    // #216: linear multi-touch attribution (each purchase splits one
    // unit of credit equally over ALL its click/view touches in
    // (ts−7d, ts]) — the per-conversion touch COUNT needs the window's
    // two endpoints, so beside each conversion row a PROBE row at
    // ts−7d rides the same (user → ts, kind, id) exchange; per-channel
    // running touch counts are window sums, and the in-window count is
    // the difference of the two carried snapshots. Nothing user²-sized
    // forms. Fractional credits are round(9) doubles SUMMED IN DECIMAL
    // (the q_js_div order-free pattern), so the rollup is
    // order-independent; the oracle runs the literal interval join +
    // per-conversion count, proving the probe rewrite.
    QueryDef("q_attribution_linear", (s, dir) =>
      graft.operators.Attribution.linear(t(s, dir, "events"),
        "click", "view", "purchase", lookbackDays = 7),
      """WITH convs AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, ts, event_id, event_type AS ch FROM events
        |  WHERE event_type IN ('click', 'view')),
        |per AS (SELECT c.event_id AS cid,
        |    CAST(count(CASE WHEN t.ch = 'click' THEN 1 END) AS BIGINT) AS nc,
        |    CAST(count(CASE WHEN t.ch = 'view' THEN 1 END) AS BIGINT) AS nv
        |  FROM convs c LEFT JOIN tch t ON t.user_id = c.user_id
        |    AND t.ts <= c.ts AND t.ts > c.ts - INTERVAL 7 DAY
        |  GROUP BY c.event_id),
        |cr AS (
        |  SELECT 'click' AS channel, CAST(ROUND(CAST(nc AS DOUBLE)
        |      / CAST(nc + nv AS DOUBLE), 9) AS DECIMAL(20,9)) AS share
        |    FROM per WHERE nc + nv > 0
        |  UNION ALL
        |  SELECT 'view', CAST(ROUND(CAST(nv AS DOUBLE)
        |      / CAST(nc + nv AS DOUBLE), 9) AS DECIMAL(20,9))
        |    FROM per WHERE nc + nv > 0
        |  UNION ALL
        |  SELECT '(none)', CAST(1 AS DECIMAL(20,9)) FROM per WHERE nc + nv = 0)
        |SELECT channel, CAST(SUM(share) AS DOUBLE) AS attr_convs
        |FROM cr GROUP BY channel ORDER BY channel""".stripMargin),

    // #213: last-touch conversion attribution with a 7-day lookback
    // (the ad-tech staple): each purchase credits the user's latest
    // click/view in (ts−7d, ts]. The inequality join the problem
    // states is rewritten as ONE (user → ts) exchange: touches and
    // conversions union-tagged, a running last-non-null touch struct
    // carried forward (touches sort before same-ts conversions), and
    // the lookback bound checked on the carried value — the AsOfJoin
    // union trick, so nothing user²-sized ever forms. Ties at the
    // same ts break on event_id, deterministically. The oracle runs
    // the LITERAL interval join + rank, proving the rewrite. Output:
    // per-channel attributed conversions + decimal-exact value
    // ('(none)' = no touch in window).
    QueryDef("q_attribution", (s, dir) =>
      graft.operators.Attribution.lastTouch(t(s, dir, "events"),
        Seq("click", "view"), "purchase", lookbackDays = 7),
      """WITH touches AS (SELECT user_id, ts, event_id, event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view')),
        |convs AS (SELECT user_id, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS cv
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.event_id AS cid, c.cv, t.channel,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY t.ts DESC, t.event_id DESC) AS rn
        |  FROM convs c LEFT JOIN touches t
        |    ON t.user_id = c.user_id AND t.ts <= c.ts
        |    AND t.ts > c.ts - INTERVAL 7 DAY),
        |a AS (SELECT COALESCE(channel, '(none)') AS channel, cv
        |  FROM j WHERE rn = 1)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_conv,
        |  CAST(SUM(cv) AS DOUBLE) AS attr_value
        |FROM a GROUP BY channel ORDER BY channel""".stripMargin),

    // #155: longest consecutive-day streak per user — gaps-and-islands:
    // distinct user-days first (the shuffle is user-day-sized, never
    // event-sized), then day − row_number() labels each run of
    // consecutive days with a constant, the island rollup is integer
    // counts, and the per-user pick is a deterministic ranked window
    // over the island table. Everything integer-exact.
    QueryDef("q_streaks", (s, dir) => {
      val days = t(s, dir, "events").filter(col("user_id") < 200)
        .select(col("user_id"),
          unix_date(col("ts").cast("date")).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val islands = days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("longest"), min(col("day")).as("start_day"))
      val pick = Window.partitionBy(col("user_id"))
        .orderBy(col("longest").desc, col("start_day"))
      islands
        .withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
        .select(col("user_id"), col("longest"), col("start_day"))
    },
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
        |  FROM events WHERE user_id < 200),
        |i AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS longest,
        |    MIN(day) AS start_day
        |  FROM i GROUP BY user_id, grp),
        |r AS (SELECT user_id, longest, start_day, row_number() OVER (
        |    PARTITION BY user_id ORDER BY longest DESC, start_day) AS rn
        |  FROM s)
        |SELECT user_id, longest, start_day FROM r WHERE rn = 1""".stripMargin),

    // #162: event-type transition matrix (first-order Markov counts):
    // lag() pairs each event with its predecessor per user — one
    // user-keyed window pass — then the (from, to) rollup is
    // matrix-sized. The row-stochastic probability is an integer ratio
    // (pair count / from-row total via a window sum over the matrix).
    QueryDef("q_transitions", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val m = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      m.withColumn("p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"))
    },
      """WITH m AS (SELECT prev AS from_type, event_type AS to_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT event_type, lag(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)
        |  WHERE prev IS NOT NULL GROUP BY prev, event_type)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM m""".stripMargin),

    // #172: lag-feature generation (feature-store shape): per-key
    // lag-1/2/3 values and the trailing-3 mean in ONE window pass over
    // one (user, time) shuffle — the offline half of a point-in-time
    // feature pipeline. The mean stays decimal-exact (sum of 3 cast
    // values / 3 in decimal, round 9 on the way out).
    QueryDef("q_lag_features", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val d = col("value").cast("decimal(18,6)")
      t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("lag1", lag(d, 1).over(w))
        .withColumn("lag2", lag(d, 2).over(w))
        .withColumn("lag3", lag(d, 3).over(w))
        .filter(col("lag3").isNotNull)
        .select(col("user_id"), col("event_id"),
          col("lag1").cast("double").as("lag1"),
          col("lag2").cast("double").as("lag2"),
          col("lag3").cast("double").as("lag3"),
          // sum in decimal (exact), divide in double (shared IEEE tree)
          // — decimal DIVISION scale rules differ across engines
          round((col("lag1") + col("lag2") + col("lag3")).cast("double") /
            lit(3.0), 9).as("mean3"))
    },
      """WITH l AS (SELECT user_id, event_id,
        |    lag(CAST(value AS DECIMAL(18,6)), 1) OVER w AS lag1,
        |    lag(CAST(value AS DECIMAL(18,6)), 2) OVER w AS lag2,
        |    lag(CAST(value AS DECIMAL(18,6)), 3) OVER w AS lag3
        |  FROM events WHERE user_id < 50
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |  CAST(lag1 AS DOUBLE) AS lag1, CAST(lag2 AS DOUBLE) AS lag2,
        |  CAST(lag3 AS DOUBLE) AS lag3,
        |  ROUND(CAST(lag1 + lag2 + lag3 AS DOUBLE) / 3.0, 9) AS mean3
        |FROM l WHERE lag3 IS NOT NULL""".stripMargin),

    // #173: future-window label generation — for each event, did the
    // user convert (purchase) within the next 24 hours? A RANGE frame
    // over epoch seconds looking FORWARD — the leakage-safe training
    // label primitive (strictly after the example's own timestamp, so
    // the feature row never sees itself). Same single (user, time)
    // shuffle as the lag features it pairs with.
    QueryDef("q_labels", (s, dir) => {
      val sec = unix_timestamp(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(sec)
        .rangeBetween(1, 86400)
      t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("label", coalesce(
          max(when(col("event_type") === "purchase", 1).otherwise(0)).over(w),
          lit(0)))
        .select(col("user_id"), col("event_id"), col("label"))
    },
      """SELECT user_id, event_id,
        |  COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY epoch(ts)
        |      RANGE BETWEEN 1 FOLLOWING AND 86400 FOLLOWING), 0) AS label
        |FROM events WHERE user_id < 50""".stripMargin),

    // #171: cohort LTV matrix — cumulative revenue per signup cohort by
    // age (the q_retention complement with money): first-order month
    // per customer (one customer-keyed agg), revenue per (cohort, age)
    // in exact decimal, then the cumulative runs over the MATRIX
    // (months² rows), never the fact table
    QueryDef("q_cohort_ltv", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("unix_date(CAST(o_orderdate AS DATE)) div 30").as("mo"),
          col("o_totalprice"))
      val cohort = o.groupBy(col("o_custkey")).agg(min(col("mo")).as("mo0"))
      val cell = o.join(cohort, "o_custkey")
        .groupBy(col("mo0").as("cohort_month"), (col("mo") - col("mo0")).as("age"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      val w = Window.partitionBy(col("cohort_month")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cell.withColumn("cum_rev",
        round(sum(col("rev").cast("decimal(18,2)")).over(w), 2).cast("double"))
    },
      """WITH o AS (SELECT o_custkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 30 AS mo,
        |    o_totalprice
        |  FROM orders),
        |c AS (SELECT o_custkey, MIN(mo) AS mo0 FROM o GROUP BY o_custkey),
        |cell AS (SELECT mo0 AS cohort_month, mo - mo0 AS age,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |  FROM o JOIN c USING (o_custkey)
        |  GROUP BY mo0, mo - mo0)
        |SELECT cohort_month, age, rev,
        |  CAST(ROUND(SUM(CAST(rev AS DECIMAL(18,2))) OVER (
        |    PARTITION BY cohort_month ORDER BY age
        |    ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS cum_rev
        |FROM cell""".stripMargin),
  )
}
