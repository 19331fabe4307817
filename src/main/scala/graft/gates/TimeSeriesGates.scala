package graft
package gates

import org.apache.spark.sql.functions._

import GateSupport._
import Oracle.Sql

/** `graft.ops.TimeSeries` and its neighbours (Survival,
 *  Segmentation, Attribution, Allocate, Ledger, Incremental). */
private[graft] object TimeSeriesGates {

  val gates: Seq[Gate] = Seq(
    // ---- time series: regularize the event stream to an hourly
    //      grid per user and forward-fill the gaps ----
    // hourly bucket (order-independent max), per-user dense axis,
    // left join, forward fill — default RANGE frames both engines
    Gate("q126_resample_fill", (s, dir) =>
      graft.ops.TimeSeries.resampleFill(t(s, dir, "events"),
        Seq("user_id"), "ts", "value", "hour"), Sql(
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket, max(value) AS v
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1),
        |a AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM s)
        |SELECT a.user_id, a.bucket, b.v,
        |  last_value(b.v IGNORE NULLS) OVER (PARTITION BY a.user_id ORDER BY a.bucket) AS v_fill
        |FROM a LEFT JOIN b ON a.user_id = b.user_id AND a.bucket = b.bucket""".stripMargin)),

    // ---- time series: ordered view→click→purchase funnel, one
    //      window pass + one reduce on the actor key ----
    // running min(CASE step) windows, default RANGE frame (tie-safe);
    // step columns form a prefix, stage = highest non-null
    Gate("q127_funnel", (s, dir) =>
      graft.ops.TimeSeries.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")), Sql(
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         min(q0) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         min(q1) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q2 FROM w2)
        |SELECT user_id, min(q0) AS step1_ts, min(q1) AS step2_ts, min(q2) AS step3_ts,
        |  CASE WHEN min(q2) IS NOT NULL THEN 3 WHEN min(q1) IS NOT NULL THEN 2
        |       WHEN min(q0) IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM w3 GROUP BY user_id""".stripMargin)),

    // ---- sequence-model training data: per-user ordered event-type
    //      sequences, capped inside the aggregate ----
    // capped LISTAGG via rank-gated CASE (string_agg skips nulls,
    // array_join skips nulls — same semantics), count over all rows
    Gate("q132_event_sequences", (s, dir) =>
      graft.ops.TimeSeries.eventSequences(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", "event_id", maxLen = 30), Sql(
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT user_id, count(*) AS n_events,
        |  string_agg(CASE WHEN rn <= 30 THEN event_type END, ' ' ORDER BY rn) AS sequence
        |FROM r GROUP BY user_id""".stripMargin)),

    // ---- event feeds: leading-edge throttle — first event of each
    //      burst per (user, type), 1-day gap ----
    // lag in epoch micros over (key, type), tie on event_id; kept =
    // burst heads (previous event absent or further than the gap)
    Gate("q133_throttle", (s, dir) =>
      graft.ops.TimeSeries.throttle(t(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", "event_id",
        gapMicros = 86400L * 1000000L), Sql(
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id) AS p
        |  FROM events WHERE ts IS NOT NULL)
        |WHERE p IS NULL OR epoch_us(ts) - p > 86400000000""".stripMargin)),

    // ---- log compaction: keep only event-type change points per
    //      user (consecutive duplicates dropped) ----
    // change points only: first row per user or value differs from
    // the previous row (null-safe IS DISTINCT FROM = Spark <=>)
    Gate("q134_compress_consecutive", (s, dir) =>
      graft.ops.TimeSeries.compressConsecutive(
        t(s, dir, "events").filter(col("ts").isNotNull),
        Seq("user_id"), "ts", "event_id", Seq("event_type")), Sql(
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, lag(event_id) OVER w AS pid, lag(event_type) OVER w AS pv
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE pid IS NULL OR pv IS DISTINCT FROM event_type""".stripMargin)),

    // ---- product analytics: weekly cohort retention triangle ----
    // weekly cohort = min truncated bucket per user; offsets in whole
    // weeks via integer epoch-microsecond division; counts exact,
    // retention one division
    Gate("q142_retention", (s, dir) =>
      graft.ops.TimeSeries.retentionCohorts(t(s, dir, "events"),
        "user_id", "ts", "week"), Sql(
      """WITH e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS bucket
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |ab AS (SELECT user_id, min(bucket) OVER (PARTITION BY user_id) AS cohort, bucket FROM e),
        |o AS (SELECT user_id, cohort,
        |        (epoch_us(bucket) - epoch_us(cohort)) // 604800000000 AS "offset" FROM ab),
        |s AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM o
        |      WHERE "offset" = 0 GROUP BY 1),
        |a AS (SELECT cohort, "offset", CAST(count(*) AS BIGINT) AS n_active
        |      FROM o GROUP BY 1, 2)
        |SELECT a.cohort, a."offset", a.n_active, s.cohort_size,
        |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
        |FROM a JOIN s USING (cohort)""".stripMargin)),

    // ---- journey analytics: first-order Markov transition matrix
    //      over each user's event-type sequence ----
    // consecutive under (ts, event_id) per user; row-normalized by
    // the state's predecessor count
    Gate("q151_transitions", (s, dir) =>
      graft.ops.TimeSeries.transitionMatrix(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", "event_id"), Sql(
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |    AND event_id IS NOT NULL AND user_id IS NOT NULL),
        |p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        |  FROM e),
        |c AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n FROM p
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE) AS p
        |FROM c""".stripMargin)),

    // ---- monitoring: per-user EWMA smoothing (recursive fold —
    //      identical pinned IEEE ops both engines, no rounding) ----
    // the exact recurrence e' = e + α·(x − e) replayed by a recursive
    // CTE — same pinned IEEE ops, bit-equal without rounding
    Gate("q167_ewma", (s, dir) =>
      graft.ops.TimeSeries.ewma(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        Seq("user_id"), "ts", "event_id", "value", alpha = 0.3), Sql(
      """WITH RECURSIVE r0 AS (SELECT user_id, ts, event_id,
        |    CAST(value AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |walk AS (
        |  SELECT user_id, ts, event_id, v, rn, v AS ew FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.user_id, r0.ts, r0.event_id, r0.v, r0.rn,
        |    w.ew + CAST('0.3' AS DOUBLE) * (r0.v - w.ew)
        |  FROM walk w JOIN r0 ON r0.user_id = w.user_id AND r0.rn = w.rn + 1)
        |SELECT user_id, event_id, ts, v AS value, ew AS ewma FROM walk""".stripMargin)),

    // ---- analytics: day-of-week seasonality profile per event type ----
    // dow = DuckDB dayofweek (Sunday=0) + 1 = Spark dayofweek
    Gate("q169_seasonality", (s, dir) =>
      graft.ops.TimeSeries.seasonalityProfile(
        t(s, dir, "events").filter(col("event_type").isNotNull),
        Seq("event_type"), "ts", "value"), Sql(
      """WITH b AS (SELECT event_type, dayofweek(ts) + 1 AS dow,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |a AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n, sum(v) AS s
        |      FROM b GROUP BY 1, 2)
        |SELECT event_type, dow, n,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_value,
        |  (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (CAST(sum(s) OVER (PARTITION BY event_type) AS DOUBLE)
        |     / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)) AS ratio_to_key_mean
        |FROM a""".stripMargin)),

    // ---- product analytics: top frequent session paths (30-min gap
    //      sessions -> ordered event-type path -> counts) ----
    // 30-min-gap sessions (the q89 strict-gap rule), paths ordered by
    // (ts, event_id), sessions > 20 events dropped
    Gate("q174_frequent_paths", (s, dir) =>
      graft.ops.TimeSeries.frequentPaths(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        gapMicros = 1800000000L, maxLen = 20, topK = 50), Sql(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |fl AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 1800000000 THEN 1
        |      ELSE 0 END AS st
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |sess AS (SELECT *, CAST(sum(st) OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS sid
        |  FROM fl),
        |p AS (SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY t, event_id) AS path,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM sess GROUP BY 1, 2 HAVING count(*) <= 20)
        |SELECT path, n_sessions, rank FROM
        |  (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
        |     CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS BIGINT) AS rank
        |   FROM p GROUP BY 1)
        |WHERE rank <= 50""".stripMargin)),

    // ---- dashboards: day-over-day movers per event type ----
    Gate("q179_period_over_period", (s, dir) =>
      graft.ops.TimeSeries.periodOverPeriod(
        t(s, dir, "events").filter(col("event_type").isNotNull),
        Seq("event_type"), "ts", "value", unit = "day"), Sql(
      """WITH a AS (SELECT event_type, date_trunc('day', ts) AS period,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, period, n,
        |  CAST(s AS DOUBLE) AS total,
        |  CAST(lag(s) OVER w AS DOUBLE) AS prev_total,
        |  CAST(s AS DOUBLE) - CAST(lag(s) OVER w AS DOUBLE) AS delta,
        |  CASE WHEN lag(s) OVER w IS NOT NULL
        |      AND CAST(lag(s) OVER w AS DOUBLE) <> 0.0
        |    THEN (CAST(s AS DOUBLE) - CAST(lag(s) OVER w AS DOUBLE))
        |      / CAST(lag(s) OVER w AS DOUBLE) END AS pct_change
        |FROM a WINDOW w AS (PARTITION BY event_type ORDER BY period)""".stripMargin)),

    // ---- feature engineering: autoregressive lag block per user ----
    Gate("q187_lag_features", (s, dir) =>
      graft.ops.TimeSeries.lagFeatures(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        Seq("user_id"), "ts", "event_id", "value", lags = Seq(1, 2, 3)), Sql(
      """SELECT user_id, ts, event_id, value,
        |  lag(value, 1) OVER w AS value_lag1,
        |  lag(value, 2) OVER w AS value_lag2,
        |  lag(value, 3) OVER w AS value_lag3
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin)),

    // ---- recrawl policy: anchored-gap keep filter (one re-admit per
    //      30-min window since the last KEPT event) ----
    // keep iff t >= last_KEPT + gap — recursive by nature, replayed
    // by a recursive CTE carrying the anchor
    Gate("q192_anchored_throttle", (s, dir) =>
      graft.ops.TimeSeries.anchoredThrottle(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        Seq("user_id"), "ts", "event_id", minGapMicros = 1800000000L), Sql(
      """WITH RECURSIVE r0 AS (SELECT user_id, epoch_us(ts) AS t, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |walk AS (
        |  SELECT user_id, t, ts, event_id, rn, TRUE AS kept, t AS last_t
        |  FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.user_id, r0.t, r0.ts, r0.event_id, r0.rn,
        |    r0.t >= w.last_t + 1800000000,
        |    CASE WHEN r0.t >= w.last_t + 1800000000 THEN r0.t ELSE w.last_t END
        |  FROM walk w JOIN r0 ON r0.user_id = w.user_id AND r0.rn = w.rn + 1)
        |SELECT user_id, event_id, ts FROM walk WHERE kept""".stripMargin)),

    // ---- product analytics: step-to-step funnel conversion rates
    //      (composes the q127 funnel) ----
    // the q127 funnel folded to stage counts, then three ratio rows
    Gate("q195_funnel_rates", (s, dir) => {
      val f = graft.ops.TimeSeries.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      val agg = f.agg(count(lit(1)).as("__c0"),
        sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("__c1"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("__c2"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("__c3"))
      agg.select(explode(array(
          struct(lit(1).as("step"), col("__c1").as("n_reached"),
            col("__c0").as("n_prev")),
          struct(lit(2).as("step"), col("__c2").as("n_reached"),
            col("__c1").as("n_prev")),
          struct(lit(3).as("step"), col("__c3").as("n_reached"),
            col("__c2").as("n_prev")))).as("__s"))
        .select(col("__s.*"))
        .withColumn("rate",
          when(col("n_prev") > 0,
            col("n_reached").cast("double") / col("n_prev").cast("double")))
    }, Sql(
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         min(q0) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         min(q1) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q2 FROM w2),
        |f AS (SELECT user_id,
        |  CASE WHEN min(q2) IS NOT NULL THEN 3 WHEN min(q1) IS NOT NULL THEN 2
        |       WHEN min(q0) IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM w3 GROUP BY user_id),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
        |  FROM f)
        |SELECT 1 AS step, c1 AS n_reached, c0 AS n_prev,
        |  CASE WHEN c0 > 0 THEN CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) END AS rate FROM a
        |UNION ALL
        |SELECT 2, c2, c1,
        |  CASE WHEN c1 > 0 THEN CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) END FROM a
        |UNION ALL
        |SELECT 3, c3, c2,
        |  CASE WHEN c2 > 0 THEN CAST(c3 AS DOUBLE) / CAST(c2 AS DOUBLE) END FROM a""".stripMargin)),

    // ---- completeness audit: missing id ranges in the order-key
    //      sequence (gaps-and-islands over distinct present values) ----
    Gate("q175_gaps", (s, dir) =>
      // the generator's keys are dense — punch deterministic holes so
      // the audit has something to find (real ledgers have real gaps)
      graft.ops.TimeSeries.gaps(
        t(s, dir, "orders").filter(col("o_orderkey") % 97 =!= 0 &&
          col("o_orderkey") % 89 =!= 3),
        Nil, "o_orderkey"), Sql(
      """WITH d AS (SELECT DISTINCT o_orderkey AS v FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_orderkey % 97 <> 0
        |    AND o_orderkey % 89 <> 3),
        |g AS (SELECT v, lead(v) OVER (ORDER BY v) AS nx FROM d)
        |SELECT v AS prev_val, nx AS next_val, v + 1 AS gap_start,
        |  nx - 1 AS gap_end, nx - v - 1 AS gap_len
        |FROM g WHERE nx IS NOT NULL AND nx - v > 1""".stripMargin)),

    // ---- monitoring: two-sided sliding-window level-shift score per
    //      event stream (exact-decimal window sums, one division) ----
    // exact-decimal window sums; the score is ONE cast + ONE division
    Gate("q202_level_shift", (s, dir) =>
      graft.ops.TimeSeries.levelShift(
        t(s, dir, "events").filter(col("event_type").isNotNull),
        Seq("event_type"), "ts", "event_id", "value", w = 50), Sql(
      """WITH e AS (SELECT event_type, event_id, ts, value,
        |    CAST(value AS DECIMAL(18,2)) AS dv
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL)
        |SELECT event_type, event_id, ts, value,
        |  CASE WHEN count(*) OVER wb = 50 AND count(*) OVER wa = 50
        |    THEN CAST(sum(dv) OVER wa - sum(dv) OVER wb AS DOUBLE) / 50.0
        |  END AS shift
        |FROM e
        |WINDOW wb AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING),
        |  wa AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 1 FOLLOWING AND 50 FOLLOWING)""".stripMargin)),

    // ---- finance ETL: largest-remainder pro-rata — spread each
    //      order's total over its lines by quantity, exact to the
    //      cent, lines summing back to the order total ----
    // all-integer largest remainder: floor shares + one cent to the
    // top-(T - Σfloor) remainders, ties by (line number, weight) — the
    // fixture repeats (orderkey, linenumber), so the chain must end in
    // the weight to make the output multiset engine-independent
    Gate("q207_prorata", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_totalprice"))
      // gate outputs DOUBLE, not the operator's DECIMAL(18,2): the
      // driver's hash reads spark parquet and the DuckDB oracle through
      // different decimal value paths, so decimal gate columns hash-
      // mismatch even when values are equal (r11 lesson — see
      // GateSchemaSpec)
      graft.ops.Allocate.proRata(li.join(o, Seq("l_orderkey")),
        Seq("l_orderkey"), "l_linenumber", "l_quantity", "o_totalprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("allocated").cast("double").as("allocated"))
    }, Sql(
      """WITH j AS (SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS tc,
        |    CAST(l.l_quantity AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |a AS (SELECT *, sum(w) OVER (PARTITION BY l_orderkey) AS tw FROM j),
        |b AS (SELECT *,
        |    CASE WHEN tw > 0 THEN (tc * w) // tw END AS base,
        |    CASE WHEN tw > 0 THEN (tc * w) % tw END AS rem
        |  FROM a),
        |c AS (SELECT *,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY rem DESC NULLS LAST, l_linenumber, w) AS rk,
        |    tc - sum(base) OVER (PARTITION BY l_orderkey) AS leftover
        |  FROM b)
        |SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN tw > 0 THEN CAST(base +
        |    CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS DOUBLE)
        |    / CAST(100 AS DOUBLE) END AS allocated
        |FROM c""".stripMargin)),

    // ---- retention: Kaplan-Meier per signup-month cohort — censored
    //      at the corpus edge (active within 7 days of max = censored,
    //      not churned); emits the pinned log-survival curve ----
    // subjects: per-user first/last day, censored within 7 days of
    // the corpus edge; KM with the deaths-before-censorings at-risk
    // rule; log-survival = exact decimal sum of round-9 libm logs
    Gate("q218_kaplan_meier", (s, dir) =>
      graft.ops.Survival.kaplanMeier(survivalSubjects(s, dir),
        Seq("cohort"), "duration", "observed"), Sql(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT) AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c FROM r),
        |f AS (SELECT *, CASE WHEN n_risk > d THEN
        |    CAST(round(ln(CAST(n_risk - d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(12,9)) END AS lf
        |  FROM k)
        |SELECT cohort, t, n_risk, d, c,
        |  CASE WHEN lf IS NOT NULL THEN
        |    CAST(sum(lf) OVER (PARTITION BY cohort ORDER BY t) AS DOUBLE)
        |  END AS log_surv
        |FROM f""".stripMargin)),

    // ---- product analytics: lead/lag detection — Pearson r between
    //      daily click volume and purchase volume `lag` days later ----
    // align x_t with y_{t+lag} by an equi join on the shifted index;
    // exact integer moments, pearson closing
    Gate("q219_lagged_corr", (s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("t",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      graft.ops.TimeSeries.laggedCrossCorr(daily, Seq.empty, "t", "x", "y",
        maxLag = 7, xScale = 0, yScale = 0)
    }, Sql(
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(x AS DECIMAL(18,0)) AS x, CAST(y AS DECIMAL(18,0)) AS y
        |  FROM daily),
        |l AS (SELECT t, x, lag FROM d
        |      CROSS JOIN (SELECT unnest(range(0, 8)) AS lag)),
        |j AS (SELECT l.lag, l.x, d2.y FROM l
        |      JOIN d d2 ON d2.t = l.t + l.lag),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM j GROUP BY 1),
        |dd AS (SELECT lag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM m),
        |v AS (SELECT *, nd * sxxd - sxd * sxd AS vx,
        |    nd * syyd - syd * syd AS vy, nd * sxyd - sxd * syd AS cov
        |  FROM dd)
        |SELECT CAST(lag AS INT) AS lag, n,
        |  CASE WHEN n >= 2 AND vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin)),

    // ---- monitoring: 7-day rolling correlation of daily click vs
    //      purchase volume — exact decimal frame moments ----
    // the q219 daily grid; five decimal frame sums on one ROWS
    // window; the pinned pearson closing per row
    Gate("q232_rolling_corr", (s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("t",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      // x/y cast decimal→long: no decimal gate columns (r11 driver-hash
      // lesson, see q207 / GateSchemaSpec)
      graft.ops.TimeSeries.rollingCorr(daily, Seq.empty, "t", "t",
        "x", "y", window = 7, xScale = 0, yScale = 0)
        .withColumn("x", col("x").cast("long"))
        .withColumn("y", col("y").cast("long"))
    }, Sql(
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(x AS DECIMAL(18,0)) AS x, CAST(y AS DECIMAL(18,0)) AS y
        |  FROM daily),
        |m AS (SELECT t, x, y, CAST(count(*) OVER w AS BIGINT) AS n,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
        |    sum(y * y) OVER w AS syy
        |  FROM d
        |  WINDOW w AS (ORDER BY t ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |c AS (SELECT t, x, y, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM m),
        |v AS (SELECT *, nd * sxxd - sxd * sxd AS vx,
        |    nd * syyd - syd * syd AS vy, nd * sxyd - sxd * syd AS cov
        |  FROM c)
        |SELECT t, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  CASE WHEN n = 7 AND vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin)),

    // ---- ops: interval-union coverage — per-user active time from
    //      overlapping 30-min event leases (sweep, no double count) ----
    // the sweep replayed: running max of interval ends over the
    // (start, end)-ordered preceding rows clips every overlap
    Gate("q235_interval_coverage", (s, dir) =>
      graft.ops.TimeSeries.intervalCoverage(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("lease_start"),
            (unix_micros(col("ts")) + lit(1800000000L)).as("lease_end")),
        Seq("user_id"), "lease_start", "lease_end"), Sql(
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |sw AS (SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bef
        |  FROM iv WHERE e > s),
        |c AS (SELECT user_id,
        |    greatest(0, e - greatest(s, coalesce(bef, s))) AS cov,
        |    CASE WHEN bef IS NULL OR s > bef THEN 1 ELSE 0 END AS nseg
        |  FROM sw)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(cov) AS BIGINT) AS covered_micros,
        |  CAST(sum(nseg) AS BIGINT) AS n_segments
        |FROM c GROUP BY 1""".stripMargin)),

    // ---- finance ETL: FIFO lot matching per user — purchases burn
    //      down click-earned credit lots oldest-first; the cursor walk
    //      as cumulative-interval intersection, all integer cents ----
    // FIFO as cumulative-interval intersection: both ledgers'
    // windows, the overlap join, all integer cents
    Gate("q241_fifo_match", (s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
        col("value").isNotNull && col("ts").isNotNull)
      graft.ops.Ledger.fifoMatch(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        Seq("user_id"), "ts", "event_id", "value",
        "ts", "event_id", "value")
    }, Sql(
      """WITH e AS (SELECT user_id, event_type, event_id, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS q
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND ts IS NOT NULL),
        |l AS (SELECT user_id, event_id AS lot_id, q,
        |    CAST(sum(q) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS lhi
        |  FROM e WHERE event_type = 'click' AND q > 0),
        |l2 AS (SELECT user_id, lot_id, lhi, lhi - q AS llo FROM l),
        |d AS (SELECT user_id, event_id AS demand_id, q,
        |    CAST(sum(q) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS dhi
        |  FROM e WHERE event_type = 'purchase' AND q > 0),
        |d2 AS (SELECT user_id, demand_id, dhi, dhi - q AS dlo FROM d)
        |SELECT l2.user_id, lot_id, demand_id,
        |  CAST(least(lhi, dhi) - greatest(llo, dlo) AS BIGINT) AS matched
        |FROM l2 JOIN d2 ON d2.user_id = l2.user_id
        |WHERE llo < dhi AND dlo < lhi""".stripMargin)),

    // ---- marketing ETL: multi-touch attribution — each purchase
    //      credits the user's clicks in the prior 7 days
    //      (first/last/linear at once); touchless purchases keep a
    //      reconciliation row ----
    // the 7-day lookback join; hits rank first so rank 1 is the
    // earliest/latest hit; touchless purchases keep their
    // reconciliation row
    Gate("q242_attribution", (s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
        col("ts").isNotNull)
      graft.ops.Attribution.attribute(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase" && col("value").isNotNull),
        Seq("user_id"), "event_id", "ts", "event_id", "ts", "value",
        windowMicros = 7L * 24 * 3600 * 1000000L)
    }, Sql(
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, event_id AS conv_id, value AS conv_value,
        |    t AS ct FROM e WHERE event_type = 'purchase'
        |    AND value IS NOT NULL),
        |tt AS (SELECT user_id, event_id AS touch_id, t AS tch
        |  FROM e WHERE event_type = 'click'),
        |j AS (SELECT c.user_id, conv_id, conv_value, touch_id, tch,
        |    (tch IS NOT NULL AND tch < ct AND tch >= ct - 604800000000)
        |      AS hit
        |  FROM c LEFT JOIN tt ON tt.user_id = c.user_id),
        |w AS (SELECT *,
        |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY hit DESC,
        |      tch ASC NULLS LAST, touch_id ASC NULLS LAST) AS rka,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY hit DESC,
        |      tch DESC NULLS LAST, touch_id DESC NULLS LAST) AS rkd
        |  FROM j)
        |SELECT user_id, conv_id, conv_value,
        |  CASE WHEN hit THEN touch_id END AS touch_id,
        |  n AS n_touch,
        |  CASE WHEN hit THEN rka = 1 END AS is_first,
        |  CASE WHEN hit THEN rkd = 1 END AS is_last,
        |  CASE WHEN hit THEN CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS w_linear
        |FROM w WHERE hit OR (n = 0 AND rka = 1)""".stripMargin)),

    // ---- monitoring: additive seasonal decomposition of daily
    //      signup volume (period 7): trend = centered 7-day MA,
    //      seasonal = day-of-week mean of the detrended series —
    //      integer-numerator arithmetic, two pinned divisions ----
    // integer-numerator decomposition: dt_p = 7v − Σ₇v exactly, the
    // phase mean and trend each ONE pinned division
    Gate("q243_seasonal", (s, dir) =>
      graft.ops.TimeSeries.seasonalDecompose(
        t(s, dir, "events")
          .filter(col("ts").isNotNull && col("event_type") === "signup")
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("1970-01-01"))).cast("long").as("t"))
          .agg(count(lit(1)).as("v")),
        Seq.empty, "t", "v", period = 7), Sql(
      """WITH daily AS (SELECT
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'signup'
        |  GROUP BY 1),
        |w AS (SELECT t, v, CAST(count(*) OVER win AS BIGINT) AS wn,
        |    CAST(sum(v) OVER win AS BIGINT) AS ws
        |  FROM daily WINDOW win AS (ORDER BY t
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (SELECT *, CASE WHEN wn = 7 THEN 7 * v - ws END AS dtp,
        |    t % 7 AS phase FROM w),
        |p AS (SELECT *,
        |    CAST(sum(dtp) OVER (PARTITION BY phase) AS BIGINT) AS ps,
        |    CAST(count(dtp) OVER (PARTITION BY phase) AS BIGINT) AS pc
        |  FROM d)
        |SELECT t, v,
        |  CASE WHEN wn = 7
        |    THEN CAST(ws AS DOUBLE) / CAST(7 AS DOUBLE) END AS trend,
        |  CASE WHEN wn = 7 THEN CAST(ps AS DOUBLE) /
        |    (CAST(7 AS DOUBLE) * CAST(pc AS DOUBLE)) END AS seasonal,
        |  CASE WHEN wn = 7 THEN CAST(dtp AS DOUBLE) / CAST(7 AS DOUBLE) -
        |    CAST(ps AS DOUBLE) / (CAST(7 AS DOUBLE) * CAST(pc AS DOUBLE))
        |  END AS remainder
        |FROM p""".stripMargin)),

    // ---- monitoring: Bollinger bands on daily view volume — rolling
    //      mean ± 2σ over a trailing 7-day frame + breach flags;
    //      exact integer frame moments, pinned closing ----
    // exact integer frame moments; mean/sd/bands/breaches one pinned
    // IEEE chain, warmup null
    Gate("q244_bollinger", (s, dir) =>
      graft.ops.TimeSeries.bollinger(
        t(s, dir, "events")
          .filter(col("ts").isNotNull && col("event_type") === "view")
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("1970-01-01"))).cast("long").as("t"))
          .agg(count(lit(1)).as("v")),
        Seq.empty, "t", "v", window = 7, k = 2.0), Sql(
      """WITH daily AS (SELECT
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'view'
        |  GROUP BY 1),
        |m AS (SELECT t, v, CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(v) OVER w AS BIGINT) AS s,
        |    CAST(sum(v * v) OVER w AS BIGINT) AS ss
        |  FROM daily WINDOW w AS (ORDER BY t
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |c AS (SELECT t, v, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s AS DOUBLE) AS sd0, CAST(ss AS DOUBLE) AS ssd,
        |    CAST(v AS DOUBLE) AS vd FROM m),
        |x AS (SELECT *, sd0 / nd AS mean,
        |    (nd * ssd - sd0 * sd0) / (nd * (nd - CAST(1 AS DOUBLE))) AS vr
        |  FROM c),
        |y AS (SELECT *, sqrt(vr) AS sdev,
        |    mean + CAST(2 AS DOUBLE) * sqrt(vr) AS hi,
        |    mean - CAST(2 AS DOUBLE) * sqrt(vr) AS lo FROM x)
        |SELECT t, v,
        |  CASE WHEN n = 7 THEN mean END AS mean,
        |  CASE WHEN n = 7 THEN sdev END AS sd,
        |  CASE WHEN n = 7 THEN hi END AS upper,
        |  CASE WHEN n = 7 THEN lo END AS lower,
        |  CASE WHEN n = 7 THEN vd > hi END AS breach_hi,
        |  CASE WHEN n = 7 THEN vd < lo END AS breach_lo
        |FROM y""".stripMargin)),

    // ---- finance/metrics: hourly OHLC + VWAP candles of event
    //      values per type — one map-side-combined aggregation ----
    // open/close by the (ts, event_id) total order; exact decimal
    // Σv and Σp·v; pinned vwap division
    Gate("q259_ohlc", (s, dir) =>
      graft.ops.TimeSeries.ohlc(
        t(s, dir, "events")
          .filter(col("value") > 0 && col("user_id").isNotNull)
          .withColumn("vol", (col("user_id") % 5 + 1).cast("double")),
        Seq("event_type"), "ts", "event_id", "value", "vol",
        bucket = "day"), Sql(
      """WITH e AS (SELECT event_type, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS p,
        |    CAST(CAST(user_id % 5 + 1 AS DOUBLE) AS DECIMAL(18,2)) AS v,
        |    date_trunc('day', ts) AS bucket
        |  FROM events WHERE value > 0 AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |w AS (SELECT *,
        |    first_value(p) OVER win AS op, last_value(p) OVER win AS cl
        |  FROM e WINDOW win AS (PARTITION BY event_type, bucket
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |m AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(op) AS DOUBLE) AS open, CAST(max(p) AS DOUBLE) AS high,
        |    CAST(min(p) AS DOUBLE) AS low, CAST(max(cl) AS DOUBLE) AS close,
        |    sum(v) AS vol, sum(CAST(p * v AS DECIMAL(38,4))) AS pv
        |  FROM w GROUP BY 1, 2)
        |SELECT event_type, bucket, n, open, high, low, close,
        |  CAST(vol AS DOUBLE) AS volume,
        |  CASE WHEN vol > 0 THEN CAST(pv AS DOUBLE) / CAST(vol AS DOUBLE)
        |  END AS vwap
        |FROM m""".stripMargin)),

    // ---- warehouse: incremental aggregate maintenance — two half
    //      states merged must equal the from-scratch aggregate ----
    // merged half-states must equal the from-scratch aggregate — the
    // mergeability contract, checked end to end
    Gate("q260_incremental_agg", (s, dir) => {
      import graft.ops.Incremental
      val li = t(s, dir, "lineitem")
      val ms = Seq(Incremental.Measure("l_quantity"),
        Incremental.Measure("l_extendedprice"))
      val even = Incremental.aggState(
        li.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), ms)
      val odd = Incremental.aggState(
        li.filter(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), ms)
      Incremental.finish(
        Incremental.mergeStates(even, odd, Seq("l_returnflag"), ms),
        Seq("l_returnflag"), ms)
    }, Sql(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_l_quantity,
        |  CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS min_l_quantity,
        |  CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS max_l_quantity,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) END AS avg_l_quantity,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_l_extendedprice,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS min_l_extendedprice,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS max_l_extendedprice,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) END AS avg_l_extendedprice
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- time series: STL-lite additive decomposition per event
    //      type — even period 4 exercises the 2×p half-weight MA;
    //      seasonal = n-weighted-centered phase means of the exact
    //      detrended grid ----
    // STL-lite replay: 2×p half-weight MA trend on the DOUBLED cent
    // grid (T = 2·S − ends, m = 2p = 8), detrended values exact on
    // the m·cents grid, phase means and the n-weighted centering one
    // pinned chain each over HUGEINT sums (VARCHAR-routed to match
    // Spark's decimal→double), remainder = value − trend − seasonal
    // left-to-right
    Gate("q406_stl_decompose", (s, dir) =>
      graft.ops.TimeSeries.stlDecompose(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", period = 4), Sql(
      """WITH b AS (SELECT event_type AS k, event_id AS id, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT *, (row_number() OVER wo - 1) % 4 AS phase,
        |    sum(vc) OVER wf AS s5,
        |    count(*) OVER wf AS c5,
        |    lag(vc, 2) OVER wo AS la, lead(vc, 2) OVER wo AS le
        |  FROM b
        |  WINDOW wo AS (PARTITION BY k ORDER BY ts, id),
        |    wf AS (PARTITION BY k ORDER BY ts, id
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
        |t AS (SELECT k, id, ts, vc, phase,
        |    CASE WHEN c5 = 5 THEN 2 * s5 - la - le END AS tt FROM r),
        |d AS (SELECT *, CASE WHEN tt IS NOT NULL THEN 8 * vc - tt END
        |    AS dm FROM t),
        |p AS (SELECT k, phase, count(dm) AS n, sum(dm) AS sn
        |  FROM d GROUP BY 1, 2),
        |c AS (SELECT k, phase,
        |    CASE WHEN n > 0 THEN CAST(CAST(sn AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) / 8.0 / 100.0 END
        |    - CASE WHEN sum(n) OVER wk > 0 THEN
        |        CAST(CAST(sum(sn) OVER wk AS VARCHAR) AS DOUBLE)
        |      / CAST(sum(n) OVER wk AS DOUBLE) / 8.0 / 100.0 END
        |      AS seasonal
        |  FROM p WINDOW wk AS (PARTITION BY k))
        |SELECT d.k AS event_type, d.id AS event_id, d.ts,
        |  CAST(d.vc AS DOUBLE) / 100.0 AS value,
        |  CAST(d.phase AS BIGINT) AS phase,
        |  CAST(d.tt AS DOUBLE) / 8.0 / 100.0 AS trend,
        |  c.seasonal,
        |  CAST(d.vc AS DOUBLE) / 100.0
        |    - CAST(d.tt AS DOUBLE) / 8.0 / 100.0 - c.seasonal
        |    AS remainder
        |FROM d JOIN c ON d.k = c.k AND d.phase = c.phase""".stripMargin)),

    // ---- time series: hourly grid with LINEAR interpolation across
    //      gaps (q126's numeric sibling) — grid-index lerp, one key
    //      exchange serves both directional windows ----
    // q126's axis construction + two IGNORE-NULLS directional
    // windows; the lerp runs on grid-INDEX deltas (exact small
    // integers), three pinned IEEE ops, same shape as the engine
    Gate("q275_interp", (s, dir) =>
      graft.ops.TimeSeries.interpolateAt(t(s, dir, "events"),
        Seq("user_id"), "ts", "value", "hour"), Sql(
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
        |           max(value) AS v
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |      FROM b GROUP BY 1),
        |a AS (SELECT user_id, unnest(generate_series(b0, b1,
        |      INTERVAL 1 HOUR)) AS bucket FROM s),
        |j AS (SELECT a.user_id, a.bucket, b.v,
        |    row_number() OVER (PARTITION BY a.user_id ORDER BY a.bucket)
        |      AS rn
        |  FROM a LEFT JOIN b ON a.user_id = b.user_id
        |    AND a.bucket = b.bucket),
        |w AS (SELECT *,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED
        |      FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN
        |      CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
        |  FROM j)
        |SELECT user_id, bucket, v,
        |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) -
        |           CAST(pv AS DOUBLE)) * (CAST(rn - pi AS DOUBLE)
        |           / CAST(ni - pi AS DOUBLE)) END AS v_interp
        |FROM w""".stripMargin)),

    // ---- customer analytics: RFM scores per nation cohort — exact
    //      equal-frequency cuts, custkey tie-break total order ----
    // the same exact ⌊(r−1)k/n⌋+1 cuts on best-first total orders
    // (custkey tie-break); monetary ranks on the exact decimal sum
    Gate("q276_rfm", (s, dir) =>
      graft.ops.Segmentation.rfmScores(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"),
            col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
          .withColumn("nation", col("c_nationkey").cast("long")),
        Seq("nation"), "o_custkey", "o_orderdate", "o_totalprice"), Sql(
      """WITH base AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    o_custkey, max(o_orderdate) AS last_date,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY last_date DESC, o_custkey) AS rr,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY frequency DESC, o_custkey) AS rf,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY mon DESC, o_custkey) AS rm2
        |  FROM base),
        |sc AS (SELECT nation, o_custkey, last_date, frequency,
        |    CAST(mon AS DOUBLE) AS monetary,
        |    6 - (((rr - 1) * 5) // n + 1) AS r_score,
        |    6 - (((rf - 1) * 5) // n + 1) AS f_score,
        |    6 - (((rm2 - 1) * 5) // n + 1) AS m_score
        |  FROM r)
        |SELECT nation, o_custkey, last_date, frequency, monetary,
        |  CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM sc""".stripMargin)),

    // ---- funnel analytics: exact median conversion latency per
    //      adjacent step pair — funnel + unit-weight median ----
    // q127's funnel chain, whole-second latencies (boundary-count =
    // truncation diff), then the q268 exact-lower-median machinery
    // at unit weight
    Gate("q280_funnel_latency", (s, dir) =>
      graft.ops.TimeSeries.funnelLatency(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")), Sql(
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END
        |       AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         min(q0) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NOT NULL
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         min(q1) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NOT NULL
        |         THEN ts END AS q2 FROM w2),
        |f AS (SELECT user_id, min(q0) AS s1, min(q1) AS s2,
        |      min(q2) AS s3 FROM w3 GROUP BY user_id),
        |lat AS (SELECT 'view_to_click' AS pair,
        |    date_diff('second', s1, s2) AS v0 FROM f
        |    WHERE s1 IS NOT NULL AND s2 IS NOT NULL
        |  UNION ALL SELECT 'click_to_purchase',
        |    date_diff('second', s2, s3) FROM f
        |    WHERE s2 IS NOT NULL AND s3 IS NOT NULL),
        |g AS (SELECT pair, CAST(v0 AS DECIMAL(18,2)) AS v,
        |    CAST(count(*) AS BIGINT) * 100 AS gw,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lat GROUP BY 1, 2),
        |c2 AS (SELECT *,
        |    CAST(sum(gw) OVER (PARTITION BY pair ORDER BY v) AS BIGINT)
        |      AS cum,
        |    CAST(sum(gw) OVER (PARTITION BY pair) AS BIGINT) AS tot,
        |    CAST(sum(c) OVER (PARTITION BY pair) AS BIGINT) AS n FROM g)
        |SELECT pair, max(n) AS n, max(tot) AS total_weight,
        |  CAST(min(v) AS DOUBLE) AS wmedian
        |FROM c2 WHERE 2 * cum >= tot GROUP BY 1""".stripMargin)),

    // ---- SPC: per-user one-sided CUSUM change-point statistic —
    //      the max(0, S+(x−μ₀−k)) recurrence as two LINEAR windows
    //      via S = P − min(prefix P) ----
    // the same prefix-sum identity S = P - min(prefix P, 0), carried
    // in exact BIGINT cents (DuckDB's WINDOWED decimal sum routes
    // through double — measured 0.049999... vs the engine's exact
    // 0.05 — so integer cents are the exact carrier; the closing
    // /100.0 and the decimal→double cast round the same rational to
    // the same nearest double); cents via the ONE snap convention
    // (CAST to DECIMAL(18,2), the q289/q290 discipline — engine ≡
    // oracle on the cent-grid gate data); (ts, event_id) total order
    Gate("q281_cusum", (s, dir) =>
      graft.ops.TimeSeries.cusum(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value",
        target = 50.0, slack = 0.0, threshold = 100.0)
        .select(col("user_id"), col("event_id"), col("value"),
          col("cusum"), col("alarm")), Sql(
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL AND user_id IS NOT NULL),
        |p AS (SELECT user_id, ts, event_id, xc,
        |    CAST(sum(xc - 5000) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pp FROM e),
        |m AS (SELECT *, least(min(pp) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      CAST(0 AS BIGINT)) AS mm FROM p)
        |SELECT user_id, event_id,
        |  CAST(xc AS DOUBLE) / 100.0 AS value,
        |  CAST(pp - mm AS DOUBLE) / 100.0 AS cusum,
        |  (pp - mm) > 10000 AS alarm
        |FROM m""".stripMargin)),

    // ---- time series: rolling OLS trend per user — five linear
    //      moment frames on one exchange, never per-row refits ----
    // integer-cent window sums (exact in any engine), row-index x,
    // the same pinned closing chain per row
    Gate("q290_rolling_slope", (s, dir) =>
      graft.ops.TimeSeries.rollingSlope(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value", window = 10)
        .select(col("user_id"), col("event_id"), col("value"),
          col("slope")), Sql(
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER win AS BIGINT) AS x
        |  FROM e WINDOW win AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        |w AS (SELECT user_id, event_id, yc,
        |    CAST(count(*) OVER f AS DOUBLE) AS n,
        |    CAST(sum(x) OVER f AS DOUBLE) AS sx,
        |    CAST(sum(yc) OVER f AS DOUBLE) AS sy,
        |    CAST(sum(x * yc) OVER f AS DOUBLE) AS sxy,
        |    CAST(sum(x * x) OVER f AS DOUBLE) AS sxx
        |  FROM r WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, CAST(yc AS DOUBLE) / 100.0 AS value,
        |  CASE WHEN (n * sxx - sx * sx) > 0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0
        |  END AS slope
        |FROM w""".stripMargin)),

    // ---- funnel: gap-constrained conversion chain — click within
    //      an hour of a view, purchase within an hour of that ----
    // the q127 funnel chain with running MAX markers and the gap test
    // on exact epoch micros
    Gate("q292_funnel_within", (s, dir) =>
      graft.ops.TimeSeries.funnelWithin(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapSeconds = 3600), Sql(
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END
        |       AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         epoch_us(max(q0) OVER (PARTITION BY user_id ORDER BY ts))
        |           >= epoch_us(ts) - 3600000000
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         epoch_us(max(q1) OVER (PARTITION BY user_id ORDER BY ts))
        |           >= epoch_us(ts) - 3600000000
        |         THEN ts END AS q2 FROM w2)
        |SELECT user_id AS actor, min(q0) AS step1_ts, min(q1) AS step2_ts,
        |  min(q2) AS step3_ts,
        |  CASE WHEN min(q2) IS NOT NULL THEN 3
        |       WHEN min(q1) IS NOT NULL THEN 2
        |       WHEN min(q0) IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM w3 GROUP BY user_id""".stripMargin)),

    // ---- SPC: lower-sided CUSUM mirror — sustained DOWNWARD mean
    //      shift, same two-linear-window prefix-sum identity ----
    // the lower-sided mirror: drift flips to (5000 - xc), everything
    // else identical to q281
    Gate("q295_cusum_lower", (s, dir) =>
      graft.ops.TimeSeries.cusumLower(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value",
        target = 50.0, slack = 0.0, threshold = 100.0)
        .select(col("user_id"), col("event_id"), col("value"),
          col("cusum"), col("alarm")), Sql(
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL AND user_id IS NOT NULL),
        |p AS (SELECT user_id, ts, event_id, xc,
        |    CAST(sum(5000 - xc) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pp FROM e),
        |m AS (SELECT *, least(min(pp) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      CAST(0 AS BIGINT)) AS mm FROM p)
        |SELECT user_id, event_id,
        |  CAST(xc AS DOUBLE) / 100.0 AS value,
        |  CAST(pp - mm AS DOUBLE) / 100.0 AS cusum,
        |  (pp - mm) > 10000 AS alarm
        |FROM m""".stripMargin)),

    // ---- product analytics: top-k sessionized event-type journeys
    //      ("view > click > purchase") — the Sankey feed ----
    // the q89 sessionization (lag + running break sum, ties share a
    // session), first-5 path via ORDER BY (t, event_id) string_agg,
    // count-desc/path-asc total-order rank
    Gate("q296_top_paths", (s, dir) =>
      graft.ops.TimeSeries.topPaths(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        gapSeconds = 1800L, maxLen = 5, k = 20), Sql(
      """WITH b AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL
        |      OR t - prev > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS sess
        |  FROM (SELECT *, lag(t) OVER (PARTITION BY user_id
        |          ORDER BY t) AS prev FROM b)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |    ORDER BY t, event_id) AS rn FROM s),
        |p AS (SELECT user_id, sess,
        |    string_agg(event_type, ' > ' ORDER BY t, event_id) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1, 2),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM p GROUP BY 1),
        |k AS (SELECT path, n_sessions,
        |    CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |      AS INT) AS "rank"
        |  FROM c)
        |SELECT * FROM k WHERE "rank" <= 20""".stripMargin)),

    // ---- growth analytics: generic cohort-LTV curve at hour grain —
    //      cohort stamp, (cohort, age) grid, cumulative revenue per
    //      acquired user ----
    // exact integer-cent revenue (windowed decimal sums route through
    // double in DuckDB — the q281 lesson), hour buckets in epoch
    // micros, age as exact integer division, distinct-actor counts,
    // the ltv closing chain pinned IEEE
    Gate("q297_cohort_ltv_hourly", (s, dir) =>
      graft.ops.TimeSeries.cohortLtv(t(s, dir, "events"),
        "user_id", "ts", "value", unit = "hour")
        .select(unix_micros(col("cohort")).as("cohort_us"), col("age"),
          col("n_active"), col("revenue"), col("cum_revenue"),
          col("cohort_size"), col("ltv")), Sql(
      """WITH b AS (SELECT user_id,
        |    epoch_us(date_trunc('hour', ts)) AS bu,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |w AS (SELECT *, min(bu) OVER (PARTITION BY user_id) AS cu
        |  FROM b),
        |a AS (SELECT user_id, cu, (bu - cu) // 3600000000 AS age, vc
        |  FROM w),
        |sz AS (SELECT cu,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
        |  FROM a WHERE age = 0 GROUP BY 1),
        |g AS (SELECT cu, age,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
        |    CAST(sum(vc) AS BIGINT) AS rev_c FROM a GROUP BY 1, 2),
        |c AS (SELECT *, CAST(sum(rev_c) OVER (PARTITION BY cu
        |    ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cum_c FROM g)
        |SELECT c.cu AS cohort_us, CAST(c.age AS BIGINT) AS age,
        |  c.n_active,
        |  CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
        |  CAST(cum_c AS DOUBLE) / 100.0 AS cum_revenue,
        |  sz.cohort_size,
        |  (CAST(cum_c AS DOUBLE) / 100.0) / CAST(sz.cohort_size AS DOUBLE)
        |    AS ltv
        |FROM c JOIN sz ON c.cu = sz.cu""".stripMargin)),

    // ---- retention: Nelson-Aalen cumulative hazard per signup-month
    //      cohort — the counting-process companion to q218's KM ----
    // the q218 subject/at-risk machinery verbatim; increments d/n on
    // the 1e-9 grid carried as exact integer NANO-units through the
    // running window (DuckDB's windowed DECIMAL sum routes through
    // double — the q281 lesson), one closing /1e9
    Gate("q299_nelson_aalen", (s, dir) =>
      graft.ops.Survival.nelsonAalen(survivalSubjects(s, dir),
        Seq("cohort"), "duration", "observed"), Sql(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT) AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c FROM r),
        |f AS (SELECT *, CAST(CAST(round(CAST(d AS DOUBLE)
        |    / CAST(n_risk AS DOUBLE), 9) AS DECIMAL(12,9))
        |    * 1000000000 AS BIGINT) AS hn FROM k)
        |SELECT cohort, t, n_risk, d, c,
        |  CAST(sum(hn) OVER (PARTITION BY cohort ORDER BY t) AS DOUBLE)
        |    / 1000000000.0 AS cum_hazard
        |FROM f""".stripMargin)),

    // ---- finance/ops: hourly TWAP per event type — holding-time-
    //      weighted average, the fair mean for irregular ticks ----
    // exact integer cents × integer micros weighted sums; the lead
    // window's gap closes to the hour edge; two pinned divisions
    Gate("q301_twap", (s, dir) =>
      graft.ops.TimeSeries.twap(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", unit = "hour")
        .select(col("event_type"), unix_micros(col("bucket")).as("bucket_us"),
          col("n_ticks"), col("twap")), Sql(
      """WITH b AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) AS bu,
        |    epoch_us(ts) AS t, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL),
        |w AS (SELECT *, coalesce(lead(t) OVER (PARTITION BY event_type,
        |    bu ORDER BY t, event_id), bu + 3600000000) - t AS wt
        |  FROM b)
        |SELECT event_type, bu AS bucket_us,
        |  CAST(count(*) AS BIGINT) AS n_ticks,
        |  CASE WHEN sum(wt) > 0 THEN CAST(sum(vc * wt) AS DOUBLE)
        |    / CAST(sum(wt) AS DOUBLE) / 100.0 END AS twap
        |FROM w GROUP BY 1, 2""".stripMargin)),

    // ---- changepoint: best single mean-shift split per type —
    //      max between-group SS from prefix sums, earliest tie ----
    // exact cent prefix sums, the B_i identity replayed in the
    // engine's pinned IEEE order (cents/100 = the same correctly-
    // rounded doubles), earliest-position tie-break
    Gate("q315_best_mean_split", (s, dir) =>
      graft.ops.TimeSeries.bestMeanSplit(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value")
        .select(col("event_type"), col("n"), col("split_index"),
          unix_micros(col("split_ts")).as("split_ts_us"), col("gain")), Sql(
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT event_type, ts, vc,
        |    CAST(row_number() OVER win AS BIGINT) AS i,
        |    CAST(sum(vc) OVER win AS BIGINT) AS sc,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(vc) OVER (PARTITION BY event_type) AS BIGINT) AS tc
        |  FROM b WINDOW win AS (PARTITION BY event_type
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT event_type, ts, i, n,
        |    CAST(sc AS DOUBLE) / 100.0 * (CAST(sc AS DOUBLE) / 100.0)
        |      / CAST(i AS DOUBLE)
        |    + (CAST(tc AS DOUBLE) / 100.0 - CAST(sc AS DOUBLE) / 100.0)
        |      * (CAST(tc AS DOUBLE) / 100.0 - CAST(sc AS DOUBLE) / 100.0)
        |      / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
        |    - CAST(tc AS DOUBLE) / 100.0 * (CAST(tc AS DOUBLE) / 100.0)
        |      / CAST(n AS DOUBLE) AS gain
        |  FROM w WHERE i < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain DESC, i) AS rk FROM g)
        |SELECT event_type, n, i AS split_index,
        |  epoch_us(ts) AS split_ts_us, gain
        |FROM r WHERE rk = 1""".stripMargin)),

    // ---- forecasting: Theil's U1/U2 — exact cent sums of squares,
    //      naive-lag denominator, pinned sqrt chains ----
    // exact cent sums of squares (VARCHAR-routed), naive-lag
    // denominator on the (ts, event_id) order, pinned sqrt chains
    Gate("q388_theil_u", (s, dir) =>
      graft.ops.TimeSeries.theilU(
        t(s, dir, "events")
          .withColumn("fc", col("value") +
            (pmod(col("event_id"), lit(5L)) - lit(2L)).cast("double")),
        Seq("event_type"), "ts", "event_id", "value", "fc"), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ac,
        |    CAST(CAST(value + CAST(((event_id % 5) + 5) % 5 - 2
        |      AS DOUBLE) AS DECIMAL(18,2)) * 100 AS BIGINT) AS fc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *, fc - ac AS e,
        |    ac - lag(ac) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS nd FROM b),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    sum(e * e) AS see, sum(ac * ac) AS saa,
        |    sum(fc * fc) AS sff, sum(nd * nd) AS snn,
        |    sum(CASE WHEN nd IS NOT NULL THEN e * e END) AS sel
        |  FROM w GROUP BY 1),
        |z AS (SELECT k, n, CAST(n AS DOUBLE) AS ndb,
        |    CAST(CAST(see AS VARCHAR) AS DOUBLE) AS dee,
        |    CAST(CAST(saa AS VARCHAR) AS DOUBLE) AS daa,
        |    CAST(CAST(sff AS VARCHAR) AS DOUBLE) AS dff,
        |    CAST(CAST(snn AS VARCHAR) AS DOUBLE) AS dnn,
        |    CAST(CAST(sel AS VARCHAR) AS DOUBLE) AS del FROM m)
        |SELECT k AS event_type, n,
        |  CASE WHEN sqrt(daa / ndb) + sqrt(dff / ndb) > 0.0 THEN
        |    sqrt(dee / ndb) / (sqrt(daa / ndb) + sqrt(dff / ndb))
        |  END AS u1,
        |  CASE WHEN dnn IS NOT NULL AND dnn > 0.0 THEN
        |    sqrt(del) / sqrt(dnn) END AS u2
        |FROM z""".stripMargin)),

    // ---- forecasting: tracking signal — order-free signed/absolute
    //      error sums, the +-4 control-limit bias monitor ----
    // order-free signed/absolute cent error sums, pinned unit and
    // TS closings
    Gate("q389_tracking_signal", (s, dir) =>
      graft.ops.TimeSeries.trackingSignal(
        t(s, dir, "events")
          .withColumn("fc", col("value") +
            (pmod(col("event_id"), lit(5L)) - lit(2L)).cast("double")),
        Seq("event_type"), "value", "fc"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ac,
        |    CAST(CAST(value + CAST(((event_id % 5) + 5) % 5 - 2
        |      AS DOUBLE) AS DECIMAL(18,2)) * 100 AS BIGINT) AS fc
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    sum(ac - fc) AS se, sum(abs(ac - fc)) AS sae
        |  FROM b GROUP BY 1),
        |z AS (SELECT k, n, CAST(n AS DOUBLE) AS ndb,
        |    CAST(CAST(se AS VARCHAR) AS DOUBLE) AS dse,
        |    CAST(CAST(sae AS VARCHAR) AS DOUBLE) AS dae FROM m)
        |SELECT k AS event_type, n, dse / 100.0 AS cum_error,
        |  dae / ndb / 100.0 AS mad,
        |  CASE WHEN dae > 0.0 THEN dse / (dae / ndb) END
        |    AS tracking_signal
        |FROM z""".stripMargin)),

    // ---- survival: quartile read-off from the KM curve (q218's
    //      subject fixture; unreached thresholds stay null) ----
    // q218's KM replay + snapped survival and conditional-min
    // quantile read-offs
    Gate("q393_survival_quantiles", (s, dir) =>
      graft.ops.Survival.survivalQuantiles(survivalSubjects(s, dir),
        Seq("cohort"), "duration", "observed"), Sql(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT) AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c FROM r),
        |f AS (SELECT *, CASE WHEN n_risk > d THEN
        |    CAST(round(ln(CAST(n_risk - d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(12,9)) END AS lf
        |  FROM k),
        |km AS (SELECT cohort, t, d,
        |    CASE WHEN lf IS NOT NULL THEN
        |      CAST(sum(lf) OVER (PARTITION BY cohort ORDER BY t)
        |        AS DOUBLE)
        |    END AS log_surv
        |  FROM f),
        |sv AS (SELECT cohort, t, d,
        |    CASE WHEN log_surv IS NOT NULL
        |      THEN round(exp(log_surv), 9) ELSE 0.0 END AS s
        |  FROM km)
        |SELECT cohort, CAST(count(*) AS BIGINT) AS n_times,
        |  CAST(sum(d) AS BIGINT) AS n_events,
        |  min(CASE WHEN d > 0 AND s <= 0.75 THEN t END) AS t_25,
        |  min(CASE WHEN d > 0 AND s <= 0.50 THEN t END) AS median_t,
        |  min(CASE WHEN d > 0 AND s <= 0.25 THEN t END) AS t_75
        |FROM sv GROUP BY 1""".stripMargin)),

    // ---- survival: restricted mean survival time — area under the
    //      KM curve to a 30-day horizon, time-order segment fold ----
    // the q218 KM grid verbatim, survival snapped to the 9-decimal
    // grid (round(exp(log_surv), 9) — the transcendental-rounding
    // discipline), then the time-order segment fold clamped at the
    // 30-day horizon with the pinned open-tail closing
    Gate("q374_rmst", (s, dir) =>
      graft.ops.Survival.rmst(survivalSubjects(s, dir), Seq("cohort"),
        "duration", "observed", tau = 30L), Sql(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS dd FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(dd) AS first_d, max(dd) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c
        |  FROM r),
        |f AS (SELECT *, CASE WHEN n_risk > d THEN
        |    CAST(round(ln(CAST(n_risk - d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(12,9)) END AS lf
        |  FROM k),
        |ls AS (SELECT cohort, t, d,
        |    CASE WHEN lf IS NOT NULL THEN
        |      CAST(sum(lf) OVER (PARTITION BY cohort ORDER BY t)
        |        AS DOUBLE)
        |    END AS log_surv
        |  FROM f),
        |sv AS (SELECT cohort, t, d,
        |    CASE WHEN log_surv IS NOT NULL
        |      THEN round(exp(log_surv), 9) ELSE 0.0 END AS s
        |  FROM ls),
        |g2 AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_times,
        |    CAST(sum(d) AS BIGINT) AS n_events,
        |    list_reduce(list_prepend([0.0, 0.0, 1.0],
        |      list([CAST(t AS DOUBLE), s] ORDER BY t)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN least(p[1], 30.0) > acc[2]
        |        THEN acc[3] * (least(p[1], 30.0) - acc[2])
        |        ELSE 0.0 END,
        |      greatest(acc[2], least(p[1], 30.0)),
        |      p[2]]) AS m
        |  FROM sv GROUP BY 1)
        |SELECT cohort, n_times, n_events,
        |  m[1] + CASE WHEN m[2] < 30.0
        |    THEN m[3] * (30.0 - m[2]) ELSE 0.0 END AS rmst
        |FROM g2""".stripMargin)),

    // ---- time-series: MACD momentum triple — three in-group EMA
    //      folds, in-expression alphas, per-event rows ----
    // the engine's three EMA recurrences replayed as a recursive
    // walk: ef/es seed at x0, alphas 2/(span+1) computed in the
    // expression, signal seeds at macd0 = +0.0, every step the same
    // pinned e + a*(x - e) chain
    Gate("q354_macd", (s, dir) =>
      graft.ops.TimeSeries.macd(
        t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value"), Sql(
      """WITH RECURSIVE r0 AS (SELECT user_id, ts, event_id,
        |    CAST(value AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |walk AS (
        |  SELECT user_id, ts, event_id, v, rn, v AS ef, v AS es,
        |    CAST(0.0 AS DOUBLE) AS sg FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.user_id, r0.ts, r0.event_id, r0.v, r0.rn,
        |    w.ef + 2.0 / (12.0 + 1.0) * (r0.v - w.ef),
        |    w.es + 2.0 / (26.0 + 1.0) * (r0.v - w.es),
        |    w.sg + 2.0 / (9.0 + 1.0) *
        |      (w.ef + 2.0 / (12.0 + 1.0) * (r0.v - w.ef)
        |       - (w.es + 2.0 / (26.0 + 1.0) * (r0.v - w.es)) - w.sg)
        |  FROM walk w JOIN r0 ON r0.user_id = w.user_id
        |    AND r0.rn = w.rn + 1)
        |SELECT user_id, event_id, ts, v AS value, ef - es AS macd,
        |  sg AS signal, ef - es - sg AS histogram
        |FROM walk""".stripMargin)),

    // ---- time-series: stochastic oscillator — exact integer frame
    //      min/max, pinned %K, explicit-lag %D ----
    // exact integer trailing-frame min/max on the cent grid, pinned
    // 100*(x-ll)/(hh-ll) with a flat-frame null, %D via explicit
    // lags (never a windowed double sum)
    Gate("q355_stochastic", (s, dir) =>
      graft.ops.TimeSeries.stochasticOscillator(
        t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value"), Sql(
      """WITH b AS (SELECT user_id, ts, event_id, value,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT *,
        |    min(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll,
        |    max(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh
        |  FROM b),
        |k AS (SELECT *, CASE WHEN hh > ll
        |    THEN 100.0 * CAST(vc - ll AS DOUBLE)
        |      / CAST(hh - ll AS DOUBLE) END AS pk FROM w),
        |d AS (SELECT *, (pk
        |    + lag(pk, 1) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id)
        |    + lag(pk, 2) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id)) / 3.0 AS pd FROM k)
        |SELECT user_id, event_id, ts, value, pk AS pct_k,
        |  pd AS pct_d
        |FROM d""".stripMargin)),

    // ---- forecasting: accuracy scorecard MAE/RMSE/MAPE/sMAPE/MASE
    //      — exact cent sums, 1e-9-grid ratio quantization ----
    // exact cent error sums, 1e-9-grid integer-division ratio
    // quantization (both engines truncate positives identically),
    // in-sample naive-lag MASE scale; the gate's pred column is
    // exact decimal value*0.95 + 2.0 (oracle rounds explicitly —
    // DuckDB decimal downscale casts truncate)
    Gate("q356_forecast_accuracy", (s, dir) =>
      graft.ops.TimeSeries.forecastAccuracy(
        t(s, dir, "events")
          .withColumn("pred",
            col("value").cast("decimal(18,2)") *
              lit(new java.math.BigDecimal("0.95")) +
              lit(new java.math.BigDecimal("2.0"))),
        Seq("event_type"), "ts", "event_id", "value", "pred"), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ac,
        |    CAST(CAST(round(CAST(value AS DECIMAL(18,2)) * 0.95
        |      + 2.0, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS fc
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT *, abs(ac - fc) AS ae,
        |    abs(ac - lag(ac) OVER (PARTITION BY k
        |      ORDER BY ts, event_id)) AS nd
        |  FROM b),
        |q AS (SELECT *,
        |    CASE WHEN ac <> 0
        |      THEN (ae * 1000000000) // abs(ac) END AS mq,
        |    CASE WHEN abs(ac) + abs(fc) <> 0
        |      THEN (ae * 1000000000) // (abs(ac) + abs(fc)) END AS sq
        |  FROM r),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ae) AS DOUBLE) AS sae,
        |    CAST(sum(ae * ae) AS DOUBLE) AS sse,
        |    CAST(sum(mq) AS DOUBLE) AS smq,
        |    CAST(count(mq) AS BIGINT) AS cmq,
        |    CAST(sum(sq) AS DOUBLE) AS ssq,
        |    CAST(count(sq) AS BIGINT) AS csq,
        |    CAST(sum(nd) AS DOUBLE) AS snd,
        |    CAST(count(nd) AS BIGINT) AS cnd
        |  FROM q GROUP BY 1),
        |x AS (SELECT *, CAST(n AS DOUBLE) AS ndb FROM g)
        |SELECT k AS event_type, n,
        |  sae / ndb / 100.0 AS mae,
        |  sqrt(sse / ndb) / 100.0 AS rmse,
        |  CASE WHEN cmq > 0 THEN smq / CAST(cmq AS DOUBLE)
        |    / 10000000.0 END AS mape,
        |  CASE WHEN csq > 0 THEN ssq / CAST(csq AS DOUBLE)
        |    / 1000000000.0 * 200.0 END AS smape,
        |  CASE WHEN cnd > 0 AND snd > 0.0
        |    THEN sae / ndb / (snd / CAST(cnd AS DOUBLE)) END AS mase
        |FROM x""".stripMargin)),

    // ---- forecasting: Croston's method — calendar-spine grid with
    //      explicit zeros, five-double size/interval fold ----
    // the engine's gate verbatim: daily demand = decimal sums of the
    // >= 110 tail per (type, day), calendar spine from min to max day
    // with explicit zeros, then the five-double Croston fold (first
    // demand initializes z = x, p = q; alpha = 0.2 thereafter)
    Gate("q347_croston", (s, dir) => {
      val e = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
      val d = e.filter(col("value") >= 110.0)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("demand"))
      val span = e.groupBy(col("event_type"))
        .agg(date_trunc("day", min(col("ts"))).as("d0"),
          date_trunc("day", max(col("ts"))).as("d1"))
      val grid = span.withColumn("day",
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day")))).drop("d0", "d1")
      val feed = grid.join(d, Seq("event_type", "day"), "left")
        .withColumn("demand", coalesce(col("demand"), lit(0.0)))
      graft.ops.TimeSeries.croston(feed, Seq("event_type"),
        "day", "day", "demand", alpha = 0.2)
    }, Sql(
      """WITH e AS (SELECT event_type AS k, ts, value FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |d AS (SELECT k, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS demand
        |  FROM e WHERE value >= 110 GROUP BY 1, 2),
        |span AS (SELECT k, date_trunc('day', min(ts)) AS d0,
        |    date_trunc('day', max(ts)) AS d1 FROM e GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY)) AS day FROM span),
        |feed AS (SELECT g.k, g.day,
        |    CAST(CAST(coalesce(d.demand, 0.0) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS xc
        |  FROM grid g LEFT JOIN d ON d.k = g.k AND d.day = g.day),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n_periods,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(xc AS DOUBLE)] ORDER BY day)),
        |    (acc, p) -> CASE
        |      WHEN p[1] > 0.0 AND acc[4] = 0.0
        |        THEN [p[1], acc[3] + 1.0, 0.0, 1.0, 1.0]
        |      WHEN p[1] > 0.0
        |        THEN [CAST(0.2 AS DOUBLE) * p[1]
        |            + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE))
        |              * acc[1],
        |          CAST(0.2 AS DOUBLE) * (acc[3] + 1.0)
        |            + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE))
        |              * acc[2],
        |          0.0, 1.0, acc[5] + 1.0]
        |      ELSE [acc[1], acc[2], acc[3] + 1.0, acc[4], acc[5]]
        |      END) AS m
        |  FROM feed GROUP BY 1)
        |SELECT k AS event_type, n_periods,
        |  CAST(m[5] AS BIGINT) AS n_demands,
        |  CASE WHEN m[4] = 1.0 THEN m[1] / 100.0 END AS size_est,
        |  CASE WHEN m[4] = 1.0 THEN m[2] END AS interval_est,
        |  CASE WHEN m[4] = 1.0 THEN m[1] / m[2] / 100.0 END AS forecast
        |FROM f""".stripMargin)),

    // ---- time-series: Holt-Winters additive seasonal — (3+m)-double
    //      sequential fold, in-expression complements, per-season rows ----
    // the engine's (3+7)-double fold verbatim: zero init, season by
    // tick position mod 7, alpha/beta/gamma AND their complements as
    // in-expression DOUBLE casts (the q327 ulp discipline); the l2
    // expression repeats inside b2/s_j — pure, identical doubles
    Gate("q342_holt_winters", (s, dir) =>
      graft.ops.TimeSeries.holtWinters(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value",
        alpha = 0.3, beta = 0.1, gamma = 0.2, period = 7), Sql {
      val j0 = "(CAST(acc[3] AS BIGINT) % 7)"
      val sj = s"acc[CAST($j0 + 4 AS INT)]"
      val one = "CAST(1.0 AS DOUBLE)"
      val A = "CAST(0.3 AS DOUBLE)"
      val B = "CAST(0.1 AS DOUBLE)"
      val G = "CAST(0.2 AS DOUBLE)"
      val l2 = s"($A * (p[1] - $sj) + ($one - $A) * (acc[1] + acc[2]))"
      val b2 = s"($B * ($l2 - acc[1]) + ($one - $B) * acc[2])"
      val sj2 = s"($G * (p[1] - $l2) + ($one - $G) * $sj)"
      s"""WITH b AS (SELECT event_type AS k, ts, event_id,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND value IS NOT NULL AND event_type IS NOT NULL),
         |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
         |    list_reduce(list_prepend(
         |      [0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0],
         |      list([v] ORDER BY ts, event_id)),
         |    (acc, p) -> list_value($l2, $b2, acc[3] + $one)
         |      || list_transform([1,2,3,4,5,6,7], q -> CASE
         |        WHEN q = $j0 + 1 THEN $sj2
         |        ELSE acc[CAST(q + 3 AS INT)] END)) AS m
         |  FROM b GROUP BY 1),
         |u AS (SELECT k, n, unnest(list_transform([1,2,3,4,5,6,7],
         |    q -> struct_pack(si := q, sv := m[CAST(q + 3 AS INT)])))
         |    AS s, m[1] AS level, m[2] AS trend FROM f)
         |SELECT k AS event_type, n, CAST(s.si AS BIGINT) AS season_idx,
         |  level, trend, s.sv AS seasonal FROM u""".stripMargin
    }),

    // ---- time-series: Page-Hinkley self-calibrating mean-shift
    //      detector — running-mean walk, latched first alarm ----
    // the engine's five-double Page-Hinkley walk verbatim: running
    // mean one division per step, delta/lambda as grid-unit literals
    // (50 / 20000 cents), latched first-alarm index; the m_t
    // expression repeats inside least/CASE — pure, so every
    // occurrence evaluates to the identical double
    Gate("q338_page_hinkley", (s, dir) =>
      graft.ops.TimeSeries.pageHinkley(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value",
        delta = 0.5, lambda = 200.0), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(vc AS DOUBLE)] ORDER BY ts, event_id)),
        |    (acc, p) -> [acc[1] + 1.0, acc[2] + p[1],
        |      acc[3] + (p[1] - (acc[2] + p[1]) / (acc[1] + 1.0) - 50.0),
        |      least(acc[4], acc[3] + (p[1] - (acc[2] + p[1])
        |        / (acc[1] + 1.0) - 50.0)),
        |      CASE WHEN acc[5] > 0.0 THEN acc[5]
        |        WHEN (acc[3] + (p[1] - (acc[2] + p[1]) / (acc[1] + 1.0)
        |            - 50.0))
        |          - least(acc[4], acc[3] + (p[1] - (acc[2] + p[1])
        |            / (acc[1] + 1.0) - 50.0)) > 20000.0
        |        THEN acc[1] + 1.0 ELSE 0.0 END]) AS m
        |  FROM b GROUP BY 1)
        |SELECT k AS event_type, n, m[2] / m[1] / 100.0 AS mean,
        |  (m[3] - m[4]) / 100.0 AS ph,
        |  CASE WHEN m[5] > 0.0 THEN CAST(m[5] AS BIGINT) END AS alarm_at
        |FROM f""".stripMargin)),

    // ---- time-series: Wilder RSI — exact cent deltas, seeded
    //      Wilder recurrence fold, pinned bounded-momentum closing ----
    // the engine's Wilder chain verbatim: cent deltas via lag on the
    // (ts, event_id) total order, three-double list_reduce state
    // (seed sums -> one division at i = n -> Wilder recurrence with
    // in-expression 13/14 literals), pinned 100*aG/(aG+aL) closing
    Gate("q335_rsi", (s, dir) =>
      graft.ops.TimeSeries.rsi(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", period = 14), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |d AS (SELECT k, ts, event_id,
        |    CAST(vc - lag(vc) OVER (PARTITION BY k ORDER BY ts,
        |      event_id) AS DOUBLE) AS d
        |  FROM b),
        |dd AS (SELECT * FROM d WHERE d IS NOT NULL),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n_deltas,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0],
        |      list([d] ORDER BY ts, event_id)),
        |    (acc, p) -> CASE
        |      WHEN acc[1] + 1.0 < 14.0 THEN [acc[1] + 1.0,
        |        acc[2] + greatest(p[1], 0.0),
        |        acc[3] + greatest(-p[1], 0.0)]
        |      WHEN acc[1] + 1.0 = 14.0 THEN [acc[1] + 1.0,
        |        (acc[2] + greatest(p[1], 0.0)) / 14.0,
        |        (acc[3] + greatest(-p[1], 0.0)) / 14.0]
        |      ELSE [acc[1] + 1.0,
        |        (acc[2] * 13.0 + greatest(p[1], 0.0)) / 14.0,
        |        (acc[3] * 13.0 + greatest(-p[1], 0.0)) / 14.0]
        |      END) AS m
        |  FROM dd GROUP BY 1)
        |SELECT k AS event_type, n_deltas,
        |  CASE WHEN m[1] >= 14.0 THEN m[2] / 100.0 END AS avg_gain,
        |  CASE WHEN m[1] >= 14.0 THEN m[3] / 100.0 END AS avg_loss,
        |  CASE WHEN m[1] >= 14.0 AND m[2] + m[3] > 0.0
        |    THEN 100.0 * m[2] / (m[2] + m[3]) END AS rsi
        |FROM f""".stripMargin)),

    // ---- time-series: maximum drawdown — integer cumulative-max
    //      peak, pinned relative drop, total-order argmax ----
    Gate("q331_max_drawdown", (s, dir) =>
      graft.ops.TimeSeries.maxDrawdown(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value"), Sql(
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *, max(vc) OVER win AS peak,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b WINDOW win AS (PARTITION BY event_type
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT *, CASE WHEN peak > 0 THEN
        |    CAST(peak - vc AS DOUBLE) / CAST(peak AS DOUBLE) END AS dd
        |  FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY dd DESC NULLS LAST, ts, event_id) AS rk FROM d)
        |SELECT event_type, n,
        |  CASE WHEN dd IS NOT NULL THEN CAST(peak AS DOUBLE) / 100.0
        |    END AS peak_value,
        |  CASE WHEN dd IS NOT NULL THEN CAST(vc AS DOUBLE) / 100.0
        |    END AS trough_value,
        |  dd AS max_drawdown
        |FROM r WHERE rk = 1""".stripMargin)),

    // ---- time-series: Holt linear-trend smoothing — O(1)-state
    //      sequential fold per key, in-expression complements,
    //      final (level, trend) + 3-step forecast ----
    // the engine's Holt fold verbatim: DOUBLE[] list_reduce state
    // (q307 discipline — struct accumulators don't fold in DuckDB),
    // complements computed IN-ENGINE as 1.0 − α (a pre-printed 0.7
    // literal is an ulp off), l₂ recomputed textually inside b₂
    Gate("q327_holt_linear", (s, dir) =>
      graft.ops.TimeSeries.holtLinear(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value",
        alpha = 0.3, beta = 0.1, horizon = 3), Sql {
      val a = "CAST(0.300000000 AS DOUBLE)"
      val bb = "CAST(0.100000000 AS DOUBLE)"
      val l2 = s"($a * x[1] + (CAST(1.0 AS DOUBLE) - $a) " +
        "* (acc[1] + acc[2]))"
      s"""WITH b AS (SELECT event_type, ts, event_id,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |    AND event_type IS NOT NULL),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    list_reduce(list_prepend(CAST([] AS DOUBLE[]),
         |      list_transform(list(v ORDER BY ts, event_id),
         |        x -> [CAST(x AS DOUBLE)])),
         |      (acc, x) -> CASE WHEN len(acc) = 0
         |        THEN [x[1], CAST(0.0 AS DOUBLE)]
         |        ELSE [$l2,
         |          $bb * ($l2 - acc[1])
         |            + (CAST(1.0 AS DOUBLE) - $bb) * acc[2]]
         |      END) AS s
         |  FROM b GROUP BY 1)
         |SELECT event_type, n, s[1] AS level, s[2] AS trend,
         |  s[1] + CAST(3.0 AS DOUBLE) * s[2] AS forecast
         |FROM st""".stripMargin
    }),

    // ---- time-series: TWAP with prevailing-quote carry-in — holds
    //      explode into the buckets they span (bucket-grid sequence),
    //      carried buckets report the held price with n_ticks 0 ----
    // the engine's carry-in chain verbatim: global per-key lead on
    // (t, event_id), hold exploded over the bucket grid
    // (generate_series ≡ Spark sequence, inclusive), integer segment
    // weights, one closing division; last hold ends at its own
    // bucket's edge
    Gate("q326_twap_carry", (s, dir) =>
      graft.ops.TimeSeries.twapCarry(
        t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value", unit = "hour")
        .select(col("user_id"),
          unix_micros(col("bucket")).as("bucket_us"),
          col("n_ticks"), col("twap")), Sql(
      """WITH b AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |h AS (SELECT *, t - t % 3600000000 AS b0,
        |    coalesce(lead(t) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id),
        |      t - t % 3600000000 + 3600000000) AS e
        |  FROM b),
        |s AS (SELECT user_id, b0, vc, t, e,
        |    unnest(generate_series(b0,
        |      greatest(b0, (e - 1) - (e - 1) % 3600000000),
        |      3600000000)) AS ib
        |  FROM h),
        |g AS (SELECT user_id, ib AS bucket_us,
        |    CAST(sum(CASE WHEN ib = b0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ticks,
        |    CAST(sum(greatest(0, least(e, ib + 3600000000)
        |      - greatest(t, ib))) AS BIGINT) AS ws,
        |    CAST(sum(vc * greatest(0, least(e, ib + 3600000000)
        |      - greatest(t, ib))) AS BIGINT) AS vw
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, bucket_us, n_ticks,
        |  CASE WHEN ws > 0 THEN
        |    CAST(vw AS DOUBLE) / CAST(ws AS DOUBLE) / 100.0
        |  END AS twap
        |FROM g""".stripMargin))
  )
}
