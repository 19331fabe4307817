package graft
package gates

import org.apache.spark.sql.functions._

import graft.llm.{TextAnalysis => TA}

import GateSupport._
import Oracle.Sql

/** `graft.agg.Stats` hypothesis tests: two-sample and k-sample
 *  tests, the CDF and rank panels, sequential tests, time-series
 *  tests and multiple-comparison corrections. */
private[graft] object StatsTestGates {

  /** A double on the 1e-9 grid (HALF_UP) as a plain decimal literal:
   *  the pinned constants of the sequential-test oracles. */
  private def l9(x: Double) =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.toPlainString

  val gates: Seq[Gate] = Seq(
    // ---- A/B stats: Welch's unequal-variance t per event type
    //      (hash-split arms; t and Welch-Satterthwaite dof from exact
    //      decimal moments, pinned IEEE composition) ----
    // exact decimal moments, then the pinned IEEE chain: cross-
    // multiplied sample variance, se2 = va/na + vb/nb left-to-right,
    // sqrt correctly rounded in both engines
    Gate("q208_welch_t", (s, dir) =>
      graft.agg.Stats.welchT(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    sum(CASE WHEN arm = 'a' THEN v END) AS sa0,
        |    sum(CASE WHEN arm = 'a' THEN v * v END) AS ssa0,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN arm = 'b' THEN v END) AS sb0,
        |    sum(CASE WHEN arm = 'b' THEN v * v END) AS ssb0
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb2,
        |    CAST(sa0 AS DOUBLE) AS sa, CAST(ssa0 AS DOUBLE) AS ssa,
        |    CAST(sb0 AS DOUBLE) AS sb, CAST(ssb0 AS DOUBLE) AS ssb FROM m),
        |v AS (SELECT *, (na * ssa - sa * sa) / (na * (na - 1.0)) AS va,
        |    (nb2 * ssb - sb * sb) / (nb2 * (nb2 - 1.0)) AS vb FROM d),
        |s2 AS (SELECT *, va / na AS sea, vb / nb2 AS seb,
        |    va / na + vb / nb2 AS se2 FROM v)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN sa / na END AS mean_a,
        |  CASE WHEN n_b > 0 THEN sb / nb2 END AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0.0
        |    THEN (sa / na - sb / nb2) / sqrt(se2) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0.0
        |    THEN (se2 * se2) / ((sea * sea) / (na - 1.0)
        |      + (seb * seb) / (nb2 - 1.0)) END AS dof
        |FROM s2""".stripMargin)),

    // ---- A/B stats: Mann-Whitney U (rank-sum) per event type —
    //      the nonparametric companion to q208's Welch t; exact
    //      doubled-rank arithmetic, tie-corrected z ----
    // same doubled-rank grid (2·cum − c + 1 per tie run), exact
    // decimal rank sums, and the pinned z composition
    Gate("q211_mann_whitney", (s, dir) =>
      graft.agg.Stats.mannWhitneyU(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY event_type
        |    ORDER BY v) AS BIGINT) AS cum FROM g),
        |r2 AS (SELECT *, 2 * cum - c + 1 AS dr FROM r),
        |m AS (SELECT event_type,
        |    CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(CAST(ca * dr AS DECIMAL(38,0))) AS ra2,
        |    sum(CAST(c * c * c - c AS DECIMAL(38,0))) AS tt
        |  FROM r2 GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(ra2 AS DOUBLE) AS ra2d, CAST(tt AS DOUBLE) AS td FROM m),
        |z AS (SELECT *, na + nb AS nn,
        |    ra2d / 2.0 - na * (na + 1.0) / 2.0 AS ua FROM d),
        |s2 AS (SELECT *, na * nb / 12.0 *
        |    ((nn + 1.0) - td / (nn * (nn - 1.0))) AS sig2 FROM z)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN ua END AS u_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN na * nb - ua END AS u_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND sig2 > 0.0
        |    THEN (ua - na * nb / 2.0) / sqrt(sig2) END AS z
        |FROM s2""".stripMargin)),

    // ---- metrics hygiene: Benjamini-Hochberg FDR per language over
    //      deterministic sub-uniform p's (u² of the md5 draw) ----
    // p = u² of the 32-bit md5 draw (exact: /2^32 is a power-of-two
    // division); step-up rule replayed with the same IEEE m·p/k
    Gate("q213_bh_fdr", (s, dir) => {
      val u = TA.md5i(concat(col("doc_id").cast("string"), lit("bh1")))
        .cast("double") / lit(4294967296.0)
      graft.agg.Stats.benjaminiHochberg(
        t(s, dir, "documents").select(col("doc_id"), col("lang"))
          .withColumn("p", u * u),
        Seq("lang"), "doc_id", "p", alpha = 0.3)
        .select("lang", "doc_id", "p", "rank", "p_adj", "significant")
    }, Sql(
      """WITH d AS (SELECT lang, doc_id,
        |    (('0x' || substr(md5(doc_id::VARCHAR || 'bh1'), 1, 8))::BIGINT
        |      / 4294967296.0) AS u
        |  FROM documents),
        |p0 AS (SELECT lang, doc_id, u * u AS p FROM d WHERE u IS NOT NULL),
        |r AS (SELECT lang, doc_id, p,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY p, doc_id) AS BIGINT) AS "rank",
        |    CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS m
        |  FROM p0),
        |a AS (SELECT lang, doc_id, p, "rank",
        |    least(1.0, min(m * p / CAST("rank" AS DOUBLE)) OVER (
        |      PARTITION BY lang ORDER BY p DESC, doc_id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj
        |  FROM r)
        |SELECT lang, doc_id, p, "rank", p_adj, p_adj <= 0.3 AS significant
        |FROM a""".stripMargin)),

    // ---- A/B stats: two-proportion z per event type (pooled
    //      variance) — the rate sibling of q208/q211 ----
    // exact arm/hit counts; the pooled-variance pinned chain
    Gate("q233_two_prop_z", (s, dir) =>
      graft.agg.Stats.twoProportionZ(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b"))
          .withColumn("hit", col("value") >= 50),
        Seq("event_type"), "arm", "a", "b", "hit"), Sql(
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    value >= 50 AS hit
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'a' AND hit THEN 1 ELSE 0 END) AS BIGINT) AS ha,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'b' AND hit THEN 1 ELSE 0 END) AS BIGINT) AS hb
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(ha AS DOUBLE) AS had, CAST(hb AS DOUBLE) AS hbd FROM m),
        |v AS (SELECT *, had / na AS pa, hbd / nb AS pb,
        |    (had + hbd) / (na + nb) AS pp FROM d),
        |s2 AS (SELECT *, pp * (1.0 - pp) * (1.0 / na + 1.0 / nb) AS se2
        |       FROM v)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 THEN pa END AS p_a,
        |  CASE WHEN n_b >= 1 THEN pb END AS p_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND se2 > 0.0
        |    THEN (pa - pb) / sqrt(se2) END AS z
        |FROM s2""".stripMargin)),

    // ---- A/B stats: two-sample Kolmogorov-Smirnov per event type —
    //      distribution-SHAPE drift between arms (q211's rank-sum
    //      sibling); exact integer D numerator ----
    // same pooled-grid CDFs; the D numerator is the exact integer
    // max |cumA·n_b − cumB·n_a|, the one division pinned
    Gate("q239_ks_test", (s, dir) =>
      graft.agg.Stats.ksTest(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
        |    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        |  FROM g),
        |m AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
        |    max(abs(cuma * nb - cumb * na)) AS d_num
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_a, n_b, d_num, n_a * n_b AS d_den,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) END AS d
        |FROM m""".stripMargin)),

    // ---- stats: Cramér's V priority↔status per order-year —
    //      exact contingency counts (full r×c grid incl. structural
    //      zeros), order-pinned χ² fold ----
    // ---- stats: G-test (Dunning's G^2 log-likelihood ratio) —
    //      cramersV's grid with 2*o*ln(o/e) terms ----
    // exact contingency/margin counts over the FULL r×c level grid
    // (structural zeros carry χ² mass); the closing folds the
    // per-cell doubles in sorted (a,b) order (the q157 fold idiom)
    // q272's full-grid machinery with the G term: 2*o*ln(o/e)
    // snapped to 1e-9, zeros exact 0, sorted-cell fold
    Gate("q405_g_test", (s, dir) =>
      graft.agg.Stats.gTest(
        t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate"))
            .cast("long")),
        Seq("o_year"), "o_orderpriority", "o_orderstatus"), Sql(
      """WITH b AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(o_orderpriority AS VARCHAR) AS a,
        |    CAST(o_orderstatus AS VARCHAR) AS bb FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |    AND o_orderdate IS NOT NULL),
        |cells AS (SELECT o_year, a, bb, CAST(count(*) AS BIGINT)
        |    AS o FROM b GROUP BY 1, 2, 3),
        |rm AS (SELECT o_year, a, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cm AS (SELECT o_year, bb, CAST(sum(o) AS BIGINT) AS rb
        |  FROM cells GROUP BY 1, 2),
        |tt AS (SELECT o_year, CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT bb) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT rm.o_year, rm.a, cm.bb, rm.ra, cm.rb,
        |    coalesce(cells.o, 0) AS o
        |  FROM rm JOIN cm USING (o_year)
        |    LEFT JOIN cells USING (o_year, a, bb)),
        |terms AS (SELECT grid.o_year, a, bb, n, r, c,
        |    CASE WHEN o > 0 THEN
        |      2.0 * CAST(o AS DOUBLE) * round(ln(CAST(o AS DOUBLE)
        |        / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |          / CAST(n AS DOUBLE))), 9)
        |    ELSE 0.0 END AS t
        |  FROM grid JOIN tt USING (o_year)),
        |f AS (SELECT o_year, max(n) AS n, max(r) AS r,
        |    max(c) AS c,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(t ORDER BY a, bb)), (x, y) -> x + y) AS g
        |  FROM terms GROUP BY 1)
        |SELECT o_year, n, r, c,
        |  CASE WHEN r > 1 AND c > 1 THEN g END AS g2
        |FROM f""".stripMargin)),

    // ---- sequential testing: Wald SPRT replay per type — exact
    //      decimal LLR walk, earliest boundary crossing ----
    // the LLR walk with the SAME round-9 literal constants the engine
    // pins driver-side: every LLR an exact decimal, boundary
    // comparisons float-free, earliest crossing / final-row fallback
    Gate("q316_sprt", (s, dir) =>
      graft.agg.Stats.sprt(
        t(s, dir, "events").withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "ts", "event_id", "y",
        p0 = 0.4, p1 = 0.6, alpha = 0.05, beta = 0.2), Sql {
      val c1 = l9(math.log(0.6 / 0.4))
      val c0 = l9(math.log(0.4 / 0.6))
      val up = l9(math.log(0.8 / 0.05))
      val lo = l9(math.log(0.2 / 0.95))
      s"""WITH b AS (SELECT event_type, ts, event_id,
         |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS y
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND value IS NOT NULL),
         |w AS (SELECT *, CAST(count(*) OVER win AS BIGINT) AS n,
         |    CAST(sum(y) OVER win AS BIGINT) AS s,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
         |      AS nt,
         |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS st
         |  FROM b WINDOW win AS (PARTITION BY event_type
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |l AS (SELECT *, s * CAST($c1 AS DECIMAL(12,9))
         |    + (n - s) * CAST($c0 AS DECIMAL(12,9)) AS llr FROM w),
         |d AS (SELECT *,
         |    CASE WHEN llr >= CAST($up AS DECIMAL(12,9)) THEN 'accept_h1'
         |         WHEN llr <= CAST($lo AS DECIMAL(12,9)) THEN 'accept_h0'
         |    END AS dcn FROM l),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY CASE WHEN dcn IS NOT NULL THEN 0 ELSE 1 END,
         |      CASE WHEN dcn IS NOT NULL THEN n ELSE -n END) AS rk
         |  FROM d)
         |SELECT event_type, nt AS n_total, st AS n_pos,
         |  dcn AS decision,
         |  CASE WHEN dcn IS NOT NULL THEN n END AS n_at_decision,
         |  CAST(llr AS DOUBLE) AS llr_at_decision
         |FROM r WHERE rk = 1""".stripMargin
    }),

    // ---- experimentation: McNemar paired test — per-subject max
    //      outcomes under two conditions, discordant-cell χ² ----
    // the engine's drawdown walk verbatim: cent-grid integers, one
    // cumulative-max window, pinned (peak−v)/peak, argmax on
    // (dd desc, ts, tie) — a total order
    // per-subject MAX outcome under each condition (subjects seen
    // under both only), exact integer discordant cells, pinned
    // (b-c)^2/(b+c) and Edwards-corrected closings
    Gate("q348_mcnemar", (s, dir) =>
      graft.agg.Stats.mcnemar(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L)))
          .withColumn("hit", col("value") >= 110.0),
        Seq("cohort"), "user_id", "event_type", "click", "view",
        "hit"), Sql(
      """WITH b AS (SELECT ((user_id % 4) + 4) % 4 AS k,
        |    user_id AS s, event_type AS cond, value >= 110 AS y
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |p AS (SELECT k, s,
        |    max(CASE WHEN cond = 'click' THEN y END) AS ya,
        |    max(CASE WHEN cond = 'view' THEN y END) AS yb
        |  FROM b GROUP BY 1, 2),
        |q AS (SELECT * FROM p WHERE ya IS NOT NULL
        |  AND yb IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN ya AND NOT yb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT ya AND yb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM q GROUP BY 1)
        |SELECT k AS cohort, n_pairs, b, c,
        |  CASE WHEN b + c > 0 THEN
        |    (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
        |      * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
        |      / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2,
        |  CASE WHEN b + c > 0 THEN
        |    (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2_cc
        |FROM g""".stripMargin)),

    // ---- drift: two-sample Anderson-Darling (Scholz-Stephens
    //      midrank, k = 2) — the tail-weighted drift panel member;
    //      doubled midranks, one exact-integer ratio per (row, arm) ----
    Gate("q409_anderson_darling", (s, dir) =>
      graft.agg.Stats.andersonDarling(
        t(s, dir, "events")
          // null user_id drops BEFORE arm derivation — the oracle
          // filters user_id IS NOT NULL, and otherwise("b") would
          // silently bucket nulls into arm b if the fixture ever
          // gained them (r18 advice)
          .filter(col("user_id").isNotNull)
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS l,
        |    coalesce(sum(ca + cb) OVER wp, 0) AS pn,
        |    coalesce(sum(ca) OVER wp, 0) AS pa,
        |    coalesce(sum(cb) OVER wp, 0) AS pb,
        |    sum(ca) OVER wk AS na, sum(cb) OVER wk AS nb
        |  FROM grid
        |  WINDOW wp AS (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wk AS (PARTITION BY k)),
        |r AS (SELECT k, v, na, nb, l, na + nb AS nn,
        |    2 * pn + l AS b2,
        |    2 * pa + ca AS m2a, 2 * pb + cb AS m2b
        |  FROM st),
        |t AS (SELECT k, v, na, nb,
        |    CAST(nn AS HUGEINT) * m2a - CAST(b2 AS HUGEINT) * na
        |      AS d1a,
        |    CAST(nn AS HUGEINT) * m2b - CAST(b2 AS HUGEINT) * nb
        |      AS d1b,
        |    CAST(b2 AS HUGEINT) * (2 * nn - b2)
        |      - CAST(nn AS HUGEINT) * l AS den,
        |    l, nn FROM r),
        |terms AS (SELECT k, v, na, nb,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1a * d1a AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS ta,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1b * d1b AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS tb
        |  FROM t),
        |f AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    count(*) AS grd,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ta ORDER BY v)), (x, y) -> x + y) AS sa,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(tb ORDER BY v)), (x, y) -> x + y) AS sb
        |  FROM terms GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND grd >= 2 THEN
        |    (sa / CAST(n_a AS DOUBLE) + sb / CAST(n_b AS DOUBLE))
        |    * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)
        |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) END AS a2
        |FROM f""".stripMargin)),

    // ---- drift: the WHOLE five-member panel (KS, CvM, AD, Kuiper,
    //      W1) in ONE scan — shared grid, one key exchange; each
    //      closing is the single operator's exact expression ----
    // Anderson-Darling replay: the q400-style doubled-midrank grid
    // windows, per-(row,arm) exact HUGEINT ratios (VARCHAR-routed to
    // double), ascending-v list_reduce left folds, pinned closing
    // Drift-panel replay: the five proven sub-oracles composed as
    // subqueries (each keeps its own WITH scope) joined on the key —
    // the panel must match ALL FIVE at once
    Gate("q412_drift_panel", (s, dir) =>
      graft.agg.Stats.driftPanel(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH ks AS (SELECT * FROM (WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
        |    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        |  FROM g),
        |m AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
        |    max(abs(cuma * nb - cumb * na)) AS d_num
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_a, n_b, d_num, n_a * n_b AS d_den,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) END AS d
        |FROM m)),
        |cvm AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |c3 AS (SELECT k, ca, cb,
        |    3 * ca * (2 * pn + t + 1 - 2 * pa)
        |      * (2 * pn + t + 1 - 2 * pa)
        |      - 6 * (2 * pn + t + 1 - 2 * pa) * ca * (ca + 1)
        |      + 2 * ca * (ca + 1) * (2 * ca + 1) AS sa,
        |    3 * cb * (2 * pn + t + 1 - 2 * pb)
        |      * (2 * pn + t + 1 - 2 * pb)
        |      - 6 * (2 * pn + t + 1 - 2 * pb) * cb * (cb + 1)
        |      + 2 * cb * (cb + 1) * (2 * cb + 1) AS sb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(sa) AS s12a, sum(sb) AS s12b FROM c3 GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nm,
        |    CAST(CAST(s12a AS VARCHAR) AS DOUBLE) AS da,
        |    CAST(CAST(s12b AS VARCHAR) AS DOUBLE) AS db FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (nd * da + md * db) / (12.0 * nd * md * nm)
        |      - (4.0 * nd * md - 1.0) / (6.0 * nm)
        |  END AS t
        |FROM z)),
        |ku AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb
        |  FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(greatest(max(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_plus_num,
        |    CAST(greatest(-min(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_minus_num
        |  FROM st GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b, v_plus_num, v_minus_num,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(v_plus_num + v_minus_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |  END AS v
        |FROM m)),
        |w1t AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb,
        |    coalesce(lead(v) OVER (PARTITION BY k ORDER BY v) - v, 0)
        |      AS dv
        |  FROM grid),
        |f AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(abs(cuma * nb - cumb * na) * dv) AS s
        |  FROM st GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 100.0
        |  END AS w1
        |FROM f)),
        |ad AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS l,
        |    coalesce(sum(ca + cb) OVER wp, 0) AS pn,
        |    coalesce(sum(ca) OVER wp, 0) AS pa,
        |    coalesce(sum(cb) OVER wp, 0) AS pb,
        |    sum(ca) OVER wk AS na, sum(cb) OVER wk AS nb
        |  FROM grid
        |  WINDOW wp AS (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wk AS (PARTITION BY k)),
        |r AS (SELECT k, v, na, nb, l, na + nb AS nn,
        |    2 * pn + l AS b2,
        |    2 * pa + ca AS m2a, 2 * pb + cb AS m2b
        |  FROM st),
        |t AS (SELECT k, v, na, nb,
        |    CAST(nn AS HUGEINT) * m2a - CAST(b2 AS HUGEINT) * na
        |      AS d1a,
        |    CAST(nn AS HUGEINT) * m2b - CAST(b2 AS HUGEINT) * nb
        |      AS d1b,
        |    CAST(b2 AS HUGEINT) * (2 * nn - b2)
        |      - CAST(nn AS HUGEINT) * l AS den,
        |    l, nn FROM r),
        |terms AS (SELECT k, v, na, nb,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1a * d1a AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS ta,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1b * d1b AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS tb
        |  FROM t),
        |f AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    count(*) AS grd,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ta ORDER BY v)), (x, y) -> x + y) AS sa,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(tb ORDER BY v)), (x, y) -> x + y) AS sb
        |  FROM terms GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND grd >= 2 THEN
        |    (sa / CAST(n_a AS DOUBLE) + sb / CAST(n_b AS DOUBLE))
        |    * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)
        |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) END AS a2
        |FROM f))
        |SELECT ad.event_type, ad.n_a, ad.n_b,
        |  ks.d AS ks_d, cvm.t AS cvm_t, ad.a2 AS ad_a2,
        |  ku.v AS kuiper_v, w1t.w1
        |FROM ad
        |JOIN ks USING (event_type) JOIN cvm USING (event_type)
        |JOIN ku USING (event_type) JOIN w1t USING (event_type)""".stripMargin)),

    // ---- A/B: the WHOLE rank-test location panel (MWU z, Cliff's
    //      delta, Brunner-Munzel W/df/p̂) in ONE scan — shared
    //      doubled-midrank grid, one key exchange ----
    // pooled + within-arm doubled midranks per grid row (shared by
    // all tied members), exact placement sums, pinned scipy-form
    // W / Satterthwaite df closing
    // Rank-panel replay: the q400 doubled-midrank grid/placement
    // CTE chain extended with q211's rank-sum/tie sums and closed
    // with all three proven closings (MWU z, Cliff delta, BM
    // p_hat/w/df) — the panel must match ALL THREE at once
    Gate("q413_rank_panel", (s, dir) =>
      graft.agg.Stats.rankPanel(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |r AS (SELECT k, ca, cb, t,
        |    2 * pn + t + 1 AS r2,
        |    2 * pn + t + 1 - (2 * pa + ca + 1) AS la,
        |    2 * pn + t + 1 - (2 * pb + cb + 1) AS lb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(CAST(ca * r2 AS DECIMAL(38,0))) AS sra,
        |    sum(CAST(cb * r2 AS DECIMAL(38,0))) AS srb,
        |    sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS tt,
        |    sum(ca * la) AS sla, sum(la * la * ca) AS sla2,
        |    sum(cb * lb) AS slb, sum(lb * lb * cb) AS slb2
        |  FROM r GROUP BY 1),
        |z0 AS (SELECT k, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn,
        |    CAST(sra AS DOUBLE) AS dra, CAST(srb AS DOUBLE) AS drb,
        |    CAST(tt AS DOUBLE) AS td,
        |    CAST(CAST(sla AS VARCHAR) AS DOUBLE) AS dla,
        |    CAST(CAST(sla2 AS VARCHAR) AS DOUBLE) AS dla2,
        |    CAST(CAST(slb AS VARCHAR) AS DOUBLE) AS dlb,
        |    CAST(CAST(slb2 AS VARCHAR) AS DOUBLE) AS dlb2 FROM m),
        |y AS (SELECT *, dra / 2.0 - na * (na + 1.0) / 2.0 AS ua,
        |    na * nb / 12.0 * ((nn + 1.0) - td / (nn * (nn - 1.0)))
        |      AS sig2,
        |    dra / na / 2.0 AS rba, drb / nb / 2.0 AS rbb,
        |    (dla2 - dla * dla / na) / (4.0 * (na - 1.0)) AS sa,
        |    (dlb2 - dlb * dlb / nb) / (4.0 * (nb - 1.0)) AS sb
        |  FROM z0),
        |w0 AS (SELECT *, na * sa + nb * sb AS vs FROM y)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN ua END AS u_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN na * nb - ua END AS u_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND sig2 > 0.0
        |    THEN (ua - na * nb / 2.0) / sqrt(sig2) END AS z,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN 2.0 * ua / (na * nb) - 1.0 END AS delta,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN (rbb - (nb + 1.0) / 2.0) / na END AS p_hat,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0
        |    THEN na * nb * (rbb - rba) / (nn * sqrt(vs)) END AS w,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0 AND
        |    (na * sa) * (na * sa) / (na - 1.0)
        |      + (nb * sb) * (nb * sb) / (nb - 1.0) > 0.0
        |  THEN vs * vs
        |    / ((na * sa) * (na * sa) / (na - 1.0)
        |      + (nb * sb) * (nb * sb) / (nb - 1.0)) END AS df
        |FROM w0""".stripMargin)),

    // ---- multiple testing: Holm-Bonferroni step-down FWER (the
    //      q213 BH fixture with the step-down running max) ----
    // the q213 BH fixture with the step-down running MAX of
    // (m - rank + 1) * p in ascending-p order, capped at 1
    Gate("q380_holm_bonferroni", (s, dir) => {
      val u = TA.md5i(concat(col("doc_id").cast("string"), lit("hb1")))
        .cast("double") / lit(4294967296.0)
      graft.agg.Stats.holmBonferroni(
        t(s, dir, "documents").select(col("doc_id"), col("lang"))
          .withColumn("p", u * u),
        Seq("lang"), "doc_id", "p", alpha = 0.3)
        .select("lang", "doc_id", "p", "rank", "p_adj", "significant")
    }, Sql(
      """WITH d AS (SELECT lang, doc_id,
        |    (('0x' || substr(md5(doc_id::VARCHAR || 'hb1'), 1, 8))::BIGINT
        |      / 4294967296.0) AS u
        |  FROM documents),
        |p0 AS (SELECT lang, doc_id, u * u AS p FROM d
        |  WHERE u IS NOT NULL),
        |r AS (SELECT lang, doc_id, p,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY p, doc_id) AS BIGINT) AS "rank",
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS m
        |  FROM p0),
        |a AS (SELECT lang, doc_id, p, "rank",
        |    least(1.0, max(CAST(m - "rank" + 1 AS DOUBLE) * p) OVER (
        |      PARTITION BY lang ORDER BY p ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS p_adj
        |  FROM r)
        |SELECT lang, doc_id, p, "rank", p_adj,
        |  p_adj <= 0.3 AS significant
        |FROM a""".stripMargin)),

    // ---- drift: two-sample Cramer-von Mises — tripled integer
    //      midrank polynomial on the pooled grid ----
    // pooled-grid doubled midranks, tripled integer contribution
    // polynomial per arm, VARCHAR-routed exact sums, pinned closing
    Gate("q384_cramer_von_mises", (s, dir) =>
      graft.agg.Stats.cramerVonMises(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |c3 AS (SELECT k, ca, cb,
        |    3 * ca * (2 * pn + t + 1 - 2 * pa)
        |      * (2 * pn + t + 1 - 2 * pa)
        |      - 6 * (2 * pn + t + 1 - 2 * pa) * ca * (ca + 1)
        |      + 2 * ca * (ca + 1) * (2 * ca + 1) AS sa,
        |    3 * cb * (2 * pn + t + 1 - 2 * pb)
        |      * (2 * pn + t + 1 - 2 * pb)
        |      - 6 * (2 * pn + t + 1 - 2 * pb) * cb * (cb + 1)
        |      + 2 * cb * (cb + 1) * (2 * cb + 1) AS sb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(sa) AS s12a, sum(sb) AS s12b FROM c3 GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nm,
        |    CAST(CAST(s12a AS VARCHAR) AS DOUBLE) AS da,
        |    CAST(CAST(s12b AS VARCHAR) AS DOUBLE) AS db FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (nd * da + md * db) / (12.0 * nd * md * nm)
        |      - (4.0 * nd * md - 1.0) / (6.0 * nm)
        |  END AS t
        |FROM z""".stripMargin)),

    // ---- drift: Kuiper V — both CDF gap directions on the exact
    //      cross-multiplied lattice ----
    // ksTest's lattice with BOTH signed gap extremes kept
    Gate("q385_kuiper", (s, dir) =>
      graft.agg.Stats.kuiper(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb
        |  FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(greatest(max(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_plus_num,
        |    CAST(greatest(-min(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_minus_num
        |  FROM st GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b, v_plus_num, v_minus_num,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(v_plus_num + v_minus_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |  END AS v
        |FROM m""".stripMargin)),

    // ---- survival: Gehan-Wilcoxon early-weighted two-group test —
    //      logRank's grid with n_t / n_t^2 weights in the fold ----
    // q364's grid and fold with the Gehan n_t / n_t^2 weights; E
    // accumulates at every event time (the r17 logRank rule), V
    // keeps the n <= 1 neutral zero
    Gate("q390_gehan_wilcoxon", (s, dir) =>
      graft.agg.Stats.gehanWilcoxon(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("observed", pmod(col("user_id"), lit(10L)) < 8L),
        Seq("event_type"), "grp", "value", "observed"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS g1,
        |    ((user_id % 10) + 10) % 10 < 8 AS ev,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, t,
        |    CAST(sum(CASE WHEN g1 AND ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN NOT g1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c0
        |  FROM b GROUP BY 1, 2),
        |grid AS (SELECT *, sum(c1) OVER (PARTITION BY k) AS T1,
        |    sum(c0) OVER (PARTITION BY k) AS T0,
        |    coalesce(sum(c1) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p1,
        |    coalesce(sum(c0) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p0
        |  FROM cells),
        |f AS (SELECT k, CAST(sum(d1) AS BIGINT) AS n_events_1,
        |    CAST(sum(d0) AS BIGINT) AS n_events_0,
        |    list_reduce(list_prepend([0.0, 0.0],
        |      list([CAST(d1 AS DOUBLE), CAST(d1 + d0 AS DOUBLE),
        |        CAST(T1 - p1 AS DOUBLE),
        |        CAST(T1 - p1 + T0 - p0 AS DOUBLE)] ORDER BY t)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN p[2] > 0.0
        |        THEN p[4] * (p[1] - p[3] / p[4] * p[2])
        |        ELSE 0.0 END,
        |      acc[2] + CASE WHEN p[4] > 1.0 AND p[2] > 0.0
        |        THEN p[4] * p[4] * (p[2] * (p[3] / p[4])
        |          * (1.0 - p[3] / p[4])
        |          * (p[4] - p[2]) / (p[4] - 1.0)) ELSE 0.0 END])
        |      AS m
        |  FROM grid GROUP BY 1)
        |SELECT k AS event_type, n_events_1, n_events_0,
        |  m[1] AS w_stat,
        |  CASE WHEN m[2] > 0.0 THEN m[1] * m[1] / m[2] END AS chi2
        |FROM f""".stripMargin)),

    // ---- stats: Quade test — range-weighted Friedman on the
    //      q349 fixture, quadrupled integer scores ----
    // q349's complete-block grid + range-ranked block weights,
    // quadrupled integer scores, VARCHAR-routed exact moments
    Gate("q395_quade", (s, dir) =>
      graft.agg.Stats.quade(
        t(s, dir, "events")
          .withColumn("blk", pmod(col("user_id"), lit(50L)))
          .withColumn("trt", pmod(col("event_id"), lit(3L))),
        Seq("event_type"), "blk", "trt", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 50) + 50) % 50 AS blk,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |cell AS (SELECT k, blk, trt, CAST(sum(c) AS BIGINT) AS vc
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, blk) AS bc FROM d),
        |comp AS (SELECT *, max(vc) OVER (PARTITION BY k, blk)
        |      - min(vc) OVER (PARTITION BY k, blk) AS rng
        |  FROM e WHERE bc = kk),
        |blocks AS (SELECT k, blk, max(rng) AS rng
        |  FROM comp GROUP BY 1, 2),
        |q2 AS (SELECT k, blk,
        |    2 * rank() OVER (PARTITION BY k ORDER BY rng)
        |      + count(*) OVER (PARTITION BY k, rng) - 1 AS q2r
        |  FROM blocks),
        |r AS (SELECT comp.k, comp.blk, comp.trt, comp.kk,
        |    2 * rank() OVER (PARTITION BY comp.k, comp.blk
        |      ORDER BY vc)
        |      + count(*) OVER (PARTITION BY comp.k, comp.blk, vc) - 1
        |      AS r2, q2.q2r
        |  FROM comp JOIN q2 ON q2.k = comp.k AND q2.blk = comp.blk),
        |s4 AS (SELECT k, trt, q2r * (r2 - (kk + 1)) AS s4 FROM r),
        |pt AS (SELECT k, trt, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(s4) AS BIGINT) AS w4, sum(s4 * s4) AS sq
        |  FROM s4 GROUP BY 1, 2),
        |g AS (SELECT k, max(n) AS nb, CAST(count(*) AS BIGINT) AS kt,
        |    sum(CAST(w4 AS HUGEINT) * CAST(w4 AS HUGEINT)) AS sw2,
        |    sum(sq) AS a16 FROM pt GROUP BY 1),
        |z AS (SELECT k, nb, kt, CAST(nb AS DOUBLE) AS nd,
        |    CAST(CAST(sw2 AS VARCHAR) AS DOUBLE) AS dsw,
        |    CAST(CAST(a16 AS VARCHAR) AS DOUBLE) AS da FROM g)
        |SELECT k AS event_type, nb AS n_blocks, kt AS k_treatments,
        |  CASE WHEN kt >= 2 AND da - dsw / nd > 0.0
        |    THEN (nd - 1.0) * (dsw / nd) / (da - dsw / nd) END AS f
        |FROM z""".stripMargin)),

    // ---- stats: Conover squared-ranks dispersion test — cross-
    //      scaled exact integer deviations, doubled rank scores ----
    // cross-scaled integer deviations (common n_a*n_b factor keeps
    // the pooled order), doubled midranks, exact squared-rank
    // moments, pinned z closing
    Gate("q396_conover_squared_ranks", (s, dir) =>
      graft.agg.Stats.conoverSquaredRanks(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT *,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END) OVER (PARTITION BY k)
        |      AS na,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END) OVER (PARTITION BY k)
        |      AS nb,
        |    sum(CASE WHEN a THEN v ELSE 0 END) OVER (PARTITION BY k)
        |      AS sa,
        |    sum(CASE WHEN a THEN 0 ELSE v END) OVER (PARTITION BY k)
        |      AS sb
        |  FROM b),
        |devs AS (SELECT k, a, na, nb,
        |    CASE WHEN a THEN abs(na * nb * v - nb * sa)
        |      ELSE abs(na * nb * v - na * sb) END AS dev
        |  FROM s),
        |r AS (SELECT *, 2 * rank() OVER (PARTITION BY k ORDER BY dev)
        |      + count(*) OVER (PARTITION BY k, dev) - 1 AS r2
        |  FROM devs),
        |sc AS (SELECT k, a, na, nb, r2 * r2 AS sq FROM r),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN sq END) AS t4,
        |    sum(sq) AS ss, sum(CAST(sq AS HUGEINT) * sq) AS sqq
        |  FROM sc GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS bigN,
        |    CAST(CAST(t4 AS VARCHAR) AS DOUBLE) AS dt4,
        |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) AS dss,
        |    CAST(CAST(sqq AS VARCHAR) AS DOUBLE) AS dsq FROM m)
        |SELECT k AS event_type, n_a, n_b, dt4 AS t4,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND
        |    nd * md * (bigN * dsq - dss * dss)
        |      / (bigN * bigN * (bigN - 1.0)) > 0.0
        |  THEN (dt4 - nd * dss / bigN)
        |    / sqrt(nd * md * (bigN * dsq - dss * dss)
        |      / (bigN * bigN * (bigN - 1.0))) END AS z
        |FROM z""".stripMargin)),

    // ---- stats: two-sample Poisson rate test — exact count and
    //      cent-exposure sums, Wald z + snapped log-ratio CI ----
    // exact count / cent-exposure cell sums, pinned rate chains,
    // snapped log-ratio
    Gate("q397_poisson_rate_test", (s, dir) =>
      graft.agg.Stats.poissonRateTest(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b")))
          .withColumn("ev", pmod(col("event_id"), lit(7L))),
        Seq("event_type"), "arm", "a", "b", "ev", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    ((event_id % 7) + 7) % 7 AS ev,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ec
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
        |    AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN ev ELSE 0 END) AS BIGINT)
        |      AS k1,
        |    CAST(sum(CASE WHEN arm = 'a' THEN ec ELSE 0 END) AS BIGINT)
        |      AS e1c,
        |    CAST(sum(CASE WHEN arm = 'b' THEN ev ELSE 0 END) AS BIGINT)
        |      AS k2,
        |    CAST(sum(CASE WHEN arm = 'b' THEN ec ELSE 0 END) AS BIGINT)
        |      AS e2c
        |  FROM b GROUP BY 1),
        |z AS (SELECT *, CAST(e1c AS DOUBLE) / 100.0 AS e1,
        |    CAST(e2c AS DOUBLE) / 100.0 AS e2 FROM m),
        |y AS (SELECT *, CAST(k1 AS DOUBLE) / e1 AS r1,
        |    CAST(k2 AS DOUBLE) / e2 AS r2 FROM z),
        |w AS (SELECT *,
        |    sqrt(CAST(k1 AS DOUBLE) / (e1 * e1)
        |      + CAST(k2 AS DOUBLE) / (e2 * e2)) AS se,
        |    round(ln(CASE WHEN k1 > 0 AND k2 > 0 AND e1c > 0
        |      AND e2c > 0 THEN r1 / r2 END), 9) AS lr,
        |    sqrt(1.0 / CAST(k1 AS DOUBLE) + 1.0 / CAST(k2 AS DOUBLE))
        |      AS sel
        |  FROM y)
        |SELECT k AS event_type, k1 AS k_1, e1 AS exposure_1,
        |  k2 AS k_2, e2 AS exposure_2,
        |  CASE WHEN e1c > 0 THEN r1 END AS rate_1,
        |  CASE WHEN e2c > 0 THEN r2 END AS rate_2,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND se > 0.0
        |    THEN (r1 - r2) / se END AS z,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND k1 > 0 AND k2 > 0
        |    THEN lr END AS log_ratio,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND k1 > 0 AND k2 > 0
        |    THEN lr - 1.96 * sel END AS log_lo,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND k1 > 0 AND k2 > 0
        |    THEN lr + 1.96 * sel END AS log_hi
        |FROM w""".stripMargin)),

    // ---- stats: Brunner-Munzel — heteroscedastic rank test via
    //      doubled placement sums on the pooled grid ----
    Gate("q400_brunner_munzel", (s, dir) =>
      graft.agg.Stats.brunnerMunzel(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |r AS (SELECT k, ca, cb,
        |    2 * pn + t + 1 AS r2,
        |    2 * pn + t + 1 - (2 * pa + ca + 1) AS la,
        |    2 * pn + t + 1 - (2 * pb + cb + 1) AS lb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(ca * r2) AS sra, sum(cb * r2) AS srb,
        |    sum(ca * la) AS sla, sum(la * la * ca) AS sla2,
        |    sum(cb * lb) AS slb, sum(lb * lb * cb) AS slb2
        |  FROM r GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS bigN,
        |    CAST(CAST(sra AS VARCHAR) AS DOUBLE) AS dra,
        |    CAST(CAST(srb AS VARCHAR) AS DOUBLE) AS drb,
        |    CAST(CAST(sla AS VARCHAR) AS DOUBLE) AS dla,
        |    CAST(CAST(sla2 AS VARCHAR) AS DOUBLE) AS dla2,
        |    CAST(CAST(slb AS VARCHAR) AS DOUBLE) AS dlb,
        |    CAST(CAST(slb2 AS VARCHAR) AS DOUBLE) AS dlb2 FROM m),
        |y AS (SELECT *, dra / nd / 2.0 AS rba, drb / md / 2.0 AS rbb,
        |    (dla2 - dla * dla / nd) / (4.0 * (nd - 1.0)) AS sa,
        |    (dlb2 - dlb * dlb / md) / (4.0 * (md - 1.0)) AS sb
        |  FROM z),
        |w AS (SELECT *, nd * sa + md * sb AS vs FROM y)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN (rbb - (md + 1.0) / 2.0) / nd END AS p_hat,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0
        |    THEN nd * md * (rbb - rba) / (bigN * sqrt(vs)) END AS w,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0 AND
        |    (nd * sa) * (nd * sa) / (nd - 1.0)
        |      + (md * sb) * (md * sb) / (md - 1.0) > 0.0
        |  THEN vs * vs
        |    / ((nd * sa) * (nd * sa) / (nd - 1.0)
        |      + (md * sb) * (md * sb) / (md - 1.0)) END AS df
        |FROM w""".stripMargin)),

    // ---- stats: Fisher's exact test — mode-anchored ratio
    //      recurrence, no factorials, exact-tail p hash-matched ----
    // the engine's mode-anchored pmf recurrence replayed as two
    // recursive walks (up and down from the closed-form mode), the
    // SAME pinned f*(int*int)/(int*int) chains, tail sums folded in
    // k order with the 1+1e-7 two-sided tolerance
    Gate("q373_fisher_exact", (s, dir) =>
      graft.agg.Stats.fisherExact(
        t(s, dir, "events")
          .withColumn("exposed", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("outcome", col("value") >= 150.0),
        Seq("event_type"), "exposed", "outcome"), Sql(
      """WITH RECURSIVE b0 AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS ex, value >= 150 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k,
        |    CAST(sum(CASE WHEN ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b0 GROUP BY 1),
        |m0 AS (SELECT *, a + b2 AS r1, a + c AS c1,
        |    a + b2 + c + d AS n FROM cells),
        |m2 AS (SELECT *, greatest(0, r1 + c1 - n) AS kmin,
        |    least(r1, c1) AS kmax,
        |    least(greatest((r1 + 1) * (c1 + 1) // (n + 2),
        |      greatest(0, r1 + c1 - n)), least(r1, c1)) AS kstar
        |  FROM m0),
        |up AS (SELECT k, kstar AS kk, CAST(1.0 AS DOUBLE) AS f,
        |    r1, c1, n, kmax FROM m2
        |  UNION ALL SELECT k, kk + 1,
        |    f * CAST((r1 - kk) * (c1 - kk) AS DOUBLE)
        |      / CAST((kk + 1) * (n - r1 - c1 + kk + 1) AS DOUBLE),
        |    r1, c1, n, kmax
        |  FROM up WHERE kk < kmax),
        |dn AS (SELECT k, kstar AS kk, CAST(1.0 AS DOUBLE) AS f,
        |    r1, c1, n, kmin, kstar FROM m2
        |  UNION ALL SELECT k, kk - 1,
        |    f * CAST(kk * (n - r1 - c1 + kk) AS DOUBLE)
        |      / CAST((r1 - kk + 1) * (c1 - kk + 1) AS DOUBLE),
        |    r1, c1, n, kmin, kstar
        |  FROM dn WHERE kk > kmin),
        |pmf AS (SELECT k, kk, f FROM up
        |  UNION ALL SELECT k, kk, f FROM dn WHERE kk < kstar),
        |g AS (SELECT p.k, m2.a,
        |    max(CASE WHEN p.kk = m2.a THEN p.f END) AS fobs,
        |    list([p.f, CAST(p.kk AS DOUBLE)] ORDER BY p.kk) AS lst
        |  FROM pmf p JOIN m2 ON m2.k = p.k GROUP BY 1, 2),
        |g2 AS (SELECT k, a,
        |    list_reduce(list_prepend([0.0], lst),
        |      (acc, q) -> [acc[1] + q[1]])[1] AS total,
        |    list_reduce(list_prepend([0.0], lst),
        |      (acc, q) -> [acc[1] + CASE WHEN q[1]
        |        <= fobs * (1.0 + 1e-7) THEN q[1]
        |        ELSE 0.0 END])[1] AS p2,
        |    list_reduce(list_prepend([0.0], lst),
        |      (acc, q) -> [acc[1] + CASE WHEN q[2]
        |        >= CAST(a AS DOUBLE) THEN q[1]
        |        ELSE 0.0 END])[1] AS pg
        |  FROM g)
        |SELECT m2.k AS event_type, m2.n, m2.a, m2.b2 AS b, m2.c,
        |  m2.d, g2.p2 / g2.total AS p_two_sided,
        |  g2.pg / g2.total AS p_greater
        |FROM m2 JOIN g2 ON g2.k = m2.k""".stripMargin)),

    // ---- experimentation: Jonckheere-Terpstra ordered trend —
    //      exact merge-count JT, untied-variance z ----
    // pairwise cross-group comparisons over small per-day groups
    // (2 per strict win, 1 per tie == the engine's doubled
    // merge-count), untied-variance moments, pinned z
    Gate("q370_jonckheere", (s, dir) =>
      graft.agg.Stats.jonckheereTerpstra(
        t(s, dir, "events")
          .withColumn("day", date_trunc("day", col("ts")))
          .withColumn("dose", pmod(col("user_id"), lit(3L))),
        Seq("event_type", "day"), "dose", "value"), Sql(
      """WITH b AS (SELECT event_type AS et,
        |    date_trunc('day', ts) AS day,
        |    ((user_id % 3) + 3) % 3 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |grp AS (SELECT et, day, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT g) AS BIGINT) AS kg
        |  FROM b GROUP BY 1, 2),
        |sz AS (SELECT et, day, g, CAST(count(*) AS BIGINT) AS ng
        |  FROM b GROUP BY 1, 2, 3),
        |mo AS (SELECT et, day, CAST(sum(ng * ng) AS BIGINT) AS ss,
        |    CAST(sum(ng * ng * (2 * ng + 3)) AS BIGINT) AS sv
        |  FROM sz GROUP BY 1, 2),
        |ps AS (SELECT t1.et, t1.day,
        |    CAST(sum(CASE WHEN t2.v > t1.v THEN 2
        |      WHEN t2.v = t1.v THEN 1 ELSE 0 END) AS BIGINT) AS jt2
        |  FROM b t1 JOIN b t2 ON t2.et = t1.et AND t2.day = t1.day
        |    AND t1.g < t2.g
        |  GROUP BY 1, 2),
        |j AS (SELECT g.et, g.day, g.n, g.kg,
        |    coalesce(ps.jt2, 0) AS jt2, g.n * g.n - mo.ss AS e4,
        |    g.n * g.n * (2 * g.n + 3) - mo.sv AS var_num
        |  FROM grp g JOIN mo ON mo.et = g.et AND mo.day = g.day
        |    LEFT JOIN ps ON ps.et = g.et AND ps.day = g.day),
        |x AS (SELECT *, CAST(var_num AS DOUBLE) / 72.0 AS vs FROM j)
        |SELECT et AS event_type, day, n, kg AS k_groups,
        |  CAST(jt2 AS DOUBLE) / 2.0 AS jt,
        |  CASE WHEN kg >= 2 AND vs > 0.0
        |    THEN CAST(2 * jt2 - e4 AS DOUBLE) / 4.0 / sqrt(vs)
        |    END AS z
        |FROM x""".stripMargin)),

    // ---- stats: Cochran-Mantel-Haenszel — stratified 2x2 cells,
    //      stratum-order E/V/OR fold, pooled odds ratio ----
    // exact integer stratum cells, stratum-order fold of the
    // hypergeometric E/V and the MH ad/n, bc/n terms with neutral
    // zeros for n < 2 strata, pinned chi2 and pooled-OR closings
    Gate("q368_cmh", (s, dir) =>
      graft.agg.Stats.cmhTest(
        t(s, dir, "events")
          .withColumn("stratum", pmod(col("user_id"), lit(5L)))
          .withColumn("exposed", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("outcome", col("value") >= 110.0),
        Seq("event_type"), "stratum", "exposed", "outcome"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 5) + 5) % 5 AS st,
        |    ((user_id % 2) + 2) % 2 = 0 AS ex, value >= 110 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, st,
        |    CAST(sum(CASE WHEN ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(a AS DOUBLE), CAST(b2 AS DOUBLE),
        |        CAST(c AS DOUBLE), CAST(d AS DOUBLE)] ORDER BY st)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN p[1] ELSE 0.0 END,
        |      acc[2] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN (p[1] + p[2]) * (p[1] + p[3])
        |          / (p[1] + p[2] + p[3] + p[4]) ELSE 0.0 END,
        |      acc[3] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN (p[1] + p[2]) * (p[3] + p[4]) * (p[1] + p[3])
        |          * (p[2] + p[4])
        |          / ((p[1] + p[2] + p[3] + p[4])
        |            * (p[1] + p[2] + p[3] + p[4])
        |            * (p[1] + p[2] + p[3] + p[4] - 1.0))
        |        ELSE 0.0 END,
        |      acc[4] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN p[1] * p[4] / (p[1] + p[2] + p[3] + p[4])
        |        ELSE 0.0 END,
        |      acc[5] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN p[2] * p[3] / (p[1] + p[2] + p[3] + p[4])
        |        ELSE 0.0 END,
        |      acc[6] + 1.0]) AS m
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[6] AS BIGINT) AS n_strata,
        |  CAST(m[1] AS BIGINT) AS sum_a, m[2] AS expected_a,
        |  m[3] AS variance,
        |  CASE WHEN m[3] > 0.0 THEN (m[1] - m[2]) * (m[1] - m[2])
        |    / m[3] END AS cmh_chi2,
        |  CASE WHEN m[5] > 0.0 THEN m[4] / m[5] END AS or_mh
        |FROM f""".stripMargin)),

    // ---- experimentation: Page's ordered trend test — friedman's
    //      grid, j-weighted doubled rank sums, pinned z ----
    // friedman's grid verbatim plus the treatment-order weights:
    // L2 = Sum(j * R2_j) exact, pinned doubled moments
    // E2 = nk(k+1)^2/2, Var2 = nk^2(k+1)^2(k-1)/36
    Gate("q369_page_trend", (s, dir) =>
      graft.agg.Stats.pageTrend(
        t(s, dir, "events")
          .withColumn("blk", pmod(col("user_id"), lit(50L)))
          .withColumn("variant", pmod(col("event_id"), lit(3L))),
        Seq("event_type"), "blk", "variant", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 50) + 50) % 50 AS blk,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |cell AS (SELECT k, blk, trt, CAST(sum(c) AS BIGINT) AS vc
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, blk) AS bc FROM d),
        |r AS (SELECT k, blk, trt, dr,
        |    2 * rank() OVER (PARTITION BY k, blk ORDER BY vc)
        |      + count(*) OVER (PARTITION BY k, blk, vc) - 1 AS r2
        |  FROM e WHERE bc = kk),
        |tc AS (SELECT k, trt, CAST(max(dr) AS BIGINT) AS j,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2) AS BIGINT) AS R2
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT k, max(n) AS nb, CAST(count(*) AS BIGINT) AS kt,
        |    CAST(sum(j * R2) AS DOUBLE) AS l2 FROM tc GROUP BY 1),
        |x AS (SELECT *, CAST(nb AS DOUBLE) AS nd,
        |    CAST(kt AS DOUBLE) AS kd, CAST(kt AS DOUBLE) + 1.0 AS kp1
        |  FROM g),
        |y AS (SELECT *, nd * kd * kp1 * kp1 / 2.0 AS e2,
        |    nd * kd * kd * kp1 * kp1 * (kd - 1.0) / 36.0 AS v2
        |  FROM x)
        |SELECT k AS event_type, nb AS n_blocks, kt AS k_treatments,
        |  l2 / 2.0 AS l_stat,
        |  CASE WHEN kt >= 2 AND nb > 0 AND v2 > 0.0
        |    THEN (l2 - e2) / sqrt(v2) END AS z
        |FROM y""".stripMargin)),

    // ---- time-series: Ljung-Box whiteness test — one lag-window
    //      pass, exact per-lag moments, static-lag Q chain ----
    // one lead-window pass for all three lags, exact integer per-lag
    // products and head/tail sums, pinned C_k/C_0 chains, static Q
    // accumulation in lag order
    Gate("q365_ljung_box", (s, dir) =>
      graft.agg.Stats.ljungBox(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", maxLag = 3), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *,
        |    lead(c, 1) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS l1,
        |    lead(c, 2) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS l2,
        |    lead(c, 3) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS l3
        |  FROM b),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS DOUBLE) AS s,
        |    CAST(sum(c * c) AS DOUBLE) AS q,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN c * l1 END)
        |      AS DOUBLE) AS a1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN c END)
        |      AS DOUBLE) AS h1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN l1 END)
        |      AS DOUBLE) AS t1,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN c * l2 END)
        |      AS DOUBLE) AS a2,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN c END)
        |      AS DOUBLE) AS h2,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN l2 END)
        |      AS DOUBLE) AS t2,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN c * l3 END)
        |      AS DOUBLE) AS a3,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN c END)
        |      AS DOUBLE) AS h3,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN l3 END)
        |      AS DOUBLE) AS t3
        |  FROM w GROUP BY 1),
        |x AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    s / CAST(n AS DOUBLE) AS mn,
        |    q - s * s / CAST(n AS DOUBLE) AS c0 FROM g),
        |y AS (SELECT *,
        |    a1 - mn * (h1 + t1) + (nd - 1.0) * mn * mn AS k1,
        |    a2 - mn * (h2 + t2) + (nd - 2.0) * mn * mn AS k2,
        |    a3 - mn * (h3 + t3) + (nd - 3.0) * mn * mn AS k3
        |  FROM x)
        |SELECT k AS event_type, n,
        |  CASE WHEN n > 3 AND c0 > 0.0 THEN nd * (nd + 2.0)
        |    * (0.0 + (k1 / c0) * (k1 / c0) / (nd - 1.0)
        |       + (k2 / c0) * (k2 / c0) / (nd - 2.0)
        |       + (k3 / c0) * (k3 / c0) / (nd - 3.0)) END AS lb_q
        |FROM y""".stripMargin)),

    // ---- time-series: Mann-Kendall trend test — exact mergesort
    //      S, tie-corrected variance, continuity-corrected z ----
    // pairwise sign sum over the time order (small per-day groups
    // make the O(n^2) oracle cheap; the engine's mergesort S is the
    // same exact integer), tie-corrected variance, continuity z
    Gate("q366_mann_kendall", (s, dir) =>
      graft.agg.Stats.mannKendall(
        t(s, dir, "events")
          .withColumn("day", date_trunc("day", col("ts"))),
        Seq("event_type", "day"), "ts", "event_id", "value"), Sql(
      """WITH b AS (SELECT event_type AS et,
        |    date_trunc('day', ts) AS day, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |grp AS (SELECT et, day, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |ps AS (SELECT t1.et, t1.day,
        |    CAST(sum(CASE WHEN t2.v > t1.v THEN 1
        |      WHEN t2.v < t1.v THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM b t1 JOIN b t2 ON t2.et = t1.et AND t2.day = t1.day
        |    AND (t1.ts < t2.ts
        |      OR (t1.ts = t2.ts AND t1.event_id < t2.event_id))
        |  GROUP BY 1, 2),
        |tg AS (SELECT et, day,
        |    CAST(sum(cnt * (cnt - 1) * (2 * cnt + 5)) AS BIGINT)
        |      AS cubic
        |  FROM (SELECT et, day, v, CAST(count(*) AS BIGINT) AS cnt
        |    FROM b GROUP BY 1, 2, 3) GROUP BY 1, 2),
        |j AS (SELECT g.et, g.day, g.n, coalesce(ps.s, 0) AS s,
        |    g.n * (g.n - 1) * (2 * g.n + 5) - coalesce(tg.cubic, 0)
        |      AS var_num
        |  FROM grp g LEFT JOIN ps ON ps.et = g.et AND ps.day = g.day
        |    LEFT JOIN tg ON tg.et = g.et AND tg.day = g.day),
        |x AS (SELECT *, CAST(var_num AS DOUBLE) / 18.0 AS vs FROM j)
        |SELECT et AS event_type, day, n, CAST(s AS BIGINT) AS s,
        |  CAST(var_num AS BIGINT) AS var_num,
        |  CASE WHEN vs > 0.0 THEN
        |    CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(vs)
        |      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(vs)
        |      ELSE 0.0 END END AS z
        |FROM x""".stripMargin)),

    // ---- time-series: lag-1 Granger F — restricted vs unrestricted
    //      one-step forecast, exact 2-regressor moments ----
    // lagged pairs on one key exchange, exact decimal 2-regressor
    // moments, pinned restricted/unrestricted SSR chains, pinned F
    Gate("q367_granger", (s, dir) =>
      graft.agg.Stats.grangerF(
        t(s, dir, "events")
          .withColumn("uh", pmod(col("user_id"), lit(97L))
            .cast("double")),
        Seq("event_type"), "ts", "event_id", "value", "uh"), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS y,
        |    CAST(((user_id % 97) + 97) % 97 AS DECIMAL(18,2)) AS x
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *,
        |    lag(y) OVER (PARTITION BY k ORDER BY ts, event_id) AS y1,
        |    lag(x) OVER (PARTITION BY k ORDER BY ts, event_id) AS x1
        |  FROM b),
        |r AS (SELECT * FROM w WHERE y1 IS NOT NULL
        |  AND x1 IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(y1) AS DOUBLE) AS sy1,
        |    CAST(sum(x1) AS DOUBLE) AS sx1,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(y1 * y1) AS DOUBLE) AS s11,
        |    CAST(sum(x1 * x1) AS DOUBLE) AS s22,
        |    CAST(sum(y * y1) AS DOUBLE) AS sy1y,
        |    CAST(sum(y * x1) AS DOUBLE) AS sx1y,
        |    CAST(sum(y1 * x1) AS DOUBLE) AS s12
        |  FROM r GROUP BY 1),
        |c AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    syy - sy * sy / CAST(n AS DOUBLE) AS cyy,
        |    s11 - sy1 * sy1 / CAST(n AS DOUBLE) AS c11,
        |    s22 - sx1 * sx1 / CAST(n AS DOUBLE) AS c22,
        |    sy1y - sy * sy1 / CAST(n AS DOUBLE) AS cy1,
        |    sx1y - sy * sx1 / CAST(n AS DOUBLE) AS cx1,
        |    s12 - sy1 * sx1 / CAST(n AS DOUBLE) AS c12 FROM g),
        |d AS (SELECT *, c11 * c22 - c12 * c12 AS det,
        |    cyy - cy1 * cy1 / (CASE WHEN c11 > 0.0 THEN c11 END)
        |      AS ssr_r FROM c),
        |e AS (SELECT *, cyy - (c22 * cy1 * cy1
        |      - 2.0 * c12 * cy1 * cx1 + c11 * cx1 * cx1)
        |    / (CASE WHEN det > 0.0 THEN det END) AS ssr_u,
        |    n >= 4 AND c11 > 0.0 AND det > 0.0 AS ok FROM d)
        |SELECT k AS event_type, n,
        |  CASE WHEN ok THEN ssr_r END AS ssr_restricted,
        |  CASE WHEN ok THEN ssr_u END AS ssr_unrestricted,
        |  CASE WHEN ok AND ssr_u > 0.0 THEN (ssr_r - ssr_u)
        |    / (ssr_u / (nd - 3.0)) END AS f_granger
        |FROM e""".stripMargin)),

    // ---- experimentation: Wilcoxon signed-rank — paired continuous
    //      test on doubled |d| ranks, exact tie term ----
    // per-subject exact grid sums under the two conditions, zero
    // diffs drop, doubled |d| ranks 2*rank_min + t - 1, exact tie
    // term Sum(t^3 - t), pinned doubled-moment normal closing
    Gate("q363_wilcoxon", (s, dir) =>
      graft.agg.Stats.wilcoxonSignedRank(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L))),
        Seq("cohort"), "user_id", "event_type", "click", "view",
        "value"), Sql(
      """WITH b AS (SELECT ((user_id % 4) + 4) % 4 AS k, user_id AS s,
        |    event_type AS cond,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |p AS (SELECT k, s,
        |    sum(CASE WHEN cond = 'click' THEN c END) AS a,
        |    sum(CASE WHEN cond = 'view' THEN c END) AS b2
        |  FROM b GROUP BY 1, 2),
        |q AS (SELECT k, s, CAST(a - b2 AS BIGINT) AS d,
        |    abs(CAST(a - b2 AS BIGINT)) AS ad
        |  FROM p WHERE a IS NOT NULL AND b2 IS NOT NULL
        |    AND a - b2 <> 0),
        |r AS (SELECT *, 2 * rank() OVER (PARTITION BY k ORDER BY ad)
        |      + count(*) OVER (PARTITION BY k, ad) - 1 AS r2,
        |    count(*) OVER (PARTITION BY k, ad) AS t,
        |    row_number() OVER (PARTITION BY k, ad ORDER BY s) AS rn
        |  FROM q),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w2,
        |    CAST(sum(CASE WHEN rn = 1 THEN t * t * t - t ELSE 0 END)
        |      AS BIGINT) AS tt
        |  FROM r GROUP BY 1),
        |x AS (SELECT *, CAST(n_pairs AS DOUBLE) AS nd2 FROM g),
        |y AS (SELECT *, nd2 * (nd2 + 1.0) / 2.0 AS e2,
        |    nd2 * (nd2 + 1.0) * (2.0 * nd2 + 1.0) / 6.0
        |      - CAST(tt AS DOUBLE) / 12.0 AS v2 FROM x)
        |SELECT k AS cohort, n_pairs,
        |  CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
        |  CASE WHEN n_pairs >= 1 AND v2 > 0.0
        |    THEN (CAST(w2 AS DOUBLE) - e2) / sqrt(v2) END AS z
        |FROM y""".stripMargin)),

    // ---- survival: log-rank two-group test — exact at-risk grid,
    //      time-order O/E/V fold, pinned chi2 ----
    // exact integer per-time cells, at-risk = total - prefix window
    // sums on the time grid, time-order O/E/V fold with neutral
    // degenerate terms, pinned (O-E)^2/V closing
    Gate("q364_log_rank", (s, dir) =>
      graft.agg.Stats.logRank(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("observed", pmod(col("user_id"), lit(10L)) < 8L),
        Seq("event_type"), "grp", "value", "observed"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS g1,
        |    ((user_id % 10) + 10) % 10 < 8 AS ev,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, t,
        |    CAST(sum(CASE WHEN g1 AND ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN NOT g1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c0
        |  FROM b GROUP BY 1, 2),
        |grid AS (SELECT *, sum(c1) OVER (PARTITION BY k) AS T1,
        |    sum(c0) OVER (PARTITION BY k) AS T0,
        |    coalesce(sum(c1) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p1,
        |    coalesce(sum(c0) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p0
        |  FROM cells),
        |f AS (SELECT k, CAST(sum(d1) AS BIGINT) AS n_events_1,
        |    CAST(sum(d0) AS BIGINT) AS n_events_0,
        |    list_reduce(list_prepend([0.0, 0.0],
        |      list([CAST(d1 AS DOUBLE), CAST(d1 + d0 AS DOUBLE),
        |        CAST(T1 - p1 AS DOUBLE),
        |        CAST(T1 - p1 + T0 - p0 AS DOUBLE)] ORDER BY t)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN p[2] > 0.0
        |        THEN p[3] / p[4] * p[2] ELSE 0.0 END,
        |      acc[2] + CASE WHEN p[4] > 1.0 AND p[2] > 0.0
        |        THEN p[2] * (p[3] / p[4]) * (1.0 - p[3] / p[4])
        |          * (p[4] - p[2]) / (p[4] - 1.0) ELSE 0.0 END])
        |      AS m
        |  FROM grid GROUP BY 1)
        |SELECT k AS event_type, n_events_1, n_events_0,
        |  m[1] AS expected_1,
        |  CASE WHEN m[2] > 0.0
        |    THEN (CAST(n_events_1 AS DOUBLE) - m[1])
        |      * (CAST(n_events_1 AS DOUBLE) - m[1]) / m[2]
        |    END AS chi2
        |FROM f""".stripMargin)),

    // ---- stats: Bartlett's variance-homogeneity test — exact cell
    //      moments, group-order ln fold, pinned M/C closing ----
    // exact integer cell moments, group-order fold of the scatter /
    // (n-1)ln(s^2) / 1/(n-1) terms with null-guarded denominators,
    // pinned M/C closing (scale cancels between the M terms)
    Gate("q361_bartlett", (s, dir) =>
      graft.agg.Stats.bartlett(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s, sum(c * c) AS q
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(n AS DOUBLE), CAST(s AS DOUBLE),
        |        CAST(q AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [
        |      acc[1] + (p[3] - p[2] * p[2] / p[1]),
        |      acc[2] + (CASE WHEN p[1] > 1.0
        |          AND p[3] - p[2] * p[2] / p[1] > 0.0
        |          THEN p[1] - 1.0 ELSE 1.0 END)
        |        * ln(CASE WHEN p[1] > 1.0
        |            AND p[3] - p[2] * p[2] / p[1] > 0.0
        |          THEN (p[3] - p[2] * p[2] / p[1])
        |            / (CASE WHEN p[1] > 1.0
        |                AND p[3] - p[2] * p[2] / p[1] > 0.0
        |              THEN p[1] - 1.0 ELSE 1.0 END)
        |          ELSE 1.0 END),
        |      acc[3] + 1.0 / (CASE WHEN p[1] > 1.0
        |          AND p[3] - p[2] * p[2] / p[1] > 0.0
        |        THEN p[1] - 1.0 ELSE 1.0 END),
        |      acc[4] + p[1], acc[5] + 1.0]) AS m,
        |    CAST(sum(CASE WHEN n < 2 OR CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |          / CAST(n AS DOUBLE) <= 0.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[5] AS BIGINT) AS k_groups,
        |  CAST(m[4] AS BIGINT) AS n,
        |  CASE WHEN m[5] >= 2.0 AND bad = 0 THEN
        |    ((m[4] - m[5]) * ln(CASE WHEN m[1]
        |        / (CASE WHEN m[4] - m[5] > 0.0
        |            THEN m[4] - m[5] END) > 0.0
        |      THEN m[1] / (CASE WHEN m[4] - m[5] > 0.0
        |          THEN m[4] - m[5] END) END) - m[2])
        |    / (1.0 + (m[3] - 1.0 / (CASE WHEN m[4] - m[5] > 0.0
        |          THEN m[4] - m[5] END))
        |      / (3.0 * (CASE WHEN m[5] > 1.0
        |          THEN m[5] - 1.0 END)))
        |  END AS bartlett_chi2
        |FROM f""".stripMargin)),

    // ---- stats: Grubbs max-deviation outlier — exact n-scaled
    //      integer argmax, pinned G closing ----
    // exact n-scaled integer deviations |n*x - S| (no double mean in
    // the argmax), larger value wins ties, pinned (maxdev/n)/sqrt(s2)
    Gate("q362_grubbs", (s, dir) =>
      graft.agg.Stats.grubbs(
        t(s, dir, "events"), Seq("event_type"), "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |    sum(vc) OVER (PARTITION BY k) AS s,
        |    sum(vc * vc) OVER (PARTITION BY k) AS q FROM b),
        |d AS (SELECT *, abs(n * vc - s) AS dev FROM w),
        |e AS (SELECT *, max(dev) OVER (PARTITION BY k) AS mx FROM d),
        |g AS (SELECT k, CAST(max(n) AS BIGINT) AS n,
        |    CAST(max(s) AS DOUBLE) AS sv, CAST(max(q) AS DOUBLE) AS qv,
        |    CAST(max(mx) AS DOUBLE) AS mxv,
        |    CAST(max(CASE WHEN dev = mx THEN vc END) AS BIGINT) AS outv
        |  FROM e GROUP BY 1),
        |x AS (SELECT *, CAST(n AS DOUBLE) AS ndb FROM g),
        |v AS (SELECT *, (qv - sv * sv / ndb)
        |    / (CASE WHEN ndb > 1.0 THEN ndb - 1.0 END) AS s2 FROM x)
        |SELECT k AS event_type, n,
        |  CAST(outv AS DOUBLE) / 100.0 AS outlier_value,
        |  CASE WHEN n >= 3 AND s2 > 0.0 THEN mxv / ndb
        |    / (CASE WHEN s2 > 0.0 THEN sqrt(s2) END) END AS g_stat
        |FROM v""".stripMargin)),

    // ---- stats: Chow structural-break test — per-segment exact
    //      conditional moments, pooled by decimal addition ----
    // per-segment exact decimal conditional moments in one pass,
    // pooled moments by decimal ADDITION of segment sums, pinned
    // SSR = Syy_c - Sxy_c^2/Sxx_c per fit, pinned F closing
    Gate("q357_chow_test", (s, dir) =>
      graft.agg.Stats.chowTest(
        t(s, dir, "events")
          .withColumn("seg", dayofmonth(col("ts")) >= 16)
          .withColumn("x", dayofmonth(col("ts")).cast("double")),
        Seq("event_type"), "seg", "x", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    date_part('day', ts) >= 16 AS seg,
        |    CAST(date_part('day', ts) AS DECIMAL(18,2)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k,
        |    CAST(sum(CASE WHEN NOT seg THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN seg THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    sum(CASE WHEN NOT seg THEN x END) AS sx0,
        |    sum(CASE WHEN seg THEN x END) AS sx1,
        |    sum(CASE WHEN NOT seg THEN y END) AS sy0,
        |    sum(CASE WHEN seg THEN y END) AS sy1,
        |    sum(CASE WHEN NOT seg THEN x * x END) AS sxx0,
        |    sum(CASE WHEN seg THEN x * x END) AS sxx1,
        |    sum(CASE WHEN NOT seg THEN x * y END) AS sxy0,
        |    sum(CASE WHEN seg THEN x * y END) AS sxy1,
        |    sum(CASE WHEN NOT seg THEN y * y END) AS syy0,
        |    sum(CASE WHEN seg THEN y * y END) AS syy1
        |  FROM b GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
        |      * CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS cxx0,
        |    CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
        |      * CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS cxy0,
        |    CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE)
        |      * CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS cyy0,
        |    CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
        |      * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS cxx1,
        |    CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
        |      * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS cxy1,
        |    CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
        |      * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS cyy1,
        |    CAST(sxx0 + sxx1 AS DOUBLE) - CAST(sx0 + sx1 AS DOUBLE)
        |      * CAST(sx0 + sx1 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) AS cxxp,
        |    CAST(sxy0 + sxy1 AS DOUBLE) - CAST(sx0 + sx1 AS DOUBLE)
        |      * CAST(sy0 + sy1 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) AS cxyp,
        |    CAST(syy0 + syy1 AS DOUBLE) - CAST(sy0 + sy1 AS DOUBLE)
        |      * CAST(sy0 + sy1 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) AS cyyp
        |  FROM g),
        |r AS (SELECT *,
        |    cyy0 - cxy0 * cxy0
        |      / (CASE WHEN cxx0 > 0.0 THEN cxx0 END) AS ssr0,
        |    cyy1 - cxy1 * cxy1
        |      / (CASE WHEN cxx1 > 0.0 THEN cxx1 END) AS ssr1,
        |    cyyp - cxyp * cxyp
        |      / (CASE WHEN cxxp > 0.0 THEN cxxp END) AS ssrp,
        |    n0 >= 3 AND n1 >= 3 AND cxx0 > 0.0 AND cxx1 > 0.0
        |      AND cxxp > 0.0 AS ok
        |  FROM c),
        |z AS (SELECT *, ssr0 + ssr1 AS resid,
        |    CAST(n0 + n1 AS DOUBLE) AS ndb FROM r)
        |SELECT k AS event_type, n0 AS n_pre, n1 AS n_post,
        |  CASE WHEN ok THEN ssrp END AS ssr_pooled,
        |  CASE WHEN ok THEN ssr0 END AS ssr_pre,
        |  CASE WHEN ok THEN ssr1 END AS ssr_post,
        |  CASE WHEN ok AND resid > 0.0 AND ndb > 4.0
        |    THEN (ssrp - resid) / 2.0 / (resid / (ndb - 4.0))
        |    END AS f_chow
        |FROM z""".stripMargin)),

    // ---- stats: Jarque-Bera normality — exact power sums to the
    //      4th, pinned central-moment chain, sqrt never pow ----
    // exact integer power sums to the 4th on the cent grid (BIGINT
    // powers, HUGEINT sums == the engine's DECIMAL(38) sums), then
    // the pinned central-moment chain: m3/m4 expansions around the
    // mean, g1 = m3/(m2*sqrt(m2)), JB = n/6*(g1^2 + g2^2/4).
    // Sums past 2^53 go DOUBLE via VARCHAR: DuckDB's direct
    // HUGEINT->DOUBLE cast double-rounds (two 64-bit halves), while
    // strtod and Spark's Decimal.toDouble are correctly rounded
    Gate("q351_jarque_bera", (s, dir) =>
      graft.agg.Stats.jarqueBera(
        t(s, dir, "events"), Seq("event_type"), "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n, sum(c) AS s1,
        |    sum(c * c) AS s2, sum(c * c * c) AS s3,
        |    sum((c * c) * (c * c)) AS s4
        |  FROM b GROUP BY 1),
        |x AS (SELECT k, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS mu,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS s2n,
        |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS s3n,
        |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS s4n FROM g),
        |y AS (SELECT *, s2n - mu * mu AS m2,
        |    s3n - 3.0 * mu * s2n + 2.0 * mu * mu * mu AS m3,
        |    s4n - 4.0 * mu * s3n + 6.0 * mu * mu * s2n
        |      - 3.0 * mu * mu * mu * mu AS m4 FROM x),
        |z AS (SELECT *, m3 / (m2 * sqrt(m2)) AS g1,
        |    m4 / (m2 * m2) - 3.0 AS g2 FROM y)
        |SELECT k AS event_type, n,
        |  CASE WHEN n >= 2 AND m2 > 0.0 THEN g1 END AS skewness,
        |  CASE WHEN n >= 2 AND m2 > 0.0 THEN g2 END AS kurtosis_excess,
        |  CASE WHEN n >= 2 AND m2 > 0.0
        |    THEN nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0) END AS jb
        |FROM z""".stripMargin)),

    // ---- experimentation: Friedman repeated-measures rank test —
    //      within-block doubled ranks, complete blocks only ----
    // within-block doubled ranks 2*rank_min + t - 1 on exact cell
    // sums, complete blocks only (dense-rank treatment count),
    // exact integer rank moments, pinned tie-robust Conover closing
    Gate("q349_friedman", (s, dir) =>
      graft.agg.Stats.friedman(
        t(s, dir, "events")
          .withColumn("blk", pmod(col("user_id"), lit(50L)))
          .withColumn("variant", pmod(col("event_id"), lit(3L))),
        Seq("event_type"), "blk", "variant", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 50) + 50) % 50 AS blk,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |cell AS (SELECT k, blk, trt, CAST(sum(c) AS BIGINT) AS vc
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, blk) AS bc FROM d),
        |r AS (SELECT k, blk, trt,
        |    2 * rank() OVER (PARTITION BY k, blk ORDER BY vc)
        |      + count(*) OVER (PARTITION BY k, blk, vc) - 1 AS r2
        |  FROM e WHERE bc = kk),
        |cells AS (SELECT k, trt, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2) AS BIGINT) AS R2, sum(r2 * r2) AS sq
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT k, max(n) AS nb, CAST(count(*) AS BIGINT) AS kt,
        |    CAST(sum(R2 * R2) AS DOUBLE) AS sr2,
        |    CAST(sum(sq) AS DOUBLE) AS a2 FROM cells GROUP BY 1),
        |x AS (SELECT *, CAST(nb AS DOUBLE) AS nd,
        |    CAST(kt AS DOUBLE) AS kd, CAST(kt AS DOUBLE) + 1.0 AS kp1
        |  FROM g),
        |z AS (SELECT *, sr2 - nd * nd * kd * kp1 * kp1 AS num,
        |    a2 - nd * kd * kp1 * kp1 AS den FROM x)
        |SELECT k AS event_type, nb AS n_blocks, kt AS k_treatments,
        |  CASE WHEN kt >= 2 AND nb > 0 AND den > 0.0
        |    THEN (kd - 1.0) * num / den END AS chi2_f
        |FROM z""".stripMargin)),

    // ---- experimentation: Cochran's Q — k-condition binary paired
    //      test, per-subject max outcomes, complete subjects only ----
    // per-subject max outcomes under each treatment, complete
    // subjects only, exact integer G/L/N moments at row-number-1
    // markers, pinned (k-1)(k*SumG2 - N^2)/(kN - SumL2) closing
    Gate("q350_cochran_q", (s, dir) =>
      graft.agg.Stats.cochranQ(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L)))
          .withColumn("variant", pmod(col("event_id"), lit(3L)))
          .withColumn("hit", col("value") >= 110.0),
        Seq("cohort"), "user_id", "variant", "hit"), Sql(
      """WITH b AS (SELECT ((user_id % 4) + 4) % 4 AS k, user_id AS s,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CASE WHEN value >= 110 THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL),
        |cell AS (SELECT k, s, trt, CAST(max(y) AS BIGINT) AS yi
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, s) AS sc FROM d),
        |f AS (SELECT k, s, trt, yi, kk FROM e WHERE sc = kk),
        |m AS (SELECT *, sum(yi) OVER (PARTITION BY k, s) AS L,
        |    row_number() OVER (PARTITION BY k, s ORDER BY trt) AS rn,
        |    sum(yi) OVER (PARTITION BY k, trt) AS G,
        |    row_number() OVER (PARTITION BY k, trt ORDER BY s) AS rm
        |  FROM f),
        |g AS (SELECT k, CAST(sum(yi) AS BIGINT) AS n_success,
        |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_subjects,
        |    CAST(max(kk) AS BIGINT) AS kt,
        |    CAST(sum(CASE WHEN rn = 1 THEN L * L END) AS DOUBLE)
        |      AS l2,
        |    CAST(sum(CASE WHEN rm = 1 THEN G * G END) AS DOUBLE)
        |      AS g2
        |  FROM m GROUP BY 1),
        |x AS (SELECT *, CAST(kt AS DOUBLE) AS kd,
        |    CAST(n_success AS DOUBLE) AS ns FROM g)
        |SELECT k AS cohort, n_subjects, kt AS k_treatments, n_success,
        |  CASE WHEN kt >= 2 AND kd * ns - l2 > 0.0
        |    THEN (kd - 1.0) * (kd * g2 - ns * ns) / (kd * ns - l2)
        |    END AS q
        |FROM x""".stripMargin)),

    // ---- stats: Mood's median test — grand discrete median, exact
    //      2×k cells, group-order χ² fold ----
    // cent grid, key-wide discrete lower median, exact integer 2xk
    // cells, group-order chi-square fold with expected counts
    // n_g*A/N computed in the lambda against the row's totals
    Gate("q346_moods_median", (s, dir) =>
      graft.agg.Stats.moodsMedianTest(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY vc) AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS cnt
        |  FROM b),
        |md AS (SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN vc END)
        |    OVER (PARTITION BY k) AS med FROM w),
        |cells AS (SELECT k, g,
        |    CAST(sum(CASE WHEN vc > med THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN vc > med THEN 0 ELSE 1 END) AS BIGINT)
        |      AS b2
        |  FROM md GROUP BY 1, 2),
        |grid AS (SELECT k, CAST(sum(a) AS BIGINT) AS at,
        |    CAST(sum(b2) AS BIGINT) AS bt,
        |    CAST(count(*) AS BIGINT) AS kg,
        |    list([CAST(a AS DOUBLE), CAST(b2 AS DOUBLE)] ORDER BY g)
        |      AS cl
        |  FROM cells GROUP BY 1),
        |f AS (SELECT *, list_reduce(list_prepend([0.0], cl),
        |    (acc, p) -> [acc[1]
        |      + (p[1] - (p[1] + p[2]) * CAST(at AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        * (p[1] - (p[1] + p[2]) * CAST(at AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        / ((p[1] + p[2]) * CAST(at AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |      + (p[2] - (p[1] + p[2]) * CAST(bt AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        * (p[2] - (p[1] + p[2]) * CAST(bt AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        / ((p[1] + p[2]) * CAST(bt AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))]) AS m
        |  FROM grid)
        |SELECT k AS event_type, kg AS k_groups, at + bt AS n,
        |  at AS n_above,
        |  CASE WHEN kg >= 2 AND at > 0 AND bt > 0 THEN m[1] END AS chi2
        |FROM f""".stripMargin)),

    // ---- stats: one-way ANOVA F + η² — exact integer group moments,
    //      group-order fold, pinned scatter-identity closing ----
    // exact integer (n, S, SS) cells on the cent grid, group-order
    // fold, pinned between = A - T^2/N / within = B - A identities,
    // F and eta-squared closings
    Gate("q344_anova_f", (s, dir) =>
      graft.agg.Stats.anovaF(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(vc) AS BIGINT) AS s, sum(vc * vc) AS ss
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(ng AS DOUBLE), CAST(s AS DOUBLE),
        |        CAST(ss AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [acc[1] + p[2]*p[2]/p[1], acc[2] + p[3],
        |      acc[3] + p[2], acc[4] + p[1], acc[5] + 1.0]) AS m
        |  FROM cells GROUP BY 1),
        |c AS (SELECT k, m, m[1] - m[3]*m[3]/m[4] AS btw,
        |    m[2] - m[1] AS wth FROM f)
        |SELECT k AS event_type, CAST(m[5] AS BIGINT) AS k_groups,
        |  CAST(m[4] AS BIGINT) AS n,
        |  CASE WHEN m[5] >= 2.0 AND m[4] > m[5] AND wth > 0.0
        |    THEN (btw / (m[5] - 1.0)) / (wth / (m[4] - m[5]))
        |    END AS f_stat,
        |  CASE WHEN m[5] >= 2.0 AND btw + wth > 0.0
        |    THEN btw / (btw + wth) END AS eta_sq
        |FROM c""".stripMargin)),

    // ---- stats: Kruskal-Wallis H — doubled average ranks as exact
    //      longs, ANOVA-on-ranks closing (tie correction built in) ----
    // doubled average ranks 2*rank_min + t - 1 as exact longs (rank
    // + tie-count windows on one exchange), per-group exact moments,
    // group-order fold, pinned ANOVA-on-ranks closing against
    // r-bar = (N+1)/2
    Gate("q340_kruskal_wallis", (s, dir) =>
      graft.agg.Stats.kruskalWallis(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g, value AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |r AS (SELECT *, 2 * rank() OVER (PARTITION BY k ORDER BY v)
        |    + count(*) OVER (PARTITION BY k, v) - 1 AS r2 FROM b),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(r2) AS BIGINT) AS R2, sum(r2 * r2) AS sq
        |  FROM r GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0],
        |    list([CAST(ng AS DOUBLE), CAST(R2 AS DOUBLE),
        |      CAST(sq AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [acc[1] + p[2]*p[2] / (4.0*p[1]),
        |      acc[2] + p[3], acc[3] + p[1], acc[4] + 1.0]) AS m
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[4] AS BIGINT) AS k_groups,
        |  CAST(m[3] AS BIGINT) AS n,
        |  CASE WHEN m[4] >= 2.0 AND m[2] / 4.0
        |      - m[3] * ((m[3] + 1.0) / 2.0) * ((m[3] + 1.0) / 2.0)
        |      > 0.0
        |    THEN (m[3] - 1.0) * (m[1]
        |        - m[3] * ((m[3] + 1.0) / 2.0) * ((m[3] + 1.0) / 2.0))
        |      / (m[2] / 4.0
        |        - m[3] * ((m[3] + 1.0) / 2.0) * ((m[3] + 1.0) / 2.0))
        |    END AS h
        |FROM f""".stripMargin)),

    // ---- stats: Wald-Wolfowitz runs test — discrete-median
    //      dichotomy, lag run boundaries, exact null moments ----
    // cent grid, discrete lower median (rank (N+1)//2), equal-to-
    // median rows drop, lag run boundaries on the (ts, event_id)
    // total order, exact integer n1/n2/R, pinned z closing
    Gate("q341_runs_test", (s, dir) =>
      graft.agg.Stats.runsTest(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value"), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY vc) AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS cnt
        |  FROM b),
        |md AS (SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN vc END)
        |    OVER (PARTITION BY k) AS med FROM w),
        |s AS (SELECT k, ts, event_id, vc > med AS up FROM md
        |  WHERE vc <> med),
        |c AS (SELECT k, up, CASE WHEN lag(up) OVER (PARTITION BY k
        |      ORDER BY ts, event_id) IS NULL THEN 1
        |    WHEN lag(up) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      <> up THEN 1 ELSE 0 END AS chg FROM s),
        |g AS (SELECT k,
        |    CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above,
        |    CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_below,
        |    CAST(sum(chg) AS BIGINT) AS runs FROM c GROUP BY 1),
        |x AS (SELECT *, CAST(n_above AS DOUBLE) AS x1,
        |    CAST(n_below AS DOUBLE) AS x2 FROM g)
        |SELECT k AS event_type, n_above, n_below, runs,
        |  CASE WHEN n_above > 0 AND n_below > 0
        |      AND n_above + n_below >= 2
        |      AND 2.0*x1*x2 * (2.0*x1*x2 - (x1 + x2))
        |        / ((x1 + x2) * (x1 + x2) * ((x1 + x2) - 1.0)) > 0.0
        |    THEN (CAST(runs AS DOUBLE)
        |        - (2.0*x1*x2 / (x1 + x2) + 1.0))
        |      / sqrt(2.0*x1*x2 * (2.0*x1*x2 - (x1 + x2))
        |        / ((x1 + x2) * (x1 + x2) * ((x1 + x2) - 1.0)))
        |    END AS z
        |FROM x""".stripMargin)),

    // ---- time-series: Durbin-Watson autocorrelation diagnostic —
    //      mean cancels in the numerator, exact moment closing ----
    // mean cancels in the numerator (exact integer deltas), so DW =
    // exact-decimal sum(d^2) over the pinned Sxx - S^2/n closing
    Gate("q339_durbin_watson", (s, dir) =>
      graft.agg.Stats.durbinWatson(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value"), Sql(
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |d AS (SELECT k, vc, vc - lag(vc) OVER (PARTITION BY k
        |    ORDER BY ts, event_id) AS d FROM b),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(vc) AS BIGINT) AS s, sum(vc * vc) AS ss,
        |    sum(d * d) AS sd2
        |  FROM d GROUP BY 1)
        |SELECT k AS event_type, n,
        |  CASE WHEN n >= 2 AND CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
        |      * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
        |    THEN CAST(sd2 AS DOUBLE) / (CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) END AS dw
        |FROM g""".stripMargin)),

    // ---- experimentation: Cochran-Armitage trend test — exact
    //      integer dose moments, one pinned z closing ----
    // exact integer dose moments (sums of t*r, t, t*t are order-free
    // longs), one pinned p(1-p)(Sttn - Stn^2/N) variance and z
    // closing; complement 1-p computed in-expression
    Gate("q337_cochran_armitage", (s, dir) =>
      graft.agg.Stats.cochranArmitage(
        t(s, dir, "events")
          .withColumn("dose", pmod(col("user_id"), lit(4L)))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "dose", "y"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS t,
        |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS r
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS n_pos,
        |    CAST(sum(t * r) AS BIGINT) AS str,
        |    CAST(sum(t) AS BIGINT) AS stn,
        |    CAST(sum(t * t) AS BIGINT) AS sttn
        |  FROM b GROUP BY 1),
        |c AS (SELECT *, CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(str AS DOUBLE) AS strd, CAST(stn AS DOUBLE) AS stnd,
        |    CAST(sttn AS DOUBLE) AS sttnd, CAST(n AS DOUBLE) AS nd
        |  FROM g),
        |v AS (SELECT *, p * (1.0 - p) * (sttnd - stnd * stnd / nd)
        |    AS var FROM c)
        |SELECT k AS event_type, n, n_pos,
        |  CASE WHEN var > 0.0
        |    THEN (strd - p * stnd) / sqrt(var) END AS z
        |FROM v""".stripMargin)),

    // ---- stats: Brown-Forsythe variance-homogeneity test — exact
    //      grid deviations from discrete group medians, ANOVA-on-z ----
    // the engine's chain verbatim: cent grid, discrete lower median
    // at rank (n+1)//2 per (key, group), |z| deviations, exact integer
    // group moments, sequential group-order fold (list_reduce), one
    // pinned W closing
    Gate("q334_brown_forsythe", (s, dir) =>
      graft.agg.Stats.brownForsythe(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *, row_number() OVER (PARTITION BY k, g
        |      ORDER BY vc) AS rn,
        |    CAST(count(*) OVER (PARTITION BY k, g) AS BIGINT) AS n
        |  FROM b),
        |md AS (SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN vc END)
        |    OVER (PARTITION BY k, g) AS med FROM w),
        |z AS (SELECT k, g, abs(vc - med) AS z FROM md),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(z) AS BIGINT) AS s, sum(z * z) AS ss
        |  FROM z GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(ng AS DOUBLE), CAST(s AS DOUBLE),
        |        CAST(ss AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [acc[1] + p[2]*p[2]/p[1],
        |      acc[2] + (p[3] - p[2]*p[2]/p[1]),
        |      acc[3] + p[2], acc[4] + p[1], acc[5] + 1.0]) AS m
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[5] AS BIGINT) AS k_groups,
        |  CAST(m[4] AS BIGINT) AS n,
        |  CASE WHEN m[5] >= 2.0 AND m[2] > 0.0 THEN
        |    ((m[4] - m[5]) / (m[5] - 1.0))
        |      * (m[1] - m[3]*m[3]/m[4]) / m[2] END AS w_stat
        |FROM f""".stripMargin)),

    // ---- experimentation: always-valid inference (mSPRT) — log-space
    //      mixture likelihood ratio, round-9 libm ln, exact decimal
    //      S − nθ₀, earliest ln Λ ≥ ln(1/α) crossing ----
    // the engine's log-space mSPRT chain verbatim: round-9 ln of the
    // shrinkage factor, exact-decimal S − nθ₀ closed to double, the
    // quadratic term a raw pinned IEEE chain, first crossing of the
    // 1e-9-grid ln(1/α) literal
    Gate("q325_msprt", (s, dir) =>
      graft.agg.Stats.msprt(
        t(s, dir, "events").withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "ts", "event_id", "y",
        theta0 = 0.45, tau = 0.1, alpha = 0.05), Sql {
      val sig2 = l9(0.45 * 0.55)
      val tau2 = l9(0.1 * 0.1)
      val thr = l9(math.log(1.0 / 0.05))
      val den = s"(CAST($sig2 AS DOUBLE) + CAST(n AS DOUBLE) " +
        s"* CAST($tau2 AS DOUBLE))"
      s"""WITH b AS (SELECT event_type, ts, event_id,
         |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS y
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND value IS NOT NULL AND event_type IS NOT NULL),
         |w AS (SELECT *, CAST(count(*) OVER win AS BIGINT) AS n,
         |    CAST(sum(y) OVER win AS BIGINT) AS s,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
         |      AS nt,
         |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS st
         |  FROM b WINDOW win AS (PARTITION BY event_type
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |v AS (SELECT *, CAST(CAST(s AS DECIMAL(38,9))
         |    - n * CAST(0.45 AS DECIMAL(12,9)) AS DOUBLE) AS dev
         |  FROM w),
         |l AS (SELECT *,
         |    CAST(0.5 AS DOUBLE)
         |      * round(ln(CAST($sig2 AS DOUBLE) / $den), 9)
         |    + CAST($tau2 AS DOUBLE) * dev * dev
         |      / (CAST(2.0 AS DOUBLE) * CAST($sig2 AS DOUBLE) * $den)
         |    AS ll FROM v),
         |d AS (SELECT *, CASE WHEN ll >= CAST($thr AS DOUBLE)
         |    THEN 'reject' END AS dcn FROM l),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY CASE WHEN dcn IS NOT NULL THEN 0 ELSE 1 END,
         |      CASE WHEN dcn IS NOT NULL THEN n ELSE -n END) AS rk
         |  FROM d)
         |SELECT event_type, nt AS n_total, st AS n_pos,
         |  dcn AS decision,
         |  CASE WHEN dcn IS NOT NULL THEN n END AS n_at_decision,
         |  ll AS log_lambda_at_decision
         |FROM r WHERE rk = 1""".stripMargin
    }),

    // ---- experimentation: group-sequential interim analysis —
    //      classic O'Brien-Fleming K=5 boundaries 2.04·√(5/k) as
    //      pinned literals, cumulative two-proportion z on the
    //      (ts, event_id) total order, earliest crossing wins ----
    // the engine's pinned chain verbatim: look = floor((rk-1)*5/n)+1
    // on the (ts, event_id) total order, cumulative cells, z =
    // (ct/nt - cc/nc)/sqrt(pp*(1-pp)*(1/nt+1/nc)), OBF literals on
    // the 1e-9 grid, earliest |z| >= boundary wins, else last look
    Gate("q324_group_sequential", (s, dir) =>
      graft.agg.Stats.groupSequential(
        t(s, dir, "events")
          .withColumn("variant", col("user_id") % 2 === 0)
          .withColumn("y", col("value") >= 55.0),
        Seq("event_type"), "ts", "event_id", "variant", "y",
        boundaries = (1 to 5).map(i => 2.04 * math.sqrt(5.0 / i))), Sql {
      val caseB = (1 to 5).map(i =>
          s"WHEN look = $i THEN CAST(${l9(2.04 * math.sqrt(5.0 / i))} " +
            "AS DOUBLE)")
        .mkString("CASE ", " ", " END")
      s"""WITH b AS (SELECT event_type AS k, ts, event_id,
         |    (user_id % 2 = 0) AS v, value >= 55 AS y
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND user_id IS NOT NULL
         |    AND value IS NOT NULL AND event_type IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY k
         |      ORDER BY ts, event_id) AS rk,
         |    count(*) OVER (PARTITION BY k) AS n FROM b),
         |l AS (SELECT k, v, y, CAST(floor(
         |      CAST((rk - 1) * 5 AS DOUBLE) / CAST(n AS DOUBLE))
         |      + 1 AS INT) AS look FROM r),
         |cells AS (SELECT k, look,
         |    sum(CASE WHEN v THEN 1 ELSE 0 END) AS nti,
         |    sum(CASE WHEN v AND y THEN 1 ELSE 0 END) AS cti,
         |    sum(CASE WHEN NOT v THEN 1 ELSE 0 END) AS nci,
         |    sum(CASE WHEN NOT v AND y THEN 1 ELSE 0 END) AS cci
         |  FROM l GROUP BY 1, 2),
         |cum AS (SELECT k, look,
         |    CAST(sum(nti) OVER w AS BIGINT) AS n_treat,
         |    CAST(sum(cti) OVER w AS BIGINT) AS conv_treat,
         |    CAST(sum(nci) OVER w AS BIGINT) AS n_ctrl,
         |    CAST(sum(cci) OVER w AS BIGINT) AS conv_ctrl
         |  FROM cells WINDOW w AS (PARTITION BY k ORDER BY look
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |zz AS (SELECT *,
         |    (CAST(conv_treat AS DOUBLE) + CAST(conv_ctrl AS DOUBLE))
         |      / (CAST(n_treat AS DOUBLE) + CAST(n_ctrl AS DOUBLE))
         |      AS pp FROM cum),
         |j AS (SELECT k, look, n_treat, conv_treat, n_ctrl, conv_ctrl,
         |    CASE WHEN n_treat > 0 AND n_ctrl > 0 AND pp > 0.0
         |        AND pp < 1.0 THEN
         |      (CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
         |        - CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
         |      / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
         |        * (CAST(1.0 AS DOUBLE) / CAST(n_treat AS DOUBLE)
         |          + CAST(1.0 AS DOUBLE) / CAST(n_ctrl AS DOUBLE)))
         |    END AS z,
         |    $caseB AS boundary FROM zz),
         |d AS (SELECT *, z IS NOT NULL AND abs(z) >= boundary AS dec
         |  FROM j),
         |p AS (SELECT *, row_number() OVER (PARTITION BY k
         |    ORDER BY CASE WHEN dec THEN 0 ELSE 1 END,
         |      CASE WHEN dec THEN look ELSE -look END) AS pr FROM d)
         |SELECT k AS event_type, look, n_treat, conv_treat, n_ctrl,
         |  conv_ctrl, z, boundary,
         |  CASE WHEN dec THEN CASE WHEN z > 0 THEN 'reject_up'
         |    ELSE 'reject_down' END END AS decision
         |FROM p WHERE pr = 1""".stripMargin
    })
  )
}
