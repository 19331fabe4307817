package graft
package gates

import org.apache.spark.sql.functions._

import graft.quality.Quality

import GateSupport._
import Oracle.Sql

/** `graft.quality.Quality` and `Privacy`: expectations,
 *  profiles, drift and anomaly checks, anonymization. */
private[graft] object QualityGates {

  val gates: Seq[Gate] = Seq(
    // ---- §2.9 data quality: whole rule set in ONE aggregation pass ----
    Gate("q20_quality", (s, dir) => {
      Quality.metrics(t(s, dir, "lineitem"), Quality.Config(
        maxNullRate = 0.5, nullRateFields = Seq("l_shipdate"),
        rules = Seq(
          Quality.FieldRule("l_quantity", min = Some(1.0), max = Some(50.0)),
          Quality.FieldRule("l_discount", min = Some(0.0), max = Some(0.1)),
          Quality.FieldRule("l_returnflag", allowed = Seq("A", "N", "R")),
          Quality.FieldRule("l_linestatus", pattern = Some("^[FO]$")),
          Quality.FieldRule("l_shipdate", notNull = true))))
    }, Sql(
      """SELECT count(*) AS n_records,
        | CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_shipdate__nulls,
        | CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_quantity < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity__min,
        | CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity__max,
        | CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_discount < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS l_discount__min,
        | CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS l_discount__max,
        | CAST(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS l_returnflag__allowed,
        | CAST(sum(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[FO]$') THEN 1 ELSE 0 END) AS BIGINT) AS l_linestatus__pattern,
        | CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_shipdate__null
        |FROM lineitem""".stripMargin)),

    // ---- §2.9+ robust outlier gate: |x − median| ≤ k·MAD per group,
    //      discrete (data-valued) median/MAD — engine-reproducible,
    //      immune to the inflated-stddev failure of z-score gates ----
    // discrete median/MAD at rank ceil(n/2), replayed with the same
    // window arithmetic as the Spark side (q66's percentile recipe)
    Gate("q86_mad_outliers", (s, dir) => {
      Quality.madOutlierFilter(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        Seq("event_type"), "value", k = 3.0)
    }, Sql(
      """WITH v AS (SELECT event_id, event_type, value FROM events
        |           WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n FROM v),
        |med AS (SELECT event_type, value AS med FROM r WHERE rn = ceil(0.5*n)),
        |d AS (SELECT v.*, abs(v.value::DOUBLE - med.med::DOUBLE) AS dev
        |      FROM v JOIN med USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn2,
        |              count(*) OVER (PARTITION BY event_type) AS n2 FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn2 = ceil(0.5*n2))
        |SELECT d.event_id, d.event_type, d.value FROM d JOIN mad USING (event_type)
        |WHERE d.dev <= 3.0::DOUBLE * mad.mad""".stripMargin)),

    // ---- §2.9+ data profiling: per-column stats in one pass ----
    Gate("q63_profile", (s, dir) => {
      Quality.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"))
    }, Sql {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n")
    }),

    // ---- data quality: exact two-sample KS drift between the
    //      click and view value distributions ----
    // running sums with default RANGE frames (peers included ⇒ tie
    // order free); one exactly-rounded long→double divide per CDF
    Gate("q130_ks_drift", (s, dir) =>
      graft.quality.Quality.ksDrift(t(s, dir, "events"),
        "value", "event_type", "click", "view"), Sql(
      """WITH m AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |c AS (SELECT v, sum(ia) OVER (ORDER BY v) AS ca, sum(ib) OVER (ORDER BY v) AS cb,
        |             sum(ia) OVER () AS na, sum(ib) OVER () AS nb FROM m)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  max(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |        - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_stat
        |FROM c WHERE na > 0 AND nb > 0 GROUP BY na, nb""".stripMargin)),

    // ---- model monitoring: PSI drift of each event type's value
    //      distribution vs the pooled deciles ----
    // pooled-decile bins (q128 edge rule), PSI terms in the pinned
    // (q − p)·ln(q/p) order, per-segment sum folded in bin order;
    // zero-observation bins contribute 0 and are counted instead
    Gate("q147_psi_drift", (s, dir) =>
      Quality.psiDrift(t(s, dir, "events"), "value", "event_type",
        (1 to 9).map(_ / 10.0))
        // ln-bearing statistic: quantize to 1e-9 for the cross-engine
        // hash (round is bit-identical Spark vs DuckDB; see
        // MathExpressions rationale)
        .withColumn("psi", round(col("psi"), 9)), Sql(
      """WITH base AS (SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |rk AS (SELECT value AS v, row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n FROM base),
        |ed AS (SELECT v FROM rk CROSS JOIN (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),
        |         (0.6),(0.7),(0.8),(0.9)) p(p)
        |       WHERE rn = CAST(ceil(CAST(p.p AS DECIMAL(18,12)) * n) AS INT)),
        |b AS (SELECT event_type,
        |    1 + (SELECT count(*) FROM ed WHERE ed.v < base.value) AS bin FROM base),
        |cnt AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS o FROM b GROUP BY 1, 2),
        |ref AS (SELECT bin, CAST(sum(o) AS BIGINT) AS c FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ref),
        |st AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS s FROM cnt GROUP BY 1),
        |grid AS (SELECT st.event_type, st.s, ref.bin, ref.c, tot.t,
        |    coalesce(cnt.o, 0) AS o
        |  FROM st CROSS JOIN ref CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.event_type = st.event_type AND cnt.bin = ref.bin),
        |terms AS (SELECT event_type, s, bin, o,
        |    CASE WHEN o > 0 THEN
        |      (CAST(o AS DOUBLE) / CAST(s AS DOUBLE) - CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
        |      * ln((CAST(o AS DOUBLE) / CAST(s AS DOUBLE)) / (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)))
        |    ELSE 0.0 END AS term
        |  FROM grid)
        |SELECT event_type, min(s) AS n_rows, CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(CASE WHEN o = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_bins,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY bin)),
        |    (a, x) -> a + x), 9) AS psi
        |FROM terms GROUP BY event_type""".stripMargin)),

    // ---- A/B stats: Mann-Whitney U with midranks + tie-corrected
    //      normal approximation, click vs view values ----
    // midranks = rank + (ties−1)/2 (exact halves in double), tie term
    // Σ(t²−1) row-wise, z with the tie-corrected σ; all-tied → null z
    Gate("q150_mann_whitney", (s, dir) =>
      Quality.mannWhitneyU(t(s, dir, "events"),
        "value", "event_type", "click", "view"), Sql(
      """WITH base AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |rk AS (SELECT *, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rmin,
        |    CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS t FROM base),
        |ag AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b,
        |    sum(CASE WHEN ia = 1 THEN rmin + (t - 1) / 2.0 END) AS ra,
        |    CAST(sum(t * t - 1) AS BIGINT) AS tie FROM rk)
        |SELECT n_a, n_b,
        |  ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0 AS u_a,
        |  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |    - (ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0) AS u_b,
        |  CASE WHEN (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
        |      * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
        |         - CAST(tie AS DOUBLE) / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) > 0
        |    THEN ((ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0)
        |          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |      / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
        |        * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
        |           - CAST(tie AS DOUBLE) / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |              * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))
        |  END AS z
        |FROM ag WHERE n_a > 0 AND n_b > 0""".stripMargin)),

    // ---- data quality: referential-integrity audit across two FKs ----
    // null FK values are not violations (SQL FK semantics)
    Gate("q156_fk_integrity", (s, dir) =>
      Quality.referentialIntegrity(t(s, dir, "events"),
          Seq(Quality.FkSpec("events_user", Seq("user_id"),
            t(s, dir, "customer"), Seq("c_custkey"))))
        .unionByName(Quality.referentialIntegrity(t(s, dir, "lineitem"),
          Seq(Quality.FkSpec("lineitem_part", Seq("l_partkey"),
            t(s, dir, "part"), Seq("p_partkey"))))), Sql(
      """SELECT 'events_user' AS fk,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events
        |   WHERE user_id IS NOT NULL) AS n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events e
        |   WHERE user_id IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphans,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events e
        |   WHERE user_id IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_distinct_orphans
        |UNION ALL
        |SELECT 'lineitem_part',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_partkey IS NOT NULL),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE l_partkey IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
        |  (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem l
        |   WHERE l_partkey IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))""".stripMargin)),

    // ---- data quality: Benford first-digit drift over order totals ----
    // expected shares are the SAME compile-time double literals the
    // Spark side carries (Quality.BenfordP; runtime is literal+integer
    // IEEE arithmetic, no transcendentals); digit read from the exact
    // DECIMAL string
    Gate("q157_benford", (s, dir) =>
      Quality.benfordDrift(t(s, dir, "orders"), "o_totalprice"), Sql {
      // literals ship as QUOTED strings: DuckDB parses a bare decimal
      // literal as DECIMAL and converts (can land 1 ulp off), while a
      // string cast goes through strtod — correctly rounded, so the
      // shortest-repr round-trip reproduces Spark's double exactly
      val dim = Quality.BenfordP.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, CAST('$p' AS DOUBLE))" }
        .mkString(", ")
      s"""WITH dim AS (SELECT * FROM (VALUES $dim) t(digit, p)),
        |obs AS (SELECT CAST(substr(regexp_replace(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |    '[^1-9]', '', 'g'), 1, 1) AS INT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders
        |  WHERE substr(regexp_replace(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |    '[^1-9]', '', 'g'), 1, 1) <> ''
        |  GROUP BY 1),
        |j AS (SELECT dim.digit, dim.p, coalesce(obs.n_obs, 0) AS n_obs
        |      FROM dim LEFT JOIN obs USING (digit)),
        |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM j),
        |terms AS (SELECT digit, n_obs, CAST(n AS DOUBLE) * p AS expected,
        |    (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |      * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |      / (CAST(n AS DOUBLE) * p) AS term
        |  FROM j CROSS JOIN tot WHERE n > 0),
        |cs AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(term ORDER BY digit)), (a, x) -> a + x) AS chisq FROM terms)
        |SELECT digit, n_obs, expected, chisq FROM terms CROSS JOIN cs""".stripMargin
    }),

    // ---- governance: k-anonymity audit over quasi-identifiers ----
    Gate("q176_k_anonymity", (s, dir) =>
      Quality.kAnonymity(
        t(s, dir, "customer")
          .withColumn("bal_band", floor(col("c_acctbal") / 1000)),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5), Sql(
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 5""".stripMargin)),

    // ---- ops diagnostics: join-key skew report over the lineitem
    //      key columns (the salted-join decision input) ----
    // hottest key ties break to the larger stringified key (max
    // struct semantics); skew factor = max/(rows/keys), pinned order
    Gate("q193_skew_report", (s, dir) =>
      Quality.skewReport(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")), Sql {
      def block(c: String) =
        s"""SELECT '$c' AS key_col,
           |  (SELECT CAST(sum(cc) AS BIGINT) FROM c_$c) AS n_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c_$c) AS n_keys,
           |  (SELECT CAST(max(cc) AS BIGINT) FROM c_$c) AS max_key_rows,
           |  (SELECT CAST(k AS VARCHAR) FROM c_$c
           |   ORDER BY cc DESC, CAST(k AS VARCHAR) DESC LIMIT 1) AS hottest_key,
           |  CAST((SELECT max(cc) FROM c_$c) AS DOUBLE)
           |    / (CAST((SELECT sum(cc) FROM c_$c) AS DOUBLE)
           |       / CAST((SELECT count(*) FROM c_$c) AS DOUBLE)) AS skew_factor""".stripMargin
      s"""WITH c_l_orderkey AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cc
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |c_l_partkey AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cc
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |c_l_suppkey AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cc
        |  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1)
        |${block("l_orderkey")}
        |UNION ALL
        |${block("l_partkey")}
        |UNION ALL
        |${block("l_suppkey")}""".stripMargin
    }),

    // ---- A/B reporting: conversion rates with Wilson-score CIs ----
    // Wilson bounds replayed with the identical pinned op sequence;
    // z ships as a quoted-string literal (the q157 strtod rule)
    Gate("q194_conversion_ci", (s, dir) =>
      Quality.conversionRates(t(s, dir, "events"), Seq("event_type"),
        col("value") > 500), Sql {
      val z = "CAST('1.96' AS DOUBLE)"
      val nD = "CAST(n_trials AS DOUBLE)"
      val pD = s"CAST(n_success AS DOUBLE) / $nD"
      val denom = s"(1.0 + $z * $z / $nD)"
      val center = s"(($pD + $z * $z / (2.0 * $nD)) / $denom)"
      val half = s"($z * sqrt(($pD) * (1.0 - ($pD)) / $nD + $z * $z / (4.0 * $nD * $nD)) / $denom)"
      s"""WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_trials,
        |    CAST(sum(CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_success
        |  FROM events GROUP BY 1)
        |SELECT event_type, n_trials, n_success,
        |  $pD AS rate,
        |  greatest(0.0, $center - $half) AS ci_low,
        |  least(1.0, $center + $half) AS ci_high
        |FROM a""".stripMargin
    }),

    // ---- audit: Benford first-digit deviation per return flag —
    //      χ² + MAD against the pinned log10(1+1/d) expectations ----
    // cent-grid first digit by integer-string truncation; the same
    // pinned log10(1+1/d) literals; chi2 folds digits 1..9 in order
    Gate("q217_benford", (s, dir) =>
      Quality.benfordDeviation(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice"), Sql(
      """WITH b AS (SELECT l_returnflag,
        |    substr(CAST(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS dg
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) >= 1),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN dg = '1' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN dg = '2' THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN dg = '3' THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(sum(CASE WHEN dg = '4' THEN 1 ELSE 0 END) AS BIGINT) AS d4,
        |    CAST(sum(CASE WHEN dg = '5' THEN 1 ELSE 0 END) AS BIGINT) AS d5,
        |    CAST(sum(CASE WHEN dg = '6' THEN 1 ELSE 0 END) AS BIGINT) AS d6,
        |    CAST(sum(CASE WHEN dg = '7' THEN 1 ELSE 0 END) AS BIGINT) AS d7,
        |    CAST(sum(CASE WHEN dg = '8' THEN 1 ELSE 0 END) AS BIGINT) AS d8,
        |    CAST(sum(CASE WHEN dg = '9' THEN 1 ELSE 0 END) AS BIGINT) AS d9
        |  FROM b GROUP BY 1),
        |t AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(d1 AS DOUBLE) AS o1, CAST(d2 AS DOUBLE) AS o2,
        |    CAST(d3 AS DOUBLE) AS o3, CAST(d4 AS DOUBLE) AS o4,
        |    CAST(d5 AS DOUBLE) AS o5, CAST(d6 AS DOUBLE) AS o6,
        |    CAST(d7 AS DOUBLE) AS o7, CAST(d8 AS DOUBLE) AS o8,
        |    CAST(d9 AS DOUBLE) AS o9 FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN n > 0 THEN
        |    (o1 - nd * 0.3010299956639812) * (o1 - nd * 0.3010299956639812) / (nd * 0.3010299956639812)
        |    + (o2 - nd * 0.17609125905568124) * (o2 - nd * 0.17609125905568124) / (nd * 0.17609125905568124)
        |    + (o3 - nd * 0.12493873660829992) * (o3 - nd * 0.12493873660829992) / (nd * 0.12493873660829992)
        |    + (o4 - nd * 0.09691001300805642) * (o4 - nd * 0.09691001300805642) / (nd * 0.09691001300805642)
        |    + (o5 - nd * 0.07918124604762482) * (o5 - nd * 0.07918124604762482) / (nd * 0.07918124604762482)
        |    + (o6 - nd * 0.06694678963061322) * (o6 - nd * 0.06694678963061322) / (nd * 0.06694678963061322)
        |    + (o7 - nd * 0.05799194697768673) * (o7 - nd * 0.05799194697768673) / (nd * 0.05799194697768673)
        |    + (o8 - nd * 0.05115252244738129) * (o8 - nd * 0.05115252244738129) / (nd * 0.05115252244738129)
        |    + (o9 - nd * 0.04575749056067514) * (o9 - nd * 0.04575749056067514) / (nd * 0.04575749056067514)
        |  END AS chi2,
        |  CASE WHEN n > 0 THEN
        |    (abs(o1 / nd - 0.3010299956639812)
        |    + abs(o2 / nd - 0.17609125905568124)
        |    + abs(o3 / nd - 0.12493873660829992)
        |    + abs(o4 / nd - 0.09691001300805642)
        |    + abs(o5 / nd - 0.07918124604762482)
        |    + abs(o6 / nd - 0.06694678963061322)
        |    + abs(o7 / nd - 0.05799194697768673)
        |    + abs(o8 / nd - 0.05115252244738129)
        |    + abs(o9 / nd - 0.04575749056067514)) / 9.0
        |  END AS mad
        |FROM t""".stripMargin)),

    // ---- profiling: functional-dependency check — does
    //      l_partkey → l_suppkey hold, and where does it break ----
    // majority pick with the (count DESC, value ASC) total order; the
    // dependent compares as VARCHAR on both engines
    Gate("q252_fd_profile", (s, dir) =>
      Quality.functionalDependency(
        t(s, dir, "lineitem").filter(col("l_partkey").isNotNull),
        Seq("l_partkey"), "l_suppkey"), Sql(
      """WITH g AS (SELECT l_partkey, CAST(l_suppkey AS VARCHAR) AS dep,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
        |    ORDER BY c DESC, dep ASC NULLS LAST) AS rk FROM g)
        |SELECT l_partkey, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct_dep,
        |  max(CASE WHEN rk = 1 THEN dep END) AS majority_dep,
        |  CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT)
        |    AS majority_support,
        |  CAST(sum(c) - max(CASE WHEN rk = 1 THEN c END) AS BIGINT)
        |    AS n_violations
        |FROM r GROUP BY 1""".stripMargin)),

    // ---- privacy: ε-DP counts with seed-deterministic Laplace
    //      noise — reproducible releases, engine-exact ----
    // same exact u, 9-digit ln, pinned Laplace closing (b = 2 at
    // epsilon 0.5)
    Gate("q264_dp_counts", (s, dir) =>
      graft.quality.Privacy.dpCounts(t(s, dir, "events"),
        Seq("event_type"), epsilon = 0.5, seed = "dp1"), Sql(
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |x AS (SELECT *,
        |    CAST(('0x' || substr(md5(coalesce(CAST(event_type AS VARCHAR),
        |      chr(1)) || 'dp1'), 1, 8))::BIGINT AS DOUBLE) /
        |      CAST(4294967296 AS DOUBLE) AS u
        |  FROM m),
        |y AS (SELECT event_type, n, u,
        |    greatest(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) * abs(u - 0.5),
        |      0.000000000001) AS arg,
        |    CASE WHEN u - 0.5 >= 0 THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(-1 AS DOUBLE) END AS sgn
        |  FROM x)
        |SELECT event_type, n,
        |  CAST(n AS DOUBLE) +
        |    CAST(-2 AS DOUBLE) * sgn * round(ln(arg), 9) AS n_noisy
        |FROM y""".stripMargin)),

    // ---- quality: declarative expectation-suite runner — the
    //      validator's rule table as DATA, one aggregation pass,
    //      per-expectation typed report ----
    // expectation-suite replay: every check recomputed from scratch
    // as one aggregate CTE + one UNION ALL branch per expectation;
    // the mean rides the same DECIMAL(32,6)-sum / count pinned
    // division (VARCHAR-routed), rates are one division each
    Gate("q407_expectations", (s, dir) => {
      import graft.quality.Quality.Expectation
      graft.quality.Quality.expectations(t(s, dir, "events"), Seq(
        Expectation("event ids unique", "unique", "event_id"),
        Expectation("ts set", "not_null", "ts"),
        Expectation("value range", "between", "value",
          lo = Some(0.0), hi = Some(150.0), maxViolationRate = 0.5),
        Expectation("types in vocab", "in_set", "event_type",
          values = Seq("view", "click", "purchase", "signup")),
        Expectation("type shape", "matches", "event_type",
          values = Seq("^[a-z_]+$")),
        Expectation("rows", "row_count_between", lo = Some(1.0)),
        Expectation("user cardinality", "distinct_count_between",
          "user_id", lo = Some(1.0), hi = Some(20000.0)),
        Expectation("mean value", "mean_between", "value",
          lo = Some(0.0), hi = Some(1000.0)),
        Expectation("props exists", "exists", "props")))
    }, Sql(
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(event_id) AS BIGINT) AS nn_id,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS d_id,
        |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_ts,
        |    CAST(sum(CASE WHEN value IS NOT NULL AND
        |      (CAST(value AS DOUBLE) < 0.0 OR
        |       CAST(value AS DOUBLE) > 150.0) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_rng,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL AND
        |      event_type NOT IN ('view','click','purchase','signup')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL AND NOT
        |      regexp_matches(event_type, '^[a-z_]+$')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_rx,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS d_usr,
        |    CASE WHEN count(value) > 0 THEN
        |      CAST(CAST(sum(CAST(value AS DECIMAL(32,6))) AS VARCHAR)
        |        AS DOUBLE) / CAST(count(value) AS DOUBLE) END AS mv
        |  FROM events)
        |SELECT 'event ids unique' AS name, 'unique' AS kind,
        |  'event_id' AS "column", n AS n_rows,
        |  nn_id - d_id AS violations,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS violation_rate,
        |  CAST(NULL AS DOUBLE) AS observed,
        |  n = 0 OR CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE)
        |    <= 0.0 AS passed,
        |  'duplicated non-null event_id values' AS detail FROM a
        |UNION ALL SELECT 'ts set', 'not_null', 'ts', n, v_ts,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'null ts' FROM a
        |UNION ALL SELECT 'value range', 'between', 'value', n, v_rng,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) <= 0.5,
        |  'value in [0.0, 150.0]' FROM a
        |UNION ALL SELECT 'types in vocab', 'in_set', 'event_type', n,
        |  v_set,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_set AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_set AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'event_type outside the allowed set' FROM a
        |UNION ALL SELECT 'type shape', 'matches', 'event_type', n,
        |  v_rx,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_rx AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_rx AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'event_type not matching ^[a-z_]+$' FROM a
        |UNION ALL SELECT 'rows', 'row_count_between', '', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(n AS DOUBLE), CAST(n AS DOUBLE) >= 1.0,
        |  'row count >= 1.0' FROM a
        |UNION ALL SELECT 'user cardinality', 'distinct_count_between',
        |  'user_id', n, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(d_usr AS DOUBLE),
        |  CAST(d_usr AS DOUBLE) >= 1.0 AND
        |    CAST(d_usr AS DOUBLE) <= 20000.0,
        |  'distinct user_id in [1.0, 20000.0]' FROM a
        |UNION ALL SELECT 'mean value', 'mean_between', 'value', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), mv,
        |  mv IS NOT NULL AND mv >= 0.0 AND mv <= 1000.0,
        |  'mean value (1e-6 grid) in [0.0, 1000.0]' FROM a
        |UNION ALL SELECT 'props exists', 'exists', 'props', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS DOUBLE), TRUE,
        |  'column props present in schema' FROM a""".stripMargin)),

    // ---- quality: the expectation suite PER SEGMENT — one report
    //      row per (event_type, expectation), fully distributed ----
    Gate("q408_expectations_by_key", (s, dir) => {
      import graft.quality.Quality.Expectation
      graft.quality.Quality.expectationsByKey(t(s, dir, "events"),
        Seq("event_type"), Seq(
          Expectation("event ids unique", "unique", "event_id"),
          Expectation("ts set", "not_null", "ts"),
          Expectation("value range", "between", "value",
            lo = Some(0.0), hi = Some(150.0), maxViolationRate = 0.5),
          Expectation("segment size", "row_count_between",
            lo = Some(100.0)),
          Expectation("user cardinality", "distinct_count_between",
            "user_id", lo = Some(1.0), hi = Some(20000.0)),
          Expectation("mean value", "mean_between", "value",
            lo = Some(0.0), hi = Some(1000.0))))
    }, Sql(
      """WITH a AS (SELECT event_type AS k,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(event_id) AS BIGINT) AS nn_id,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS d_id,
        |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_ts,
        |    CAST(sum(CASE WHEN value IS NOT NULL AND
        |      (CAST(value AS DOUBLE) < 0.0 OR
        |       CAST(value AS DOUBLE) > 150.0) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_rng,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS d_usr,
        |    CASE WHEN count(value) > 0 THEN
        |      CAST(CAST(sum(CAST(value AS DECIMAL(32,6))) AS VARCHAR)
        |        AS DOUBLE) / CAST(count(value) AS DOUBLE) END AS mv
        |  FROM events GROUP BY 1)
        |SELECT k AS event_type, 'event ids unique' AS name,
        |  'unique' AS kind, 'event_id' AS "column", n AS n_rows,
        |  nn_id - d_id AS violations,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS violation_rate,
        |  CAST(NULL AS DOUBLE) AS observed,
        |  n = 0 OR CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE)
        |    <= 0.0 AS passed,
        |  'duplicated non-null event_id values' AS detail FROM a
        |UNION ALL SELECT k, 'ts set', 'not_null', 'ts', n, v_ts,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'null ts' FROM a
        |UNION ALL SELECT k, 'value range', 'between', 'value', n,
        |  v_rng,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) <= 0.5,
        |  'value in [0.0, 150.0]' FROM a
        |UNION ALL SELECT k, 'segment size', 'row_count_between', '',
        |  n, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(n AS DOUBLE), CAST(n AS DOUBLE) >= 100.0,
        |  'row count >= 100.0' FROM a
        |UNION ALL SELECT k, 'user cardinality',
        |  'distinct_count_between', 'user_id', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(d_usr AS DOUBLE),
        |  CAST(d_usr AS DOUBLE) >= 1.0 AND
        |    CAST(d_usr AS DOUBLE) <= 20000.0,
        |  'distinct user_id in [1.0, 20000.0]' FROM a
        |UNION ALL SELECT k, 'mean value', 'mean_between', 'value', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), mv,
        |  mv IS NOT NULL AND mv >= 0.0 AND mv <= 1000.0,
        |  'mean value (1e-6 grid) in [0.0, 1000.0]' FROM a""".stripMargin)),

    // ---- quality: SUGGEST an expectation suite from the data —
    //      the profile → suite → evaluate onboarding loop; suite
    //      rows are data (expectationsFrom's input schema) ----
    // per-segment suite replay: one per-key aggregate CTE, one UNION
    // ALL branch per expectation; rates/means pinned single divisions
    // Suggested-suite replay: per-column exact stats in one scan,
    // conditional in_set/unique rows data-driven exactly like the
    // engine (exact distinct decides; the approx screen's 4x+16 /
    // 0.8x margins can never flip a decision), identical IEEE
    // expression order for the widened bounds
    Gate("q410_suggest_expectations", (s, dir) =>
      graft.quality.Quality.suggestExpectations(t(s, dir, "orders"))
        .select(col("name"), col("kind"), col("column"),
          col("lo"), col("hi"),
          array_join(col("values"), ",").as("values_csv"),
          col("max_violation_rate")), Sql(
      """WITH s AS (SELECT count(*) AS n,
        |    count(o_orderkey) AS nn_ok, count(DISTINCT o_orderkey) AS d_ok,
        |    CAST(min(o_orderkey) AS DOUBLE) AS mn_ok,
        |    CAST(max(o_orderkey) AS DOUBLE) AS mx_ok,
        |    count(o_custkey) AS nn_ck, count(DISTINCT o_custkey) AS d_ck,
        |    CAST(min(o_custkey) AS DOUBLE) AS mn_ck,
        |    CAST(max(o_custkey) AS DOUBLE) AS mx_ck,
        |    count(o_orderstatus) AS nn_os,
        |    count(DISTINCT o_orderstatus) AS d_os,
        |    count(o_totalprice) AS nn_tp,
        |    count(DISTINCT o_totalprice) AS d_tp,
        |    CAST(min(o_totalprice) AS DOUBLE) AS mn_tp,
        |    CAST(max(o_totalprice) AS DOUBLE) AS mx_tp,
        |    count(o_orderdate) AS nn_od,
        |    count(DISTINCT o_orderdate) AS d_od,
        |    count(o_orderpriority) AS nn_op,
        |    count(DISTINCT o_orderpriority) AS d_op
        |  FROM orders),
        |vos AS (SELECT string_agg(v, ',' ORDER BY v) AS csv FROM
        |  (SELECT DISTINCT CAST(o_orderstatus AS VARCHAR) AS v
        |   FROM orders WHERE o_orderstatus IS NOT NULL)),
        |vop AS (SELECT string_agg(v, ',' ORDER BY v) AS csv FROM
        |  (SELECT DISTINCT CAST(o_orderpriority AS VARCHAR) AS v
        |   FROM orders WHERE o_orderpriority IS NOT NULL))
        |SELECT name, kind, "column", lo, hi, values_csv,
        |  max_violation_rate FROM (
        |SELECT 'row count' AS name, 'row_count_between' AS kind,
        |  '' AS "column", floor(n * (1.0 - 0.05)) AS lo,
        |  ceil(n * (1.0 + 0.05)) AS hi, '' AS values_csv,
        |  0.0 AS max_violation_rate FROM s
        |UNION ALL SELECT 'o_orderkey exists', 'exists', 'o_orderkey',
        |  NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderkey not_null', 'not_null',
        |  'o_orderkey', NULL, NULL, '',
        |  CASE WHEN n - nn_ok = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_ok AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderkey between', 'between', 'o_orderkey',
        |  mn_ok - 0.05 * (mx_ok - mn_ok),
        |  mx_ok + 0.05 * (mx_ok - mn_ok), '', 0.0 FROM s
        |  WHERE nn_ok > 0
        |UNION ALL SELECT 'o_orderkey unique', 'unique', 'o_orderkey',
        |  NULL, NULL, '', 0.0 FROM s WHERE nn_ok > 0 AND d_ok = nn_ok
        |UNION ALL SELECT 'o_custkey exists', 'exists', 'o_custkey',
        |  NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_custkey not_null', 'not_null', 'o_custkey',
        |  NULL, NULL, '',
        |  CASE WHEN n - nn_ck = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_ck AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_custkey between', 'between', 'o_custkey',
        |  mn_ck - 0.05 * (mx_ck - mn_ck),
        |  mx_ck + 0.05 * (mx_ck - mn_ck), '', 0.0 FROM s
        |  WHERE nn_ck > 0
        |UNION ALL SELECT 'o_custkey unique', 'unique', 'o_custkey',
        |  NULL, NULL, '', 0.0 FROM s WHERE nn_ck > 0 AND d_ck = nn_ck
        |UNION ALL SELECT 'o_orderstatus exists', 'exists',
        |  'o_orderstatus', NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderstatus not_null', 'not_null',
        |  'o_orderstatus', NULL, NULL, '',
        |  CASE WHEN n - nn_os = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_os AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderstatus in_set', 'in_set',
        |  'o_orderstatus', NULL, NULL, (SELECT csv FROM vos), 0.0
        |  FROM s WHERE d_os BETWEEN 1 AND 20
        |UNION ALL SELECT 'o_orderstatus unique', 'unique',
        |  'o_orderstatus', NULL, NULL, '', 0.0 FROM s
        |  WHERE nn_os > 0 AND d_os = nn_os
        |UNION ALL SELECT 'o_totalprice exists', 'exists',
        |  'o_totalprice', NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_totalprice not_null', 'not_null',
        |  'o_totalprice', NULL, NULL, '',
        |  CASE WHEN n - nn_tp = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_tp AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_totalprice between', 'between',
        |  'o_totalprice', mn_tp - 0.05 * (mx_tp - mn_tp),
        |  mx_tp + 0.05 * (mx_tp - mn_tp), '', 0.0 FROM s
        |  WHERE nn_tp > 0
        |UNION ALL SELECT 'o_totalprice unique', 'unique',
        |  'o_totalprice', NULL, NULL, '', 0.0 FROM s
        |  WHERE nn_tp > 0 AND d_tp = nn_tp
        |UNION ALL SELECT 'o_orderdate exists', 'exists', 'o_orderdate',
        |  NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderdate not_null', 'not_null',
        |  'o_orderdate', NULL, NULL, '',
        |  CASE WHEN n - nn_od = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_od AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderdate unique', 'unique', 'o_orderdate',
        |  NULL, NULL, '', 0.0 FROM s WHERE nn_od > 0 AND d_od = nn_od
        |UNION ALL SELECT 'o_orderpriority exists', 'exists',
        |  'o_orderpriority', NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderpriority not_null', 'not_null',
        |  'o_orderpriority', NULL, NULL, '',
        |  CASE WHEN n - nn_op = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_op AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderpriority in_set', 'in_set',
        |  'o_orderpriority', NULL, NULL, (SELECT csv FROM vop), 0.0
        |  FROM s WHERE d_op BETWEEN 1 AND 20
        |UNION ALL SELECT 'o_orderpriority unique', 'unique',
        |  'o_orderpriority', NULL, NULL, '', 0.0 FROM s
        |  WHERE nn_op > 0 AND d_op = nn_op
        |)""".stripMargin)),

    // ---- integrity: order-independent table fingerprint — MD5 row
    //      digests reduced by XOR + modular sum + extremes ----
    // identical canonical row string both sides; 60-bit md5 lane via
    // DuckDB's hex cast / Spark's conv; XOR + mod-2⁶¹−1 sum + extremes
    Gate("q273_fingerprint", (s, dir) =>
      graft.quality.Quality.tableFingerprint(t(s, dir, "lineitem"),
        Seq("l_returnflag"),
        Seq("l_orderkey", "l_linenumber", "l_linestatus")), Sql(
      """WITH r AS (SELECT l_returnflag,
        |    md5(coalesce(CAST(l_orderkey AS VARCHAR), chr(1)) || '|' ||
        |        coalesce(CAST(l_linenumber AS VARCHAR), chr(1)) || '|' ||
        |        coalesce(l_linestatus, chr(1))) AS hx
        |  FROM lineitem),
        |h AS (SELECT l_returnflag,
        |    CAST('0x' || substr(hx, 1, 15) AS BIGINT) AS hv FROM r)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(bit_xor(hv) AS BIGINT) AS xor_sig,
        |  CAST(sum(hv) % 2305843009213693951 AS BIGINT) AS sum_sig,
        |  min(hv) AS min_sig, max(hv) AS max_sig
        |FROM h GROUP BY 1""".stripMargin)),

    // ---- ops diagnostics: key-skew profile — top-k heavy values
    //      per candidate join/groupBy key with exact shares ----
    // same melt → grid → rank-with-value-tie-break → totals join
    Gate("q284_skew_profile", (s, dir) =>
      Quality.skewProfile(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_suppkey"), k = 10), Sql(
      """WITH m AS (
        |  SELECT 'l_returnflag' AS "column",
        |      CAST(l_returnflag AS VARCHAR) AS value
        |    FROM lineitem WHERE l_returnflag IS NOT NULL
        |  UNION ALL SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR)
        |    FROM lineitem WHERE l_linestatus IS NOT NULL
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
        |    FROM lineitem WHERE l_suppkey IS NOT NULL),
        |g AS (SELECT "column", value, CAST(count(*) AS BIGINT) AS n
        |  FROM m GROUP BY 1, 2),
        |t AS (SELECT "column", CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_distinct FROM g GROUP BY 1),
        |r AS (SELECT g.*, row_number() OVER (PARTITION BY "column"
        |    ORDER BY n DESC, value ASC) AS rank FROM g)
        |SELECT r."column", r.value, r.n, CAST(r.rank AS INT) AS rank,
        |  CAST(r.n AS DOUBLE) / CAST(t.n_rows AS DOUBLE) AS share,
        |  t.n_rows, t.n_distinct
        |FROM r JOIN t ON r."column" = t."column" WHERE r.rank <= 10""".stripMargin)),

    // ---- data quality: null-pattern co-occurrence histogram — which
    //      fields go missing TOGETHER ----
    // literal 0/1 null-indicator string, one grouped count, share over
    // the collapsed grid, count-desc/pattern total-order rank
    Gate("q302_missingness", (s, dir) =>
      Quality.missingnessPatterns(t(s, dir, "events"),
        Seq("user_id", "event_type", "value", "props")), Sql(
      """WITH p AS (SELECT 'user_id='
        |    || (CASE WHEN user_id IS NULL THEN '0' ELSE '1' END)
        |    || ',event_type='
        |    || (CASE WHEN event_type IS NULL THEN '0' ELSE '1' END)
        |    || ',value='
        |    || (CASE WHEN value IS NULL THEN '0' ELSE '1' END)
        |    || ',props='
        |    || (CASE WHEN props IS NULL THEN '0' ELSE '1' END)
        |    AS pattern FROM events),
        |g AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1),
        |t AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tot FROM g)
        |SELECT pattern, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  CAST(row_number() OVER (ORDER BY n DESC, pattern) AS INT)
        |    AS "rank"
        |FROM t""".stripMargin)),

    // ---- privacy: l-diversity audit — QI classes whose sensitive
    //      column has too few distinct values (k-anonymous ≠ safe) ----
    // same grouped distinct-count audit, HAVING the at-risk filter
    Gate("q304_l_diversity", (s, dir) =>
      Quality.lDiversity(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", l = 10), Sql(
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct
        |FROM customer GROUP BY 1, 2
        |HAVING count(DISTINCT c_acctbal) < 10""".stripMargin))
  )
}
