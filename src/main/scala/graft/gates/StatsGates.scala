package graft
package gates

import org.apache.spark.sql.functions._

import graft.llm.{TextAnalysis => TA}

import GateSupport._
import Oracle.Sql

/** `graft.agg.Stats` estimators: correlation and regression,
 *  agreement, inequality and concentration indices, information
 *  measures, model-evaluation metrics and experiment estimators. */
private[graft] object StatsGates {

  val gates: Seq[Gate] = Seq(
    // ---- stats: exact-decimal Pearson matrix over the lineitem
    //      money columns, ONE aggregation pass ----
    // exact decimal moments cast once to double, pinned formula order
    Gate("q162_corr_matrix", (s, dir) =>
      graft.agg.Stats.pearsonMatrix(t(s, dir, "lineitem"),
        Seq(("l_quantity", 2), ("l_extendedprice", 2), ("l_discount", 2))), Sql {
      val pairs = Seq(("q", "l_quantity", "e", "l_extendedprice"),
        ("q", "l_quantity", "dd", "l_discount"),
        ("e", "l_extendedprice", "dd", "l_discount"))
      def nd = "CAST(n AS DOUBLE)"
      def v(a: String) =
        s"($nd * CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))"
      def cov(a: String, b: String) =
        s"($nd * CAST(sxy_${a}_$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))"
      val selects = pairs.map { case (a, an, b, bn) =>
        s"""SELECT '$an' AS col_x, '$bn' AS col_y, n,
           |  CASE WHEN ${v(a)} > 0 AND ${v(b)} > 0
           |    THEN ${cov(a, b)} / (sqrt(${v(a)}) * sqrt(${v(b)})) END AS corr
           |FROM m""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "")
      s"""WITH b AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS q,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS e,
        |    CAST(l_discount AS DECIMAL(18,2)) AS dd
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(q) AS s_q, sum(e) AS s_e, sum(dd) AS s_dd,
        |    sum(q * q) AS ss_q, sum(e * e) AS ss_e, sum(dd * dd) AS ss_dd,
        |    sum(q * e) AS sxy_q_e, sum(q * dd) AS sxy_q_dd,
        |    sum(e * dd) AS sxy_e_dd FROM b)$selects""".stripMargin
    }),

    // ---- stats: per-type OLS trend of event value over time
    //      (exact decimal moments, pinned closing arithmetic) ----
    // x = floor epoch seconds (epoch_ms // 1000 — exact integers);
    // same decimal-moment discipline as q162
    Gate("q163_linreg", (s, dir) =>
      graft.agg.Stats.linearFit(
        t(s, dir, "events")
          .withColumn("__x", unix_timestamp(col("ts"))),
        Seq("event_type"), "__x", "value", xScale = 0, yScale = 2), Sql(
      """WITH b AS (SELECT event_type,
        |    CAST(epoch_ms(ts) // 1000 AS DECIMAL(19,0)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) END AS intercept,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS corr
        |FROM m""".stripMargin)),

    // ---- stats: Spearman rank correlation per return flag —
    //      monotonic association of quantity vs price, tie-averaged
    //      ranks on the exact integer grid ----
    // doubled average rank from both sort directions
    // (rank_asc + n − rank_desc + 1), exact decimal moments, pearson
    // closing composition
    Gate("q212_spearman", (s, dir) =>
      graft.agg.Stats.spearman(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice"), Sql(
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |r AS (SELECT l_returnflag,
        |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY x ASC)
        |      + count(*) OVER (PARTITION BY l_returnflag)
        |      - rank() OVER (PARTITION BY l_returnflag ORDER BY x DESC)
        |      + 1 AS BIGINT) AS rx,
        |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY y ASC)
        |      + count(*) OVER (PARTITION BY l_returnflag)
        |      - rank() OVER (PARTITION BY l_returnflag ORDER BY y DESC)
        |      + 1 AS BIGINT) AS ry
        |  FROM b),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(rx AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(ry AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(rx * ry AS DECIMAL(38,0))) AS sxy,
        |    sum(CAST(rx * rx AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(ry * ry AS DECIMAL(38,0))) AS syy
        |  FROM r GROUP BY 1),
        |d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0
        |    THEN (nd * sxyd - sxd * syd) / (sqrt(nd * sxxd - sxd * sxd)
        |      * sqrt(nd * syyd - syd * syd)) END AS rho
        |FROM d""".stripMargin)),

    // ---- eval: Cohen's kappa per source between the labeled lang
    //      and the n-gram language-ID prediction — chance-corrected
    //      classifier agreement ----
    // the q23 language-ID prediction replayed, then the exact-count
    // contingency/marginal kappa with the pinned division chain
    Gate("q215_judge_kappa", (s, dir) =>
      graft.agg.Stats.cohenKappa(
        t(s, dir, "documents").withColumn("pred", TA.langId(col("text"))),
        Seq("source"), "lang", "pred"), Sql(
      """WITH t AS (SELECT source, lang,
        |    list_distinct(string_split_regex(text, '\s+')) AS dw
        |  FROM documents),
        |h AS (SELECT source, lang,
        |  CAST(len(list_intersect(dw, ['the','and','of','to','in','is','that','it','with','for'])) AS BIGINT) AS en_hits,
        |  CAST(len(list_intersect(dw, ['el','la','de','que','y','en','un','los','por','con'])) AS BIGINT) AS es_hits,
        |  CAST(len(list_intersect(dw, ['der','die','und','das','ist','von','mit','den','ein','nicht'])) AS BIGINT) AS de_hits,
        |  CAST(len(list_intersect(dw, ['le','la','de','et','un','les','des','en','que','pour'])) AS BIGINT) AS fr_hits
        | FROM t),
        |pr AS (SELECT source, CAST(lang AS VARCHAR) AS r1,
        |  CASE WHEN en_hits = g AND en_hits > 0 THEN 'en'
        |       WHEN es_hits = g AND es_hits > 0 THEN 'es'
        |       WHEN de_hits = g AND de_hits > 0 THEN 'de'
        |       WHEN fr_hits = g AND fr_hits > 0 THEN 'fr'
        |       ELSE 'und' END AS r2
        |  FROM (SELECT *, greatest(en_hits, es_hits, de_hits, fr_hits) AS g
        |        FROM h)
        |  WHERE lang IS NOT NULL),
        |cont AS (SELECT source, r1, r2, CAST(count(*) AS BIGINT) AS c
        |         FROM pr GROUP BY 1, 2, 3),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN r1 = r2 THEN c ELSE 0 END) AS BIGINT) AS agree
        |  FROM cont GROUP BY 1),
        |m1 AS (SELECT source, r1 AS cat, CAST(sum(c) AS BIGINT) AS c1
        |       FROM cont GROUP BY 1, 2),
        |m2 AS (SELECT source, r2 AS cat, CAST(sum(c) AS BIGINT) AS c2
        |       FROM cont GROUP BY 1, 2),
        |pe AS (SELECT source, sum(CAST(c1 * c2 AS DECIMAL(38,0))) AS pen
        |       FROM m1 JOIN m2 USING (source, cat) GROUP BY 1),
        |d AS (SELECT tot.source, n,
        |    CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    CAST(pen AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        |  FROM tot JOIN pe USING (source))
        |SELECT source, n, po, pe,
        |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
        |FROM d""".stripMargin)),

    // ---- audit: revenue concentration — Gini per return flag on the
    //      exact cent-grid rank identity ----
    // the exact tie-run rank identity: a value run of count c ending
    // at cum contributes v*c*(2*cum-c+1) to 2*sum(i*x)
    Gate("q220_gini", (s, dir) =>
      graft.agg.Stats.gini(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice"), Sql(
      """WITH b AS (SELECT l_returnflag,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) >= 0),
        |g AS (SELECT l_returnflag, v, CAST(count(*) AS BIGINT) AS c
        |      FROM b GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY l_returnflag
        |      ORDER BY v) AS BIGINT) AS cum FROM g),
        |m AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(v AS DECIMAL(19,0))
        |      * CAST(c * (2 * cum - c + 1) AS DECIMAL(19,0))) AS s2,
        |    sum(CAST(v AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sx
        |  FROM r GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN sx > 0 THEN
        |    (CAST(s2 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END AS gini
        |FROM m""".stripMargin)),

    // ---- eval: mutual information + entropies + NMI between the
    //      label and source columns (does source leak the label?) ----
    // exact contingency + marginals; per-cell pinned
    // round(p*ln(c*n/(m1*m2)), 9) and round-9 entropies summed in
    // decimal (the JSD discipline)
    Gate("q225_mutual_info", (s, dir) =>
      graft.agg.Stats.mutualInfo(t(s, dir, "documents"),
        Seq.empty, "lang", "source"), Sql(
      """WITH base AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS b
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cont AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
        |         FROM base GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cont),
        |m1 AS (SELECT a, CAST(sum(c) AS BIGINT) AS c1 FROM cont GROUP BY 1),
        |m2 AS (SELECT b, CAST(sum(c) AS BIGINT) AS c2 FROM cont GROUP BY 1),
        |cells AS (SELECT c, c1, c2, n FROM cont
        |          JOIN m1 USING (a) JOIN m2 USING (b) CROSS JOIN tot),
        |mi AS (SELECT CAST(min(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
        |        / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 9)
        |      AS DECIMAL(12,9))) AS DOUBLE) AS mi
        |  FROM cells),
        |ha AS (SELECT CAST(sum(CAST(-round(
        |    (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_a
        |  FROM m1 CROSS JOIN tot),
        |hb AS (SELECT CAST(sum(CAST(-round(
        |    (CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_b
        |  FROM m2 CROSS JOIN tot)
        |SELECT n, mi, h_a, h_b,
        |  CASE WHEN h_a > 0 AND h_b > 0
        |    THEN mi / (sqrt(h_a) * sqrt(h_b)) END AS nmi
        |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin)),

    // ---- robust stats: stride-sampled Theil-Sen value trend per
    //      event type (median-of-slopes — outliers can't move it) ----
    // rank by (x, event_id); pairs at rank+stride; discrete median
    // of the sampled slopes (rank ceil(n/2))
    Gate("q226_theil_sen", (s, dir) =>
      graft.agg.Stats.theilSen(
        t(s, dir, "events")
          .withColumn("__x", unix_timestamp(col("ts"))),
        Seq("event_type"), "__x", "value", "event_id",
        xScale = 0, yScale = 2), Sql(
      """WITH b AS (SELECT event_type,
        |    CAST(epoch_ms(ts) // 1000 AS DECIMAL(18,0)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y, event_id
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY x, event_id) AS BIGINT) AS rk FROM b),
        |p AS (SELECT l.event_type, l.x, l.y, rr.x AS x2, rr.y AS y2
        |  FROM (SELECT r.*, unnest([1, 2, 3, 5, 8, 13, 21]) AS s FROM r) l
        |  JOIN r rr ON rr.event_type = l.event_type
        |    AND rr.rk = l.rk + l.s
        |  WHERE rr.x <> l.x),
        |sl AS (SELECT event_type,
        |    CAST(y2 - y AS DOUBLE) / CAST(x2 - x AS DOUBLE) AS slope
        |  FROM p),
        |rk2 AS (SELECT event_type, slope,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope) AS BIGINT) AS r
        |  FROM sl)
        |SELECT event_type, n AS n_pairs, slope
        |FROM rk2
        |WHERE r * 2 = n + 1 OR (n % 2 = 0 AND r * 2 = n)""".stripMargin)),

    // ---- stats: Kendall tau-b per (flag, ship month) — concordance
    //      of quantity vs price with full tie corrections; the engine
    //      counts discordant pairs in O(n log n), the oracle replays
    //      the textbook O(n²) sweep ----
    // the textbook O(n²) concordance sweep the engine's O(n log n)
    // mergesort must reproduce exactly: per unordered pair, x-tie /
    // y-tie / both / strict-discordant counts on the cent grid
    Gate("q240_kendall_tau", (s, dir) =>
      graft.agg.Stats.kendallTau(
        t(s, dir, "lineitem").filter(col("l_shipdate").isNotNull)
          .withColumn("ship_month", trunc(col("l_shipdate"), "month")),
        Seq("l_returnflag", "ship_month"),
        "l_quantity", "l_extendedprice"), Sql(
      """WITH b AS (SELECT l_returnflag,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    row_number() OVER () AS rid
        |  FROM lineitem WHERE l_shipdate IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |grp AS (SELECT l_returnflag, ship_month, CAST(count(*) AS BIGINT) AS n
        |        FROM b GROUP BY 1, 2),
        |ps AS (SELECT t1.l_returnflag, t1.ship_month,
        |    CAST(sum(CASE WHEN t1.x = t2.x THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t1.y = t2.y THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN t1.x = t2.x AND t1.y = t2.y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN (t1.x - t2.x) * (t1.y - t2.y) < 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS disc
        |  FROM b t1 JOIN b t2 ON t2.l_returnflag = t1.l_returnflag
        |    AND t2.ship_month = t1.ship_month AND t1.rid < t2.rid
        |  GROUP BY 1, 2),
        |j AS (SELECT g.l_returnflag, g.ship_month, g.n,
        |    n * (n - 1) / 2 AS n0,
        |    coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
        |    coalesce(n3, 0) AS n3, coalesce(disc, 0) AS disc
        |  FROM grp g LEFT JOIN ps ON ps.l_returnflag = g.l_returnflag
        |    AND ps.ship_month = g.ship_month),
        |s AS (SELECT *, n0 - n1 - n2 + n3 - 2 * disc AS st FROM j)
        |SELECT l_returnflag, ship_month, n, CAST(n0 AS BIGINT) AS n0,
        |  n1, n2, n3, disc AS discordant, CAST(st AS BIGINT) AS s,
        |  CASE WHEN n0 - n1 > 0 AND n0 - n2 > 0
        |    THEN CAST(st AS DOUBLE) /
        |      sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
        |  END AS tau_b
        |FROM s""".stripMargin)),

    // ---- model eval: calibration curve per event type over a
    //      deterministic hash-derived probability vs the value>=50
    //      outcome ----
    // the u/2^32 probability is an exact double; Σ round(p,9) decimal,
    // pinned closings
    Gate("q253_calibration", (s, dir) =>
      graft.agg.Stats.calibration(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y", bins = 10), Sql(
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CAST(round(p, 9) AS DECIMAL(18,9)) AS p9,
        |    CASE WHEN y THEN 1 ELSE 0 END AS pos
        |  FROM e WHERE p >= 0 AND p <= 1),
        |m AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
        |    sum(p9) AS sp, CAST(sum(pos) AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2)
        |SELECT event_type, bin, n,
        |  CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS mean_p,
        |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
        |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) -
        |    CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS gap
        |FROM m""".stripMargin)),

    // ---- model eval: Brier score — calibration's scalar companion,
    //      exact decimal residual squares ----
    // exact decimal residual squares; the sum snapped to the 1e-6
    // grid before its ONE double cast (`Snap.truncated`)
    Gate("q254_brier", (s, dir) =>
      graft.agg.Stats.brierScore(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y"), Sql(
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    CAST(round(p, 9) AS DECIMAL(18,9)) -
        |      CAST(CASE WHEN y THEN 1 ELSE 0 END AS DECIMAL(18,9)) AS d
        |  FROM e WHERE p >= 0 AND p <= 1),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(d * d AS DECIMAL(38,18))) AS ss
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN n > 0 THEN
        |    CAST(CAST(ss - (ss % 0.000001) AS DECIMAL(38,6)) AS DOUBLE)
        |      / CAST(n AS DOUBLE) END AS brier
        |FROM m""".stripMargin)),

    // ---- A/B metrics: ratio-of-sums (price per unit) with a
    //      delta-method CI — five exact decimal moments, integer-
    //      snapped (money magnitudes), one pinned closing chain ----
    // five exact decimal moments, integer-snapped before the one
    // double cast (2^53-units rule), pinned delta-method chain
    Gate("q267_ratio_metric", (s, dir) =>
      graft.agg.Stats.ratioOfSums(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        momentSnapScale = 0), Sql(
      """WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,6)))
        |      AS sxy0,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sxx0,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,6)))
        |      AS syy0
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL GROUP BY 1),
        |c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(CAST(sxy0 - (sxy0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
        |    CAST(CAST(sxx0 - (sxx0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 - (syy0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS syy
        |  FROM m),
        |v AS (SELECT *, syd / sxd AS r FROM c),
        |z AS (SELECT *, greatest(syy - CAST(2 AS DOUBLE) * r * sxy +
        |      r * r * sxx, CAST(0 AS DOUBLE)) AS rss FROM v),
        |s AS (SELECT *, sqrt(nd / (nd - CAST(1 AS DOUBLE)) * rss) / sxd
        |      AS se FROM z)
        |SELECT l_returnflag, n, syd AS sum_num, sxd AS sum_den,
        |  CASE WHEN sxd > 0 THEN r END AS ratio,
        |  CASE WHEN n >= 2 AND sxd > 0 THEN se END AS se,
        |  CASE WHEN n >= 2 AND sxd > 0 THEN r - 1.96 * se END AS ci_lo,
        |  CASE WHEN n >= 2 AND sxd > 0 THEN r + 1.96 * se END AS ci_hi
        |FROM s""".stripMargin)),

    // ---- ML eval: split-conformal calibration quantile — the exact
    //      ⌈(n+1)(1−α)⌉-th order statistic of the nonconformity
    //      score, the coverage-guarantee q̂ ----
    // the same exact order statistic: k = ⌈(n+1)·0.9⌉ on the integer
    // grid, tie chain ends in the unique event id
    Gate("q269_conformal", (s, dir) =>
      graft.agg.Stats.conformalQuantile(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("score", abs(col("value") - 50.0)),
        Seq("event_type"), "score", "event_id", alpha = 0.1), Sql(
      """WITH e AS (SELECT event_type, event_id, abs(value - 50.0) AS score
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY score, event_id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e),
        |k AS (SELECT *, ((n + 1) * 900000 - 1) // 1000000 + 1 AS kk FROM r)
        |SELECT event_type, max(n) AS n, CAST(max(kk) AS BIGINT) AS k,
        |  max(CASE WHEN rk = kk THEN score END) AS q_hat
        |FROM k GROUP BY 1""".stripMargin)),

    // ---- ML eval: ROC AUC by the exact rank-sum identity — integer
    //      midranks over the (status, quantity) grid, one closing
    //      division; quantity's massive ties exercise the midrank ----
    // the rank-sum AUC identity over the score grid: doubled midrank
    // 2·cum−c+1 stays integer, decimal accumulation, one closing division
    Gate("q270_roc_auc", (s, dir) =>
      graft.agg.Stats.rocAuc(
        t(s, dir, "lineitem")
          .withColumn("is_ret", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "l_quantity", "is_ret"), Sql(
      """WITH e AS (SELECT l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |g AS (SELECT l_linestatus, s, CAST(sum(y) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY l_linestatus
        |    ORDER BY s) AS BIGINT) AS cum FROM g),
        |m AS (SELECT l_linestatus, CAST(sum(c1) AS BIGINT) AS n_pos,
        |    CAST(sum(c - c1) AS BIGINT) AS n_neg,
        |    sum(CAST(CAST(c1 AS DECIMAL(19,0)) *
        |      CAST(2 * cum - c + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)))
        |      AS r2
        |  FROM r GROUP BY 1)
        |SELECT l_linestatus, n_pos, n_neg,
        |  CASE WHEN n_pos >= 1 AND n_neg >= 1 THEN
        |    (CAST(r2 AS DOUBLE) - CAST(n_pos AS DOUBLE) *
        |      (CAST(n_pos AS DOUBLE) + 1))
        |    / (2 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END
        |    AS auc
        |FROM m""".stripMargin)),

    // ---- ML eval: cumulative-gains / lift deciles per priority —
    //      exact integer bucket cut, unique-orderkey tie-break ----
    // ---- ML eval: Qini / uplift curve — liftTable's exact cut
    //      with treated/control cumulative incremental responders ----
    // rank desc with the unique-orderkey tie-break, the exact
    // ⌊(r−1)k/n⌋+1 bucket cut, integer cumulatives, pinned divisions
    // q271's rank/cut machinery split by treatment arm; pinned
    // qini/uplift closings, empty-arm-prefix guards
    Gate("q404_qini_curve", (s, dir) =>
      graft.agg.Stats.qiniCurve(
        t(s, dir, "orders")
          .withColumn("treated", pmod(col("o_orderkey"), lit(2L)) === 0L)
          .withColumn("is_f", col("o_orderstatus") === "F"),
        Seq("o_orderpriority"), "o_totalprice", "o_orderkey",
        "treated", "is_f", buckets = 10), Sql(
      """WITH e AS (SELECT o_orderpriority AS k, o_totalprice AS s,
        |    ((o_orderkey % 2) + 2) % 2 = 0 AS tr,
        |    o_orderstatus = 'F' AS y, o_orderkey AS id
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY s DESC, id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM e),
        |b AS (SELECT k, ((rk - 1) * 10) // n + 1 AS bucket, tr, y
        |  FROM r),
        |g AS (SELECT k, CAST(bucket AS BIGINT) AS bucket,
        |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN tr AND y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r_t,
        |    CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c,
        |    CAST(sum(CASE WHEN NOT tr AND y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r_c
        |  FROM b GROUP BY 1, 2),
        |c AS (SELECT *,
        |    CAST(sum(n_t) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_nt,
        |    CAST(sum(r_t) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_rt,
        |    CAST(sum(n_c) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_nc,
        |    CAST(sum(r_c) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_rc FROM g)
        |SELECT k AS o_orderpriority, bucket, n_t, r_t, n_c, r_c,
        |  cum_nt, cum_rt, cum_nc, cum_rc,
        |  CASE WHEN cum_nt > 0 AND cum_nc > 0 THEN
        |    CAST(cum_rt AS DOUBLE) - CAST(cum_rc AS DOUBLE)
        |      * CAST(cum_nt AS DOUBLE) / CAST(cum_nc AS DOUBLE) END
        |    AS qini,
        |  CASE WHEN cum_nt > 0 AND cum_nc > 0 THEN
        |    CAST(cum_rt AS DOUBLE) / CAST(cum_nt AS DOUBLE)
        |      - CAST(cum_rc AS DOUBLE) / CAST(cum_nc AS DOUBLE) END
        |    AS uplift
        |FROM c""".stripMargin)),

    Gate("q271_lift_table", (s, dir) =>
      graft.agg.Stats.liftTable(
        t(s, dir, "orders")
          .withColumn("is_f", col("o_orderstatus") === "F"),
        Seq("o_orderpriority"), "o_totalprice", "is_f", "o_orderkey",
        buckets = 10), Sql(
      """WITH e AS (SELECT o_orderpriority, o_totalprice AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |    o_orderkey AS id
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY s DESC, id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |      AS n FROM e),
        |b AS (SELECT o_orderpriority,
        |    ((rk - 1) * 10) // n + 1 AS bucket, y FROM r),
        |g AS (SELECT o_orderpriority, CAST(bucket AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2),
        |c AS (SELECT *,
        |    CAST(sum(n) OVER (PARTITION BY o_orderpriority
        |      ORDER BY bucket) AS BIGINT) AS cum_n,
        |    CAST(sum(pos) OVER (PARTITION BY o_orderpriority
        |      ORDER BY bucket) AS BIGINT) AS cum_pos,
        |    CAST(sum(n) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |      AS tot_n,
        |    CAST(sum(pos) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |      AS tot_pos FROM g)
        |SELECT o_orderpriority, bucket, n, pos, cum_n, cum_pos,
        |  CASE WHEN tot_pos > 0 THEN
        |    CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) END AS gain,
        |  CASE WHEN tot_pos > 0 THEN
        |    (CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE))
        |    / (CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)) END AS lift
        |FROM c""".stripMargin)),

    Gate("q272_cramers_v", (s, dir) =>
      graft.agg.Stats.cramersV(
        t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")).cast("long")),
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
        |    (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS t
        |  FROM grid JOIN tt USING (o_year)),
        |f AS (SELECT o_year, max(n) AS n, max(r) AS r,
        |    max(c) AS c,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(t ORDER BY a, bb)), (x, y) -> x + y) AS chisq
        |  FROM terms GROUP BY 1)
        |SELECT o_year, n, r, c, chisq,
        |  CASE WHEN n > 0 AND least(r, c) - 1 > 0 THEN
        |    sqrt(chisq / (CAST(n AS DOUBLE) *
        |      CAST(least(r, c) - 1 AS DOUBLE))) END AS v
        |FROM f""".stripMargin)),

    // ---- ML prep: exact Gini decision-stump split per status —
    //      transcendental-free closing over exact counts ----
    // the same grid/cumulative machinery as q270; Gini closing is
    // pure rational arithmetic over exact counts — the gain-tie pick
    // compares the identical pinned doubles on both engines
    Gate("q278_best_split", (s, dir) =>
      graft.agg.Stats.bestSplit(
        t(s, dir, "lineitem")
          .withColumn("is_ret", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "l_quantity", "is_ret"), Sql(
      """WITH e AS (SELECT l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |g AS (SELECT l_linestatus, v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(y) AS BIGINT) AS p FROM e GROUP BY 1, 2),
        |cum AS (SELECT *,
        |    CAST(sum(c) OVER (PARTITION BY l_linestatus ORDER BY v)
        |      AS BIGINT) AS cn,
        |    CAST(sum(p) OVER (PARTITION BY l_linestatus ORDER BY v)
        |      AS BIGINT) AS cp,
        |    CAST(sum(c) OVER (PARTITION BY l_linestatus) AS BIGINT) AS n,
        |    CAST(sum(p) OVER (PARTITION BY l_linestatus) AS BIGINT) AS np
        |  FROM g),
        |cand AS (SELECT *, CASE WHEN n - cn > 0 THEN
        |    (1 - (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |       - (1 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (1 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)))
        |    - (CAST(cn AS DOUBLE) / CAST(n AS DOUBLE)
        |       * (1 - (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          * (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          - (1 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          * (1 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)))
        |     + CAST(n - cn AS DOUBLE) / CAST(n AS DOUBLE)
        |       * (1 - (CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))
        |          * (CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))
        |          - (1 - CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))
        |          * (1 - CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))))
        |    END AS gain FROM cum),
        |c2 AS (SELECT *, max(gain) OVER (PARTITION BY l_linestatus)
        |    AS gmax FROM cand),
        |f AS (SELECT l_linestatus, max(n) AS n, max(np) AS n_pos,
        |    max(gmax) AS bg,
        |    CAST(min(CASE WHEN gain = gmax THEN v END) AS DOUBLE) AS bt
        |  FROM c2 GROUP BY 1)
        |SELECT l_linestatus, n, n_pos,
        |  CASE WHEN n > 0 AND n_pos > 0 AND n_pos < n
        |    AND bg IS NOT NULL THEN bt END AS best_threshold,
        |  CASE WHEN n > 0 AND n_pos > 0 AND n_pos < n
        |    AND bg IS NOT NULL THEN bg END AS best_gain
        |FROM f""".stripMargin)),

    // ---- ML prep: target-leakage scan — per-feature Cramér's V vs
    //      returnflag in ONE melted pass; continuous features
    //      pre-formatted to the decimal grid ----
    // the q272 chain keyed by feature over a 4-way melted relation;
    // continuous features land on the DECIMAL(18,2) string grid in
    // both engines (the q157 digit-extraction precedent)
    Gate("q279_leakage_scan", (s, dir) =>
      graft.agg.Stats.leakageScan(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_linestatus").as("linestatus"),
          col("l_quantity").cast("decimal(18,2)").cast("string")
            .as("quantity"),
          col("l_discount").cast("decimal(18,2)").cast("string")
            .as("discount"),
          col("l_tax").cast("decimal(18,2)").cast("string").as("tax")),
        Seq("linestatus", "quantity", "discount", "tax"),
        "l_returnflag"), Sql(
      """WITH m AS (
        |  SELECT 'linestatus' AS feature, CAST(l_linestatus AS VARCHAR)
        |    AS fv, l_returnflag AS y FROM lineitem
        |  UNION ALL SELECT 'quantity',
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
        |    l_returnflag FROM lineitem
        |  UNION ALL SELECT 'discount',
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) AS VARCHAR),
        |    l_returnflag FROM lineitem
        |  UNION ALL SELECT 'tax',
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) AS VARCHAR),
        |    l_returnflag FROM lineitem),
        |b AS (SELECT feature, fv AS a, CAST(y AS VARCHAR) AS bb FROM m
        |  WHERE fv IS NOT NULL AND y IS NOT NULL),
        |cells AS (SELECT feature, a, bb, CAST(count(*) AS BIGINT)
        |    AS o FROM b GROUP BY 1, 2, 3),
        |rm AS (SELECT feature, a, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cm AS (SELECT feature, bb, CAST(sum(o) AS BIGINT) AS rb
        |  FROM cells GROUP BY 1, 2),
        |tt AS (SELECT feature, CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT bb) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT rm.feature, rm.a, cm.bb, rm.ra, cm.rb,
        |    coalesce(cells.o, 0) AS o
        |  FROM rm JOIN cm USING (feature)
        |    LEFT JOIN cells USING (feature, a, bb)),
        |terms AS (SELECT grid.feature, a, bb, n, r, c,
        |    (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS t
        |  FROM grid JOIN tt USING (feature)),
        |f AS (SELECT feature, max(n) AS n, max(r) AS r,
        |    max(c) AS c,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(t ORDER BY a, bb)), (x, y) -> x + y) AS chisq
        |  FROM terms GROUP BY 1)
        |SELECT feature, n, r, c, chisq,
        |  CASE WHEN n > 0 AND least(r, c) - 1 > 0 THEN
        |    sqrt(chisq / (CAST(n AS DOUBLE) *
        |      CAST(least(r, c) - 1 AS DOUBLE))) END AS v
        |FROM f""".stripMargin)),

    // ---- ML: per-flag 2-feature ridge regression closed-form from
    //      nine exact decimal moments — price ~ quantity + discount ----
    // nine exact decimal moments (integer-snapped second moments, the
    // q267 discipline), then the SAME pinned Cramer chain verbatim
    Gate("q286_ridge2", (s, dir) =>
      graft.agg.Stats.ridgeFit2(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        "l_discount", lambda = 1000.0), Sql(
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x1,
        |    CAST(l_discount AS DECIMAL(18,2)) AS x2
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
        |    sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS s11_0,
        |    sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS s22_0,
        |    sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS s12_0,
        |    sum(CAST(x1 * y AS DECIMAL(38,6))) AS s1y_0,
        |    sum(CAST(x2 * y AS DECIMAL(38,6))) AS s2y_0
        |  FROM b GROUP BY 1),
        |c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |    CAST(sy AS DOUBLE) AS syd,
        |    CAST(CAST(s11_0 - (s11_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s11,
        |    CAST(CAST(s22_0 - (s22_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s22,
        |    CAST(CAST(s12_0 - (s12_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s12,
        |    CAST(CAST(s1y_0 - (s1y_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s1y,
        |    CAST(CAST(s2y_0 - (s2y_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s2y
        |  FROM m),
        |g AS (SELECT *, nd * s11 - s1d * s1d AS c11,
        |    nd * s22 - s2d * s2d AS c22, nd * s12 - s1d * s2d AS c12,
        |    nd * s1y - s1d * syd AS c1y, nd * s2y - s2d * syd AS c2y
        |  FROM c),
        |a AS (SELECT *, c11 + CAST(1000 AS DOUBLE) * nd * nd AS a11,
        |    c22 + CAST(1000 AS DOUBLE) * nd * nd AS a22 FROM g),
        |dd AS (SELECT *, a11 * a22 - c12 * c12 AS det FROM a),
        |bb AS (SELECT *, (c1y * a22 - c2y * c12) / det AS b1,
        |    (a11 * c2y - c12 * c1y) / det AS b2 FROM dd)
        |SELECT l_returnflag, n,
        |  CASE WHEN n >= 3 AND det > 0
        |    THEN (syd - b1 * s1d - b2 * s2d) / nd END AS b0,
        |  CASE WHEN n >= 3 AND det > 0 THEN b1 END AS b1,
        |  CASE WHEN n >= 3 AND det > 0 THEN b2 END AS b2
        |FROM bb""".stripMargin)),

    // ---- ML: closed-form 2-variable PCA per flag — exact algebraic
    //      2×2 eigendecomposition, one aggregation pass ----
    // the exact 2×2 algebraic eigendecomposition replayed on the same
    // snapped moments; same orientation convention
    Gate("q287_pca2", (s, dir) =>
      graft.agg.Stats.pca2(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice"), Sql(
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x1,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x2
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2,
        |    sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS s11_0,
        |    sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS s22_0,
        |    sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS s12_0
        |  FROM b GROUP BY 1),
        |c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |    CAST(CAST(s11_0 - (s11_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s11,
        |    CAST(CAST(s22_0 - (s22_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s22,
        |    CAST(CAST(s12_0 - (s12_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s12
        |  FROM m),
        |g AS (SELECT *, nd * s11 - s1d * s1d AS c11,
        |    nd * s22 - s2d * s2d AS c22, nd * s12 - s1d * s2d AS c12
        |  FROM c),
        |e AS (SELECT *,
        |    (c11 + c22) / CAST(2 AS DOUBLE) +
        |      sqrt(((c11 - c22) / CAST(2 AS DOUBLE)) *
        |        ((c11 - c22) / CAST(2 AS DOUBLE)) + c12 * c12) AS l1,
        |    (c11 + c22) / CAST(2 AS DOUBLE) -
        |      sqrt(((c11 - c22) / CAST(2 AS DOUBLE)) *
        |        ((c11 - c22) / CAST(2 AS DOUBLE)) + c12 * c12) AS l2
        |  FROM g),
        |v AS (SELECT *,
        |    CASE WHEN c12 <> 0 THEN c12
        |      ELSE CASE WHEN c11 >= c22 THEN CAST(1 AS DOUBLE)
        |        ELSE CAST(0 AS DOUBLE) END END AS ev1,
        |    CASE WHEN c12 <> 0 THEN l1 - c11
        |      ELSE CASE WHEN c11 >= c22 THEN CAST(0 AS DOUBLE)
        |        ELSE CAST(1 AS DOUBLE) END END AS ev2
        |  FROM e),
        |w AS (SELECT *, sqrt(ev1 * ev1 + ev2 * ev2) AS nrm,
        |    CASE WHEN ev1 < 0 OR (ev1 = 0 AND ev2 < 0)
        |      THEN CAST(-1 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END AS flip
        |  FROM v)
        |SELECT l_returnflag, n,
        |  CASE WHEN n >= 2 THEN l1 / (nd * (nd - CAST(1 AS DOUBLE))) END
        |    AS lambda1,
        |  CASE WHEN n >= 2 THEN l2 / (nd * (nd - CAST(1 AS DOUBLE))) END
        |    AS lambda2,
        |  CASE WHEN n >= 2 AND (l1 + l2) > 0 THEN l1 / (l1 + l2) END
        |    AS var_explained,
        |  CASE WHEN n >= 2 THEN flip * ev1 / nrm END AS v1,
        |  CASE WHEN n >= 2 THEN flip * ev2 / nrm END AS v2
        |FROM w""".stripMargin)),

    // ---- robust stats: per-type median/MAD outlier scores — the
    //      z-score that one wild point cannot poison ----
    // exact lower medians on the 1e-2 value grid (the weightedMedian
    // convention), MAD from the same machinery on |v - med|; the
    // 1.4826 consistency constant pinned via decimal-literal -> double
    Gate("q289_robust_z", (s, dir) =>
      graft.agg.Stats.robustZScores(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("median"), col("mad"), col("score")), Sql(
      """WITH b AS (SELECT event_id, event_type, value,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |c1 AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |    ORDER BY v) AS cum, sum(c) OVER (PARTITION BY event_type)
        |    AS tot FROM g),
        |med AS (SELECT event_type, min(v) AS med FROM c1
        |  WHERE 2 * cum >= tot GROUP BY 1),
        |d AS (SELECT b.event_type, abs(b.v - med.med) AS dv FROM b
        |  JOIN med ON b.event_type = med.event_type),
        |g2 AS (SELECT event_type, dv, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |c2 AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |    ORDER BY dv) AS cum, sum(c) OVER (PARTITION BY event_type)
        |    AS tot FROM g2),
        |mad AS (SELECT event_type, min(dv) AS mad FROM c2
        |  WHERE 2 * cum >= tot GROUP BY 1)
        |SELECT b.event_id, b.event_type, b.value,
        |  CAST(med.med AS DOUBLE) AS median,
        |  CAST(mad.mad AS DOUBLE) AS mad,
        |  CASE WHEN mad.mad > 0 THEN CAST(b.v - med.med AS DOUBLE) /
        |    (CAST(1.4826 AS DOUBLE) * CAST(mad.mad AS DOUBLE)) END AS score
        |FROM b JOIN med ON b.event_type = med.event_type
        |JOIN mad ON b.event_type = mad.event_type""".stripMargin)),

    // ---- time series: autocorrelation per event type, lags 1..5 —
    //      one window pass, stack melt, one (key, lag) collapse ----
    // lag pairs in exact integer cents; every moment closes as an
    // EXACT integer-grid sum over one correctly-rounded division
    // (cents/100, cent-products/1e4) — the same rational the engine's
    // decimal→double cast rounds; the corr chain replays the engine's
    // pinned IEEE expression
    Gate("q293_acf", (s, dir) =>
      graft.agg.Stats.acf(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", maxLag = 5)
        .select(col("event_type"), col("lag"), col("n"), col("corr")), Sql(AcfOracleSql.sql)),

    // ---- time series: cross-correlation of event value vs payload
    //      size at lags −3..3 per type — does one series lead the
    //      other (events: the one table with a UNIQUE tie column;
    //      synthetic lineitem has duplicate (orderkey, linenumber)
    //      pairs, so no total order exists there) ----
    // the q293 moment machinery with lead/lag shifted y in exact
    // cents; every moment an exact integer-grid sum over one
    // correctly-rounded division
    Gate("q300_ccf", (s, dir) =>
      graft.agg.Stats.ccf(t(s, dir, "events")
          .withColumn("psize", length(col("props"))),
        Seq("event_type"), "ts", "event_id",
        "value", "psize", maxLag = 3), Sql(
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
        |    CAST(CAST(length(props) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS yc
        |  FROM events WHERE ts IS NOT NULL
        |    AND value IS NOT NULL AND props IS NOT NULL),
        |l AS (SELECT event_type, xc, yc AS p0,
        |    lead(yc, 1) OVER w AS p1, lead(yc, 2) OVER w AS p2,
        |    lead(yc, 3) OVER w AS p3,
        |    lag(yc, 1) OVER w AS m1, lag(yc, 2) OVER w AS m2,
        |    lag(yc, 3) OVER w AS m3
        |  FROM b WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts, event_id)),
        |p AS (
        |  SELECT event_type, -3 AS lag, xc, m3 AS sh FROM l
        |    WHERE m3 IS NOT NULL
        |  UNION ALL SELECT event_type, -2, xc, m2 FROM l
        |    WHERE m2 IS NOT NULL
        |  UNION ALL SELECT event_type, -1, xc, m1 FROM l
        |    WHERE m1 IS NOT NULL
        |  UNION ALL SELECT event_type, 0, xc, p0 FROM l
        |  UNION ALL SELECT event_type, 1, xc, p1 FROM l
        |    WHERE p1 IS NOT NULL
        |  UNION ALL SELECT event_type, 2, xc, p2 FROM l
        |    WHERE p2 IS NOT NULL
        |  UNION ALL SELECT event_type, 3, xc, p3 FROM l
        |    WHERE p3 IS NOT NULL),
        |m AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
        |    sum(xc) AS sx2, sum(sh) AS sy2, sum(xc * sh) AS sxy4,
        |    sum(xc * xc) AS sxx4, sum(sh * sh) AS syy4
        |  FROM p GROUP BY 1, 2),
        |f AS (SELECT event_type, lag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx2 AS DOUBLE) / 100.0 AS sx,
        |    CAST(sy2 AS DOUBLE) / 100.0 AS sy,
        |    CAST(sxy4 AS DOUBLE) / 10000.0 AS sxy,
        |    CAST(sxx4 AS DOUBLE) / 10000.0 AS sxx,
        |    CAST(syy4 AS DOUBLE) / 10000.0 AS syy
        |  FROM m)
        |SELECT event_type, lag, n,
        |  CASE WHEN n >= 3 AND nd * sxx - sx * sx > 0
        |        AND nd * syy - sy * sy > 0
        |    THEN (nd * sxy - sx * sy) /
        |      (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
        |  END AS corr
        |FROM f""".stripMargin)),

    // ---- ML eval: expected calibration error — q253's reliability
    //      diagram collapsed to its one-number summary ----
    // q253's bins verbatim, then n_b·|gap_b| folded SEQUENTIALLY in
    // bin order (list_reduce) and one closing division by N
    Gate("q303_ece", (s, dir) =>
      graft.agg.Stats.ece(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y", bins = 10), Sql(
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CAST(round(p, 9) AS DECIMAL(18,9)) AS p9,
        |    CASE WHEN y THEN 1 ELSE 0 END AS pos
        |  FROM e WHERE p >= 0 AND p <= 1),
        |m AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
        |    sum(p9) AS sp, CAST(sum(pos) AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2),
        |g AS (SELECT event_type, bin, n,
        |    CAST(n AS DOUBLE) * abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)) AS t
        |  FROM m)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(t ORDER BY bin)), (a, x) -> a + x)
        |    / CAST(sum(n) AS DOUBLE) AS ece
        |FROM g GROUP BY 1""".stripMargin)),

    // ---- robust stats: 10% trimmed mean per event type — exact
    //      integer rank-interval arithmetic on the value grid ----
    // value-grid rank-interval trimming: kept(v) = |(k, n-k] ∩ run|,
    // exact integer cents throughout, one closing division
    Gate("q305_trimmed_mean", (s, dir) =>
      graft.agg.Stats.trimmedMean(t(s, dir, "events"),
        Seq("event_type"), "value", trimFrac = 0.1), Sql(
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY event_type
        |      ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g),
        |k AS (SELECT *, CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
        |    AS kk FROM w),
        |f AS (SELECT event_type, n, v,
        |    greatest(CAST(0 AS BIGINT), least(cum, n - kk)
        |      - greatest(cum - c, kk)) AS kept
        |  FROM k)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  CASE WHEN sum(kept) > 0 THEN CAST(sum(v * kept) AS DOUBLE)
        |    / CAST(sum(kept) AS DOUBLE) / 100.0 END AS trimmed_mean
        |FROM f GROUP BY 1""".stripMargin)),

    // ---- feature audit: pairwise mutual-information matrix over
    //      (lang, source, length-bin) — which columns are redundant ----
    // the q225 contingency machinery melted over unordered pairs and
    // grouped by (col_a, col_b); round-9 ln terms in decimal
    Gate("q306_mi_matrix", (s, dir) =>
      graft.agg.Stats.mutualInfoMatrix(
        t(s, dir, "documents").withColumn("len_bin",
          floor(length(col("text")) / 500).cast("long")),
        Seq("lang", "source", "len_bin")), Sql(
      """WITH d AS (SELECT CAST(lang AS VARCHAR) AS lang,
        |    CAST(source AS VARCHAR) AS source,
        |    CAST(CAST(floor(length(text) / 500) AS BIGINT) AS VARCHAR)
        |      AS len_bin
        |  FROM documents),
        |mm AS (
        |  SELECT 'lang' AS col_a, 'source' AS col_b, lang AS va,
        |      source AS vb FROM d
        |  UNION ALL SELECT 'lang', 'len_bin', lang, len_bin FROM d
        |  UNION ALL SELECT 'source', 'len_bin', source, len_bin FROM d),
        |base AS (SELECT * FROM mm WHERE va IS NOT NULL
        |  AND vb IS NOT NULL),
        |cont AS (SELECT col_a, col_b, va, vb,
        |    CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT col_a, col_b, CAST(sum(c) AS BIGINT) AS n
        |  FROM cont GROUP BY 1, 2),
        |m1 AS (SELECT col_a, col_b, va, CAST(sum(c) AS BIGINT) AS c1
        |  FROM cont GROUP BY 1, 2, 3),
        |m2 AS (SELECT col_a, col_b, vb, CAST(sum(c) AS BIGINT) AS c2
        |  FROM cont GROUP BY 1, 2, 3),
        |cells AS (SELECT cont.col_a, cont.col_b, c, c1, c2, n FROM cont
        |  JOIN m1 USING (col_a, col_b, va)
        |  JOIN m2 USING (col_a, col_b, vb)
        |  JOIN tot USING (col_a, col_b)),
        |mi AS (SELECT col_a, col_b, CAST(min(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
        |        / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 9)
        |      AS DECIMAL(12,9))) AS DOUBLE) AS mi
        |  FROM cells GROUP BY 1, 2),
        |ha AS (SELECT col_a, col_b, CAST(sum(CAST(-round(
        |    (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_a
        |  FROM m1 JOIN tot USING (col_a, col_b) GROUP BY 1, 2),
        |hb AS (SELECT col_a, col_b, CAST(sum(CAST(-round(
        |    (CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_b
        |  FROM m2 JOIN tot USING (col_a, col_b) GROUP BY 1, 2)
        |SELECT mi.col_a, mi.col_b, n, mi, h_a, h_b,
        |  CASE WHEN h_a > 0 AND h_b > 0
        |    THEN mi / (sqrt(h_a) * sqrt(h_b)) END AS nmi
        |FROM mi JOIN ha USING (col_a, col_b)
        |  JOIN hb USING (col_a, col_b)""".stripMargin)),

    // ---- time series: partial autocorrelation (Durbin-Levinson as
    //      ONE higher-order fold per key over the acf grid) ----
    // Durbin-Levinson over the q293 acf grid: the SAME left-fold the
    // engine runs (list_reduce over the lag-sorted corr list), every
    // inner Σ a 0.0-seeded left-fold over zipped lists — bit-identical
    // IEEE. State is a DOUBLE[][] triple [phi, rs, pacf] (a STRUCT
    // accumulator silently fails to fold in DuckDB 1.0 — measured:
    // the lambda sees the zero state at every step)
    Gate("q307_pacf", (s, dir) =>
      graft.agg.Stats.pacf(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", maxLag = 5), Sql {
      val num = "(x[2][1] - list_reduce(list_prepend(" +
        "CAST(0.0 AS DOUBLE), list_transform(list_zip(a[1], " +
        "list_reverse(a[2])), t -> t[1] * t[2])), (s, v) -> s + v))"
      val den = "(CAST(1.0 AS DOUBLE) - list_reduce(list_prepend(" +
        "CAST(0.0 AS DOUBLE), list_transform(list_zip(a[1], a[2]), " +
        "t -> t[1] * t[2])), (s, v) -> s + v))"
      // engine's den-==-0 degenerate cut (acf ±1): null φ, and the
      // null poisons every later lag's dots — rows drop at the end
      val aa = s"(CASE WHEN $den <> CAST(0.0 AS DOUBLE) " +
        s"THEN $num / $den END)"
      s"""WITH acfr AS (${AcfOracleSql.sql}),
         |pref AS (SELECT *, min(CASE WHEN corr IS NULL THEN lag END)
         |    OVER (PARTITION BY event_type) AS cut FROM acfr),
         |lim AS (SELECT event_type, lag, corr FROM pref
         |  WHERE corr IS NOT NULL AND (cut IS NULL OR lag < cut)),
         |st AS (SELECT event_type,
         |    list_reduce(list_prepend(
         |      [CAST([] AS DOUBLE[]), CAST([] AS DOUBLE[]),
         |       CAST([] AS DOUBLE[])],
         |      list_transform(list(corr ORDER BY lag),
         |        c -> [CAST([] AS DOUBLE[]), [CAST(c AS DOUBLE)],
         |              CAST([] AS DOUBLE[])])),
         |      (a, x) -> [
         |        list_concat(list_transform(
         |          list_zip(a[1], list_reverse(a[1])),
         |          t -> t[1] - $aa * t[2]), [$aa]),
         |        list_concat(a[2], [x[2][1]]),
         |        list_concat(a[3], [$aa])])[3] AS pl
         |  FROM lim GROUP BY 1)
         |SELECT event_type, CAST(i AS INT) AS lag, pl[i] AS pacf
         |FROM (SELECT event_type, pl,
         |      unnest(generate_series(1, len(pl))) AS i FROM st)
         |WHERE pl[i] IS NOT NULL""".stripMargin
    }),

    // ---- ML eval: average precision (AUC-PR) — the threshold-step
    //      area, heavy score ties exercising the step fold ----
    // distinct-score grid, exact cumulative TP/ALL on the descending
    // window, ΔTP·precision terms folded in score-descending order
    // (FILTERed to positive thresholds), one closing /n_pos
    Gate("q310_avg_precision", (s, dir) =>
      graft.agg.Stats.averagePrecision(
        t(s, dir, "lineitem")
          .withColumn("is_ret", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "l_quantity", "is_ret"), Sql(
      """WITH b AS (SELECT l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_returnflag IS NOT NULL),
        |g AS (SELECT l_linestatus, s, CAST(sum(pos) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c1) OVER (PARTITION BY l_linestatus
        |      ORDER BY s DESC) AS BIGINT) AS tp,
        |    CAST(sum(c) OVER (PARTITION BY l_linestatus
        |      ORDER BY s DESC) AS BIGINT) AS al FROM g),
        |t AS (SELECT l_linestatus, s, c1, c,
        |    CAST(c1 AS DOUBLE) * (CAST(tp AS DOUBLE) / CAST(al AS DOUBLE))
        |      AS tm FROM w)
        |SELECT l_linestatus, CAST(sum(c1) AS BIGINT) AS n_pos,
        |  CAST(sum(c - c1) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(c1) >= 1 THEN
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(tm ORDER BY s DESC) FILTER (WHERE c1 > 0)),
        |      (a, x) -> a + x) / CAST(sum(c1) AS DOUBLE)
        |  END AS ap
        |FROM t GROUP BY 1""".stripMargin)),

    // ---- robust stats: 10% winsorized mean per event type — clamp
    //      to the boundary order statistics, mean over all n ----
    // value-grid clamp: inner ranks keep their value, the ⌊n·f⌋ tail
    // ranks take the boundary order statistics; exact integer cents
    Gate("q311_winsorized_mean", (s, dir) =>
      graft.agg.Stats.winsorizedMean(t(s, dir, "events"),
        Seq("event_type"), "value", winsorFrac = 0.1), Sql(
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY event_type
        |      ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g),
        |k AS (SELECT *, CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
        |    AS kk FROM w),
        |f AS (SELECT event_type, n, kk, v,
        |    greatest(CAST(0 AS BIGINT), least(cum, n - kk)
        |      - greatest(cum - c, kk)) AS keepn,
        |    CASE WHEN cum >= kk + 1 THEN v END AS lov,
        |    CASE WHEN cum >= n - kk THEN v END AS hiv
        |  FROM k)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(v * keepn) + max(kk) * min(lov)
        |      + max(kk) * min(hiv) AS DOUBLE)
        |    / CAST(max(n) AS DOUBLE) / 100.0 AS winsorized_mean
        |FROM f GROUP BY 1""".stripMargin)),

    // ---- inequality: Theil index per event type — entropy-based,
    //      decomposable; exact grid + pinned log terms ----
    // exact cent grid, one pinned mean, round-9 (v/mu)·ln(v/mu) terms
    // in decimal, one closing /n
    Gate("q312_theil", (s, dir) =>
      graft.agg.Stats.theilIndex(t(s, dir, "events"),
        Seq("event_type"), "value"), Sql(
      """WITH b AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND CAST(value AS DECIMAL(18,2)) > 0),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |t0 AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |    sum(v * c) AS sv FROM g GROUP BY 1),
        |j AS (SELECT g.event_type, g.c, t0.n,
        |    CAST(g.v AS DOUBLE)
        |      / (CAST(t0.sv AS DOUBLE) / CAST(t0.n AS DOUBLE)) AS ratio
        |  FROM g JOIN t0 USING (event_type))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(CAST(c AS DOUBLE) * (ratio * ln(ratio)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) / CAST(max(n) AS DOUBLE)
        |    AS theil
        |FROM j GROUP BY 1""".stripMargin)),

    // ---- inequality: Hoover (Robin Hood) index — fully integer-
    //      exact, the mass share that must move to equalize ----
    // H = T / (2·n·S) with T = Σ c·|n·v − S| — every term an exact
    // integer, ONE closing division
    Gate("q313_hoover", (s, dir) =>
      graft.agg.Stats.hooverIndex(t(s, dir, "events"),
        Seq("event_type"), "value"), Sql(
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |t0 AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS s FROM g GROUP BY 1),
        |j AS (SELECT g.event_type, t0.n, t0.s,
        |    c * abs(t0.n * g.v - t0.s) AS t
        |  FROM g JOIN t0 USING (event_type))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CASE WHEN max(s) > 0 THEN CAST(sum(t) AS DOUBLE)
        |    / (2.0 * CAST(max(n) AS DOUBLE) * CAST(max(s) AS DOUBLE))
        |  END AS hoover
        |FROM j GROUP BY 1""".stripMargin)),

    // ---- concentration: supplier HHI + CR4 per return flag —
    //      revenue dominance diagnostics ----
    // entity revenue totals in exact cents; HHI = Σt² / S² and the
    // rank-windowed CR4, all integer until the closing divisions
    Gate("q314_hhi", (s, dir) =>
      graft.agg.Stats.hhi(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_suppkey", "l_extendedprice"), Sql(
      """WITH b AS (SELECT l_returnflag, l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_suppkey IS NOT NULL AND l_returnflag IS NOT NULL),
        |e AS (SELECT l_returnflag, l_suppkey,
        |    CAST(sum(v) AS HUGEINT) AS t FROM b GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY t DESC, l_suppkey) AS rn FROM e)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_entities,
        |  CASE WHEN sum(t) > 0 THEN CAST(sum(t * t) AS DOUBLE)
        |    / (CAST(sum(t) AS DOUBLE) * CAST(sum(t) AS DOUBLE))
        |  END AS hhi,
        |  CASE WHEN sum(t) > 0 THEN
        |    CAST(sum(CASE WHEN rn <= 4 THEN t ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(t) AS DOUBLE)
        |  END AS cr4
        |FROM r GROUP BY 1""".stripMargin)),

    // ---- uncertainty: deterministic Poisson-bootstrap mean CI —
    //      hash-derived resample weights, zero RNG, replayable.
    //      Purchase slice × b=100: the resample work is O(rows·b·md5)
    //      BY DESIGN (b is the documented cost dial) — the full-corpus
    //      b=200 gate cost 33 s at sf0.1, all hashing ----
    // the same md5-derived Poisson(1) weights (round-9 CDF literals),
    // exact integer resample moments, order-statistic CI ranks
    Gate("q317_bootstrap_ci", (s, dir) =>
      graft.agg.Stats.bootstrapMeanCi(
        t(s, dir, "events").filter(col("event_type") === "purchase")
          .withColumn("etype", col("event_type")),
        Seq("etype"), "event_id", "value", b = 100), Sql {
      val cdf = {
        var p = math.exp(-1.0); var cum = BigDecimal(0)
        (0 to 6).map { k =>
          cum += BigDecimal(p); p = p / (k + 1.0)
          cum.setScale(9, BigDecimal.RoundingMode.HALF_UP)
            .bigDecimal.toPlainString
        }
      }
      val caseW = cdf.zipWithIndex
        .map { case (t, k) => s"WHEN h < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 7 END")
      s"""WITH base AS (SELECT event_type AS etype,
         |    CAST(event_id AS VARCHAR) AS id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
         |    AND event_type = 'purchase'),
         |pt AS (SELECT etype, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
         |      AS mean
         |  FROM base GROUP BY 1),
         |ex AS (SELECT etype, id, v,
         |    unnest(generate_series(1, 100)) AS bb FROM base),
         |hw AS (SELECT etype, bb, v, $caseW AS w
         |  FROM (SELECT *, CAST(('0x' || substr(md5(id || ':' ||
         |      CAST(bb AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
         |      / 4294967296.0 AS h FROM ex)),
         |m AS (SELECT etype, bb, CAST(sum(v * w) AS BIGINT) AS vw,
         |    CAST(sum(w) AS BIGINT) AS ws FROM hw GROUP BY 1, 2),
         |mm AS (SELECT etype, bb,
         |    CAST(vw AS DOUBLE) / CAST(ws AS DOUBLE) / 100.0 AS m
         |  FROM m WHERE ws > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY etype
         |    ORDER BY m, bb) AS rk,
         |    count(*) OVER (PARTITION BY etype) AS cnt FROM mm)
         |SELECT pt.etype, pt.n, pt.mean,
         |  min(CASE WHEN rk = CAST(ceil(0.025 * cnt) AS BIGINT)
         |    THEN m END) AS ci_lo,
         |  min(CASE WHEN rk = CAST(ceil(0.975 * cnt) AS BIGINT)
         |    THEN m END) AS ci_hi
         |FROM r JOIN pt USING (etype)
         |GROUP BY 1, 2, 3""".stripMargin
    }),

    // ---- A/B stats: CUPED variance-adjusted variant means — pooled
    //      θ from exact moments, per-variant pinned adjustment ----
    // pooled θ from the variant-grid moments (exact integer units
    // over correctly-rounded divisions), per-variant adjustment in
    // the engine's pinned IEEE order
    Gate("q320_cuped", (s, dir) =>
      graft.agg.Stats.cuped(t(s, dir, "events")
          .withColumn("variant", (col("user_id") % 2).cast("int"))
          .withColumn("psize", length(col("props"))),
        Seq("event_type"), "variant", "value", "psize"), Sql(
      """WITH b AS (SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc,
        |    CAST(CAST(length(props) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS xc
        |  FROM events WHERE value IS NOT NULL AND props IS NOT NULL
        |    AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT event_type, variant, CAST(count(*) AS BIGINT) AS n,
        |    sum(yc) AS sy, sum(xc) AS sx, sum(xc * yc) AS sxy4,
        |    sum(xc * xc) AS sxx4
        |  FROM b GROUP BY 1, 2),
        |p AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS np,
        |    CAST(sum(sy) AS DOUBLE) / 100.0 AS syp,
        |    CAST(sum(sx) AS DOUBLE) / 100.0 AS sxp,
        |    CAST(sum(sxy4) AS DOUBLE) / 10000.0 AS sxyp,
        |    CAST(sum(sxx4) AS DOUBLE) / 10000.0 AS sxxp
        |  FROM g GROUP BY 1),
        |t AS (SELECT event_type,
        |    CASE WHEN CAST(np AS DOUBLE) * sxxp - sxp * sxp > 0
        |      THEN (CAST(np AS DOUBLE) * sxyp - sxp * syp)
        |        / (CAST(np AS DOUBLE) * sxxp - sxp * sxp) END AS theta,
        |    sxp / CAST(np AS DOUBLE) AS xbar
        |  FROM p)
        |SELECT g.event_type, g.variant, g.n,
        |  CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean,
        |  CASE WHEN theta IS NOT NULL THEN
        |    CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
        |      - theta * (CAST(sx AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
        |        - xbar)
        |  ELSE CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
        |  END AS adjusted_mean,
        |  theta
        |FROM g JOIN t USING (event_type)""".stripMargin)),

    // ---- causal: difference-in-differences 2×2 contrast from exact
    //      cell sums — treated × post pinned double difference ----
    // four exact cell sums, pinned cell means, the double difference
    // in the engine's order; a missing cell nulls the estimate
    Gate("q321_did", (s, dir) =>
      graft.agg.Stats.diffInDiff(t(s, dir, "events")
          .withColumn("treated", col("user_id") % 2 === 0)
          .withColumn("post", hour(col("ts")) >= 12),
        Seq("event_type"), "treated", "post", "value"), Sql(
      """WITH b AS (SELECT event_type, (user_id % 2 = 0) AS t,
        |    (hour(ts) >= 12) AS p,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT event_type, t, p, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(vc) AS BIGINT) AS sc FROM b GROUP BY 1, 2, 3),
        |a AS (SELECT event_type, CAST(sum(cn) AS BIGINT) AS n,
        |    min(CASE WHEN NOT t AND NOT p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_c_pre,
        |    min(CASE WHEN NOT t AND p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_c_post,
        |    min(CASE WHEN t AND NOT p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_t_pre,
        |    min(CASE WHEN t AND p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_t_post
        |  FROM c GROUP BY 1)
        |SELECT event_type, n, mean_c_pre, mean_c_post, mean_t_pre,
        |  mean_t_post,
        |  (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did
        |FROM a""".stripMargin)),

    // ---- ML eval: binary classification report — confusion matrix
    //      and ratios from exact counts ----
    // exact confusion cells (the q253 synthetic classifier), pinned
    // ratio closings, null on empty denominators
    Gate("q322_classification_report", (s, dir) =>
      graft.agg.Stats.classificationReport(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("y", col("value") >= 50.0)
          .withColumn("pred",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0) >= 0.45),
        Seq("event_type"), "y", "pred"), Sql(
      """WITH b AS (SELECT event_type, value >= 50 AS y,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / 4294967296.0 >= 0.45 AS pred
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN y AND pred THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp,
        |    CAST(sum(CASE WHEN NOT y AND pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN y AND NOT pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT y AND NOT pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM b GROUP BY 1),
        |r AS (SELECT *,
        |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
        |      / CAST(tp + fp AS DOUBLE) END AS precision,
        |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |      / CAST(tp + fn AS DOUBLE) END AS recall
        |  FROM m)
        |SELECT event_type, tp, fp, fn, tn, precision, recall,
        |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
        |      AND precision + recall > 0
        |    THEN 2.0 * precision * recall / (precision + recall)
        |  END AS f1,
        |  CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
        |    AS accuracy
        |FROM r""".stripMargin)),

    // ---- risk stats: odds ratio + relative risk with the Wald
    //      ln(OR) CI — exact 2×2 cells, pinned closings ----
    // exact 2x2 cells; ln(OR) round-9 (libm-consistent), Wald CI in
    // the engine's pinned order; zero cells null the estimates
    Gate("q323_odds_ratio", (s, dir) =>
      graft.agg.Stats.oddsRatio(
        t(s, dir, "events")
          .withColumn("exposed", col("user_id") % 2 === 0)
          .withColumn("outcome", col("value") >= 50.0),
        Seq("event_type"), "exposed", "outcome"), Sql(
      """WITH b AS (SELECT event_type, (user_id % 2 = 0) AS e,
        |    value >= 50 AS y
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN e AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN e AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(sum(CASE WHEN NOT e AND y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(sum(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b GROUP BY 1),
        |r AS (SELECT *,
        |    a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok,
        |    (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
        |      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS orx,
        |    sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |      + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS se
        |  FROM m),
        |f AS (SELECT *, CASE WHEN ok THEN round(ln(orx), 9) END
        |    AS log_or FROM r)
        |SELECT event_type, a, b, c, d,
        |  CASE WHEN ok THEN orx END AS odds_ratio,
        |  CASE WHEN a + b > 0 AND c > 0 THEN
        |    (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
        |      / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE))
        |  END AS relative_risk,
        |  log_or,
        |  CASE WHEN ok THEN log_or - 1.96 * se END AS ci_lo,
        |  CASE WHEN ok THEN log_or + 1.96 * se END AS ci_hi
        |FROM f""".stripMargin)),

    // ---- drift: 1-Wasserstein distance between arms — exact
    //      integer area between CDFs on the cents grid ----
    // exact integer CDF-gap area on the cents grid: HUGEINT sum of
    // gap*dv, routed to double via VARCHAR (q351 lesson), pinned
    // two-division closing
    Gate("q378_wasserstein1", (s, dir) =>
      graft.agg.Stats.wasserstein1(
        t(s, dir, "events")
          // same null contract as the oracle's user_id IS NOT NULL
          .filter(col("user_id").isNotNull)
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
        |FROM f""".stripMargin)),

    // ---- agreement: Kendall's W concordance over rater panels —
    //      friedman's doubled-rank grid, tie-corrected closing ----
    // friedman's doubled-rank grid with raters as blocks, complete
    // raters only, exact R2/tie moments, pinned W closing
    Gate("q379_kendalls_w", (s, dir) =>
      graft.agg.Stats.kendallsW(
        t(s, dir, "events")
          .withColumn("panel", pmod(col("user_id"), lit(3L)))
          .withColumn("rater", pmod(col("user_id"), lit(7L))),
        Seq("panel"), "rater", "event_type", "value"), Sql(
      """WITH b AS (SELECT ((user_id % 3) + 3) % 3 AS panel,
        |    ((user_id % 7) + 7) % 7 AS rater, event_type AS item,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cell AS (SELECT panel, rater, item, CAST(sum(c) AS BIGINT)
        |    AS vc FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY panel
        |    ORDER BY item) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY panel) AS kk,
        |    count(*) OVER (PARTITION BY panel, rater) AS rc FROM d),
        |r AS (SELECT panel, rater, item, vc,
        |    2 * rank() OVER (PARTITION BY panel, rater ORDER BY vc)
        |      + count(*) OVER (PARTITION BY panel, rater, vc) - 1
        |      AS r2,
        |    count(*) OVER (PARTITION BY panel, rater, vc) AS t,
        |    row_number() OVER (PARTITION BY panel, rater, vc
        |      ORDER BY item) AS rn
        |  FROM e WHERE rc = kk),
        |pi AS (SELECT panel, item, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2) AS BIGINT) AS R2,
        |    CAST(sum(CASE WHEN rn = 1 THEN t * t * t - t ELSE 0 END)
        |      AS BIGINT) AS tt
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT panel, max(n) AS nr,
        |    CAST(count(*) AS BIGINT) AS ki,
        |    CAST(sum(R2 * R2) AS DOUBLE) AS sr2,
        |    CAST(sum(tt) AS BIGINT) AS ts FROM pi GROUP BY 1),
        |x AS (SELECT *, CAST(nr AS DOUBLE) AS nd,
        |    CAST(ki AS DOUBLE) AS kd, CAST(ki AS DOUBLE) + 1.0 AS kp1
        |  FROM g),
        |z AS (SELECT *,
        |    3.0 * (sr2 - nd * nd * kd * kp1 * kp1) AS num,
        |    nd * nd * kd * (kd * kd - 1.0) - nd * CAST(ts AS DOUBLE)
        |      AS den FROM x)
        |SELECT panel, nr AS n_raters, ki AS k_items, ts AS tie_sum,
        |  CASE WHEN ki >= 2 AND den > 0.0 THEN num / den END AS w
        |FROM z""".stripMargin)),

    // ---- effect size: Cohen's h for two proportions — arcsine
    //      scale, 1e-9-snapped transcendentals ----
    // exact integer cells, pinned proportion divisions, arcsines
    // snapped to the 1e-9 grid before the closing subtraction
    Gate("q381_cohens_h", (s, dir) =>
      graft.agg.Stats.cohensH(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b")))
          .withColumn("hit", col("value") >= 150.0),
        Seq("event_type"), "arm", "a", "b", "hit"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    value >= 150 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN arm = 'a' AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(sum(CASE WHEN arm = 'b' AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM b GROUP BY 1),
        |z AS (SELECT *, CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2 FROM m)
        |SELECT k AS event_type, n1 AS n_1, n2 AS n_2,
        |  CASE WHEN n1 > 0 THEN p1 END AS p_1,
        |  CASE WHEN n2 > 0 THEN p2 END AS p_2,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    2.0 * round(asin(sqrt(p1)), 9)
        |      - 2.0 * round(asin(sqrt(p2)), 9) END AS h
        |FROM z""".stripMargin)),

    // ---- epidemiology: risk ratio / risk difference / NNT with
    //      Wald CIs — the absolute-scale 2x2 panel ----
    // exact integer 2x2 cells, pinned risk divisions, ln snapped to
    // the 1e-9 grid, fixed left-to-right Wald SE chains
    Gate("q382_risk_ratio", (s, dir) =>
      graft.agg.Stats.riskRatio(
        t(s, dir, "events")
          .withColumn("exposed", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("outcome", col("value") >= 150.0),
        Seq("event_type"), "exposed", "outcome"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS ex, value >= 150 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k,
        |    CAST(sum(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b GROUP BY 1),
        |z AS (SELECT *, a + b2 AS n1, c + d AS n0 FROM cells),
        |y AS (SELECT *, CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(c AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0 FROM z),
        |w AS (SELECT *,
        |    round(ln(CASE WHEN a > 0 AND c > 0 AND n1 > 0 AND n0 > 0
        |      THEN p1 / p0 END), 9) AS logrr,
        |    sqrt(1.0 / CAST(a AS DOUBLE) - 1.0 / CAST(n1 AS DOUBLE)
        |      + 1.0 / CAST(c AS DOUBLE) - 1.0 / CAST(n0 AS DOUBLE))
        |      AS selog,
        |    p1 - p0 AS rd,
        |    sqrt(p1 * (1.0 - p1) / CAST(n1 AS DOUBLE)
        |      + p0 * (1.0 - p0) / CAST(n0 AS DOUBLE)) AS serd
        |  FROM y)
        |SELECT k AS event_type, a, b2 AS b, c, d,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 THEN p1 / p0 END
        |    AS risk_ratio,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 AND a > 0 THEN logrr
        |    END AS log_rr,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 AND a > 0
        |    THEN logrr - 1.96 * selog END AS log_rr_lo,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 AND a > 0
        |    THEN logrr + 1.96 * selog END AS log_rr_hi,
        |  CASE WHEN n1 > 0 AND n0 > 0 THEN rd END AS risk_diff,
        |  CASE WHEN n1 > 0 AND n0 > 0 THEN rd - 1.96 * serd END
        |    AS rd_lo,
        |  CASE WHEN n1 > 0 AND n0 > 0 THEN rd + 1.96 * serd END
        |    AS rd_hi,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND rd <> 0.0
        |    THEN 1.0 / abs(rd) END AS nnt
        |FROM w""".stripMargin)),

    // ---- inequality: Atkinson index at eps = 1/2 — grid-fold of
    //      c*sqrt(v), pinned closed-form closing ----
    // (keys, cents) grid, list_reduce fold of c*sqrt(v) in value
    // order, pinned 1 - r^2/(n*s) closing
    Gate("q383_atkinson", (s, dir) =>
      graft.agg.Stats.atkinson(t(s, dir, "events"),
        Seq("event_type"), "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS s,
        |    list_reduce(list_prepend([CAST(0.0 AS DOUBLE)],
        |      list([CAST(v AS DOUBLE), CAST(c AS DOUBLE)] ORDER BY v)),
        |      (acc, p) -> [acc[1] + p[2] * sqrt(p[1])])[1] AS r
        |  FROM g GROUP BY 1)
        |SELECT k AS event_type, n,
        |  CASE WHEN s > 0 THEN
        |    1.0 - r * r / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
        |  END AS atkinson
        |FROM f""".stripMargin)),

    // ---- drift: 1-D energy distance — exact CDF-integral pairwise
    //      expectations, order-free decimal sums ----
    // CDF-integral pairwise expectations: segment sums of
    // straddling-pair counts, VARCHAR-routed, pinned closing
    Gate("q386_energy_distance", (s, dir) =>
      graft.agg.Stats.energyDistance(
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
        |    sum(cb) OVER (PARTITION BY k) AS nb,
        |    coalesce(lead(v) OVER (PARTITION BY k ORDER BY v) - v, 0)
        |      AS dv
        |  FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum((cuma * (nb - cumb) + cumb * (na - cuma)) * dv) AS sxy,
        |    sum(cuma * (na - cuma) * dv) AS sxx,
        |    sum(cumb * (nb - cumb) * dv) AS syy
        |  FROM st GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (2.0 * dxy / (nd * md) - 2.0 * dxx / (nd * nd)
        |      - 2.0 * dyy / (md * md)) / 100.0
        |  END AS energy
        |FROM z""".stripMargin)),

    // ---- concentration: Lorenz curve deciles — liftTable's exact
    //      integer cut ascending, cumulative mass shares ----
    // ascending exact-integer decile cut, cumulative cents, pinned
    // share divisions (tie assignment is mass-invariant)
    Gate("q387_lorenz_curve", (s, dir) =>
      graft.agg.Stats.lorenzCurve(t(s, dir, "events"),
        Seq("event_type"), "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |    AND event_type IS NOT NULL),
        |r AS (SELECT k, c,
        |    row_number() OVER (PARTITION BY k ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY k) AS n FROM b),
        |bk AS (SELECT k,
        |    CAST(floor(CAST((rn - 1) * 10 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) AS BIGINT) + 1 AS bucket, c
        |  FROM r),
        |g AS (SELECT k, bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS m FROM bk GROUP BY 1, 2),
        |f AS (SELECT k, bucket, n,
        |    CAST(sum(n) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_n,
        |    CAST(sum(m) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cm,
        |    CAST(sum(m) OVER (PARTITION BY k) AS BIGINT) AS tot
        |  FROM g)
        |SELECT k AS event_type, bucket, n, cum_n,
        |  CAST(cm AS DOUBLE) / 100.0 AS cum_mass,
        |  CASE WHEN tot > 0 THEN CAST(cm AS DOUBLE)
        |    / CAST(tot AS DOUBLE) END AS cum_share
        |FROM f""".stripMargin)),

    // ---- drift: tv / overlap / Bhattacharyya / Hellinger panel on
    //      the exact value grid ----
    // exact tv/overlap lattice sums (VARCHAR-routed), BC fold of
    // sqrt(ca*cb) in value order, pinned closings
    Gate("q391_distribution_distance", (s, dir) =>
      graft.agg.Stats.distributionDistance(
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
        |st AS (SELECT *, sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(abs(ca * nb - cb * na)) AS tvn,
        |    sum(least(ca * nb, cb * na)) AS ovn,
        |    list_reduce(list_prepend([CAST(0.0 AS DOUBLE)],
        |      list([CAST(v AS DOUBLE), CAST(ca * cb AS DOUBLE)]
        |        ORDER BY v)),
        |      (acc, p) -> [acc[1] + sqrt(p[2])])[1] AS bcn
        |  FROM st GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(CAST(tvn AS VARCHAR) AS DOUBLE) AS dtv,
        |    CAST(CAST(ovn AS VARCHAR) AS DOUBLE) AS dov, bcn FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN dtv / (2.0 * nd * md) END AS tv,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN dov / (nd * md) END AS overlap,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN bcn / sqrt(nd * md) END AS bc,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN sqrt(greatest(0.0, 1.0 - bcn / sqrt(nd * md)))
        |  END AS hellinger
        |FROM z""".stripMargin)),

    // ---- effect size: Hodges-Lehmann shift — grid x grid pairwise
    //      differences, exact weighted median (gate coarsens the
    //      value grid with floor(), per the operator's documented
    //      envelope: ~100 distinct units/arm -> 1e4 pairs/key
    //      instead of 4e7 at the raw cent grid) ----
    // per-arm value grids joined per key, exact pair-weighted
    // cumulative, integer-div midpoint thresholds
    Gate("q392_hodges_lehmann", (s, dir) =>
      graft.agg.Stats.hodgesLehmann(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b")))
          .withColumn("vb", floor(col("value"))),
        Seq("event_type"), "arm", "a", "b", "vb"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(floor(value) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |ga AS (SELECT k, v AS va, CAST(count(*) AS BIGINT) AS ca
        |  FROM b WHERE arm = 'a' GROUP BY 1, 2),
        |gb AS (SELECT k, v AS vb, CAST(count(*) AS BIGINT) AS cb
        |  FROM b WHERE arm = 'b' GROUP BY 1, 2),
        |diffs AS (SELECT ga.k, va - vb AS dd,
        |    CAST(sum(ca * cb) AS BIGINT) AS w
        |  FROM ga JOIN gb ON ga.k = gb.k GROUP BY 1, 2),
        |st AS (SELECT k, dd, w,
        |    CAST(sum(w) OVER (PARTITION BY k ORDER BY dd) AS BIGINT)
        |      AS cum,
        |    CAST(sum(w) OVER (PARTITION BY k) AS BIGINT) AS tw
        |  FROM diffs),
        |m AS (SELECT k, max(tw) AS n_pairs,
        |    min(CASE WHEN cum >= (tw + 1) // 2 THEN dd END) AS lo,
        |    min(CASE WHEN cum >= tw // 2 + 1 THEN dd END) AS hi
        |  FROM st GROUP BY 1),
        |counts AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM b GROUP BY 1)
        |SELECT counts.k AS event_type, n_a, n_b,
        |  coalesce(n_pairs, 0) AS n_pairs,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE)) / 2.0 / 100.0
        |  END AS hl_shift
        |FROM counts LEFT JOIN m ON counts.k = m.k""".stripMargin)),

    // ---- estimation: Chapman capture-recapture — two event-id-
    //      parity "captures" of the user population ----
    // (key, id) presence flags, exact overlap, pinned Chapman
    // estimate + se
    Gate("q398_capture_recapture", (s, dir) =>
      graft.agg.Stats.captureRecapture(
        t(s, dir, "events")
          .filter(col("event_id").isNotNull) // oracle null contract
          .withColumn("cap", when(pmod(col("event_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "cap", "a", "b", "user_id"), Sql(
      """WITH b AS (SELECT event_type AS k, user_id AS id,
        |    CASE WHEN ((event_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS cap
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |ids AS (SELECT k, id,
        |    CAST(max(CASE WHEN cap = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ia,
        |    CAST(max(CASE WHEN cap = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ib
        |  FROM b GROUP BY 1, 2),
        |m AS (SELECT k, CAST(sum(ia) AS BIGINT) AS n_a,
        |    CAST(sum(ib) AS BIGINT) AS n_b,
        |    CAST(sum(ia * ib) AS BIGINT) AS m_overlap
        |  FROM ids GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b, m_overlap,
        |  (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |    / (CAST(m_overlap AS DOUBLE) + 1.0) - 1.0 AS chapman_n,
        |  sqrt((CAST(n_a AS DOUBLE) + 1.0)
        |    * (CAST(n_b AS DOUBLE) + 1.0)
        |    * (CAST(n_a AS DOUBLE) - CAST(m_overlap AS DOUBLE))
        |    * (CAST(n_b AS DOUBLE) - CAST(m_overlap AS DOUBLE))
        |    / ((CAST(m_overlap AS DOUBLE) + 1.0)
        |      * (CAST(m_overlap AS DOUBLE) + 1.0)
        |      * (CAST(m_overlap AS DOUBLE) + 2.0))) AS se
        |FROM m""".stripMargin)),

    // ---- estimation: Chao1 richness + Good-Turing unseen mass
    //      over the per-type user "species" counts ----
    // (key, item) occurrence grid, exact f1/f2, pinned Chao1 and
    // Good-Turing closings
    Gate("q399_chao1", (s, dir) =>
      graft.agg.Stats.chao1(t(s, dir, "events"),
        Seq("event_type"), "user_id"), Sql(
      """WITH items AS (SELECT event_type AS k, user_id AS item,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS s_observed,
        |    CAST(sum(c) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f2
        |  FROM items GROUP BY 1)
        |SELECT k AS event_type, s_observed, n_total, f1, f2,
        |  CAST(s_observed AS DOUBLE) + CAST(f1 AS DOUBLE)
        |    * (CAST(f1 AS DOUBLE) - 1.0)
        |    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) AS chao1,
        |  CAST(f1 AS DOUBLE) / CAST(n_total AS DOUBLE) AS unseen_mass
        |FROM m""".stripMargin)),

    // ---- experimentation: two-proportion sample-size planning
    //      from the observed per-key baseline ----
    // exact cells, pinned power-formula chain with the default
    // two-sided-5% / 80%-power quantile literals
    Gate("q401_sample_size", (s, dir) =>
      graft.agg.Stats.sampleSizeTwoProportions(
        t(s, dir, "events")
          .withColumn("hit", col("value") >= 150.0),
        Seq("event_type"), "hit", mde = 0.02), Sql(
      """WITH b AS (SELECT event_type AS k, value >= 150 AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM b GROUP BY 1),
        |z AS (SELECT k, n,
        |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p1 FROM m),
        |y AS (SELECT *, p1 + 0.02 AS p2 FROM z),
        |y2 AS (SELECT *, (p1 + p2) / 2.0 AS pbar FROM y),
        |w AS (SELECT *,
        |    1.959963985 * sqrt(2.0 * pbar * (1.0 - pbar))
        |      + 0.841621234 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
        |      AS num
        |  FROM y2)
        |SELECT k AS event_type, n,
        |  CASE WHEN n > 0 THEN p1 END AS p_base,
        |  CASE WHEN n > 0 AND p2 > 0.0 AND p2 < 1.0 THEN p2 END
        |    AS p_target,
        |  CASE WHEN n > 0 AND p2 > 0.0 AND p2 < 1.0
        |    THEN num * num / (0.02 * 0.02) END AS n_per_arm
        |FROM w""".stripMargin)),

    // ---- A/B stats: Cliff's delta — the Mann-Whitney effect size,
    //      one pinned closing over the exact half-integer U ----
    // the q211 doubled-rank U machinery keyed by cohort with the
    // click/view arms, closed by delta = 2*U_a/(n_a*n_b) - 1
    Gate("q375_cliffs_delta", (s, dir) =>
      graft.agg.Stats.cliffsDelta(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L))),
        Seq("cohort"), "event_type", "click", "view", "value"), Sql(
      """WITH e AS (SELECT ((user_id % 4) + 4) % 4 AS k,
        |    event_type AS arm, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |g AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY k
        |    ORDER BY v) AS BIGINT) AS cum FROM g),
        |r2 AS (SELECT *, 2 * cum - c + 1 AS dr FROM r),
        |m AS (SELECT k,
        |    CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(CAST(ca * dr AS DECIMAL(38,0))) AS ra2
        |  FROM r2 GROUP BY 1),
        |d AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS na,
        |    CAST(n_b AS DOUBLE) AS nb, CAST(ra2 AS DOUBLE) AS ra2d
        |  FROM m),
        |z AS (SELECT *, ra2d / 2.0 - na * (na + 1.0) / 2.0 AS ua
        |  FROM d)
        |SELECT k AS cohort, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN ua END AS u_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN 2.0 * ua / (na * nb) - 1.0 END AS delta
        |FROM z""".stripMargin)),

    // ---- stats: ordinal-association panel — gamma, Somers' D both
    //      ways, tau-b from kendall's exact counts ----
    // the q240 pairwise-count oracle with the panel closings:
    // gamma = S/(P+Q), Somers' D = S/(n0-n1) and S/(n0-n2), tau-b
    Gate("q371_ordinal_assoc", (s, dir) =>
      graft.agg.Stats.ordinalAssociation(
        t(s, dir, "events")
          .withColumn("uh", pmod(col("user_id"), lit(7L))
            .cast("double")),
        Seq("event_type"), "value", "uh"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(((user_id % 7) + 7) % 7 AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS y,
        |    row_number() OVER () AS rid
        |  FROM events WHERE value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |grp AS (SELECT k, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |ps AS (SELECT t1.k,
        |    CAST(sum(CASE WHEN t1.x = t2.x THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t1.y = t2.y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN t1.x = t2.x AND t1.y = t2.y
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN (t1.x - t2.x) * (t1.y - t2.y) < 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS disc
        |  FROM b t1 JOIN b t2 ON t2.k = t1.k AND t1.rid < t2.rid
        |  GROUP BY 1),
        |j AS (SELECT g.k, g.n, g.n * (g.n - 1) / 2 AS n0,
        |    coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
        |    coalesce(n3, 0) AS n3, coalesce(disc, 0) AS disc
        |  FROM grp g LEFT JOIN ps ON ps.k = g.k),
        |s AS (SELECT *, n0 - n1 - n2 + n3 - 2 * disc AS st FROM j)
        |SELECT k AS event_type, n, CAST(st AS BIGINT) AS s,
        |  CASE WHEN n0 - n1 > 0 AND n0 - n2 > 0
        |    THEN CAST(st AS DOUBLE)
        |      / sqrt(CAST(n0 - n1 AS DOUBLE)
        |        * CAST(n0 - n2 AS DOUBLE)) END AS tau_b,
        |  CASE WHEN st + 2 * disc > 0 THEN CAST(st AS DOUBLE)
        |    / CAST(st + 2 * disc AS DOUBLE) END AS gamma,
        |  CASE WHEN n0 - n1 > 0 THEN CAST(st AS DOUBLE)
        |    / CAST(n0 - n1 AS DOUBLE) END AS somers_dyx,
        |  CASE WHEN n0 - n2 > 0 THEN CAST(st AS DOUBLE)
        |    / CAST(n0 - n2 AS DOUBLE) END AS somers_dxy
        |FROM s""".stripMargin)),

    // ---- stats: Cronbach's alpha — complete-subject item grid,
    //      item-order variance fold, subject-total variance ----
    // complete-subject item grid (dense-rank item count), exact
    // integer window moments, sample item variances folded in item
    // order (list_reduce), subject-total variance, pinned alpha
    Gate("q358_cronbach_alpha", (s, dir) =>
      graft.agg.Stats.cronbachAlpha(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(3L))),
        Seq("cohort"), "user_id", "event_type", "value"), Sql(
      """WITH b AS (SELECT ((user_id % 3) + 3) % 3 AS k, user_id AS s,
        |    event_type AS it,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cell AS (SELECT k, s, it, CAST(sum(c) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY it) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, s) AS sc FROM d),
        |f AS (SELECT k, s, it, c, kk FROM e WHERE sc = kk),
        |items AS (SELECT k, it, CAST(count(*) AS BIGINT) AS nit,
        |    CAST(sum(c) AS BIGINT) AS S, sum(c * c) AS SS
        |  FROM f GROUP BY 1, 2),
        |ifold AS (SELECT k, list_reduce(list_prepend([0.0],
        |    list([CAST(nit AS DOUBLE), CAST(S AS DOUBLE),
        |      CAST(SS AS DOUBLE)] ORDER BY it)),
        |    (acc, p) -> [acc[1] + (p[3] - p[2] * p[2] / p[1])
        |      / (CASE WHEN p[1] > 1.0 THEN p[1] - 1.0
        |          ELSE 1.0 END)]) AS m
        |  FROM items GROUP BY 1),
        |subs0 AS (SELECT k, s, CAST(sum(c) AS BIGINT) AS T,
        |    max(kk) AS kk FROM f GROUP BY 1, 2),
        |subs AS (SELECT k, CAST(count(*) AS BIGINT) AS n_subjects,
        |    CAST(max(kk) AS BIGINT) AS k_items,
        |    CAST(sum(T) AS DOUBLE) AS st,
        |    CAST(sum(T * T) AS DOUBLE) AS st2 FROM subs0 GROUP BY 1),
        |j AS (SELECT subs.*, ifold.m[1] AS vs,
        |    CAST(n_subjects AS DOUBLE) AS ndb,
        |    CAST(k_items AS DOUBLE) AS kd
        |  FROM subs JOIN ifold ON subs.k = ifold.k),
        |v AS (SELECT *, (st2 - st * st / ndb)
        |    / (CASE WHEN ndb > 1.0 THEN ndb - 1.0 END) AS vt FROM j)
        |SELECT k AS cohort, n_subjects, k_items,
        |  CASE WHEN n_subjects >= 2 THEN vs END AS item_var_sum,
        |  CASE WHEN n_subjects >= 2 THEN vt END AS total_var,
        |  CASE WHEN k_items >= 2 AND n_subjects >= 2 AND vt > 0.0
        |    THEN kd / (CASE WHEN kd > 1.0 THEN kd - 1.0 END)
        |      * (1.0 - vs / (CASE WHEN vt > 0.0 THEN vt END))
        |    END AS alpha
        |FROM v""".stripMargin)),

    // ---- stats: diversity panel — exact Simpson rational,
    //      category-order Shannon fold, Pielou evenness ----
    // exact integer category counts, exact Simpson rational
    // pairs/(N(N-1)), Shannon folded in category order with the
    // pinned (n/N)*ln(n/N) chain, Pielou evenness H/ln k
    Gate("q359_diversity", (s, dir) =>
      graft.agg.Stats.diversityIndex(
        t(s, dir, "documents"), Seq("lang"), "source"), Sql(
      """WITH b AS (SELECT lang AS k, source AS c FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT k, c, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |g0 AS (SELECT k, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS richness,
        |    CAST(sum(n * (n - 1)) AS DOUBLE) AS pairs,
        |    list([CAST(n AS DOUBLE)] ORDER BY c) AS cl
        |  FROM cells GROUP BY 1),
        |g AS (SELECT *, CAST(n AS DOUBLE) AS ndb,
        |    list_reduce(list_prepend([0.0], cl),
        |      (acc, p) -> [acc[1] + p[1] / CAST(n AS DOUBLE)
        |        * ln(p[1] / CAST(n AS DOUBLE))]) AS hm
        |  FROM g0)
        |SELECT k AS lang, n, richness,
        |  CASE WHEN n >= 2
        |    THEN pairs / (ndb * (ndb - 1.0)) END AS simpson,
        |  CASE WHEN n >= 2
        |    THEN 1.0 - pairs / (ndb * (ndb - 1.0)) END AS gini_simpson,
        |  0.0 - hm[1] AS shannon,
        |  CASE WHEN richness >= 2 THEN (0.0 - hm[1])
        |    / ln(CAST(richness AS DOUBLE)) END AS evenness
        |FROM g""".stripMargin)),

    // ---- stats: first-order partial correlation — nine exact
    //      moments in one pass, pinned pairwise-r and partial ----
    // nine exact decimal moments in one pass, pinned pairwise r in
    // the pearsonMatrix form, then the pinned first-order partial
    // (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2))
    Gate("q352_partial_corr", (s, dir) =>
      graft.agg.Stats.partialCorr(
        t(s, dir, "events")
          .withColumn("uh", pmod(col("user_id"), lit(97L))
            .cast("double"))
          .withColumn("eh", pmod(col("event_id"), lit(89L))
            .cast("double")),
        Seq("event_type"), "value", "uh", "eh"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(((user_id % 97) + 97) % 97 AS DECIMAL(18,2)) AS y,
        |    CAST(((event_id % 89) + 89) % 89 AS DECIMAL(18,2)) AS z
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(z) AS DOUBLE) AS sz,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(z * z) AS DOUBLE) AS szz,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(x * z) AS DOUBLE) AS sxz,
        |    CAST(sum(y * z) AS DOUBLE) AS syz
        |  FROM b GROUP BY 1),
        |v AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS vy,
        |    CAST(n AS DOUBLE) * szz - sz * sz AS vz FROM g),
        |r AS (SELECT *,
        |    (nd * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)) AS rxy,
        |    (nd * sxz - sx * sz) / (sqrt(vx) * sqrt(vz)) AS rxz,
        |    (nd * syz - sy * sz) / (sqrt(vy) * sqrt(vz)) AS ryz
        |  FROM v),
        |p AS (SELECT *,
        |    (1.0 - rxz * rxz) * (1.0 - ryz * ryz) AS den FROM r)
        |SELECT k AS event_type, n,
        |  CASE WHEN vx > 0.0 AND vy > 0.0 THEN rxy END AS r_xy,
        |  CASE WHEN vx > 0.0 AND vz > 0.0 THEN rxz END AS r_xz,
        |  CASE WHEN vy > 0.0 AND vz > 0.0 THEN ryz END AS r_yz,
        |  CASE WHEN vx > 0.0 AND vy > 0.0 AND vz > 0.0 AND den > 0.0
        |    THEN (rxy - rxz * ryz) / sqrt(den) END AS r_partial
        |FROM p""".stripMargin)),

    // ---- stats: Lin's concordance correlation — agreement scored
    //      against the identity line, bias charged ----
    // five exact decimal moments, biased (1/n) central moments,
    // pinned ccc = 2*sxy / (sxx + syy + (mx-my)^2); the gate's
    // pred column is EXACT decimal arithmetic (value*0.9 + 5.0 on
    // the decimal grid — no binary-double tie fuzz at the final
    // half-up rescale to scale 2; DuckDB's decimal DOWNSCALE cast
    // truncates, so the oracle rounds explicitly to match Spark's
    // HALF_UP)
    Gate("q353_lin_ccc", (s, dir) =>
      graft.agg.Stats.linCcc(
        t(s, dir, "events")
          .withColumn("pred",
            col("value").cast("decimal(18,2)") *
              lit(new java.math.BigDecimal("0.9")) +
              lit(new java.math.BigDecimal("5.0"))),
        Seq("event_type"), "value", "pred"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 0.9 + 5.0, 2)
        |      AS DECIMAL(18,2)) AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM b GROUP BY 1),
        |m AS (SELECT k, n, CAST(n AS DOUBLE) AS nd,
        |    sx / CAST(n AS DOUBLE) AS mx, sy / CAST(n AS DOUBLE) AS my,
        |    sxx / CAST(n AS DOUBLE) AS sxxn,
        |    syy / CAST(n AS DOUBLE) AS syyn,
        |    sxy / CAST(n AS DOUBLE) AS sxyn FROM g),
        |c AS (SELECT *, sxxn - mx * mx AS cxx, syyn - my * my AS cyy,
        |    sxyn - mx * my AS cxy FROM m),
        |d AS (SELECT *, cxx + cyy + (mx - my) * (mx - my) AS den
        |  FROM c)
        |SELECT k AS event_type, n, mx AS mean_x, my AS mean_y,
        |  CASE WHEN cxx > 0.0 AND cyy > 0.0
        |    THEN cxy / (sqrt(cxx) * sqrt(cyy)) END AS r,
        |  CASE WHEN den > 0.0 THEN 2.0 * cxy / den END AS ccc
        |FROM d""".stripMargin)),

    // ---- stats: Cohen's d + Hedges' g — exact arm moments, pooled
    //      scatter identity, in-expression debias factor ----
    // exact decimal arm moments (the welchT cells), pooled scatter
    // identity, pinned d closing, debias factor 1 - 3/(4N-9)
    // computed in-expression
    Gate("q345_cohens_d", (s, dir) =>
      graft.agg.Stats.cohensD(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value"), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    sum(CASE WHEN arm = 'a' THEN v END) AS sa,
        |    sum(CASE WHEN arm = 'a' THEN CAST(v * v AS DECIMAL(38,4))
        |      END) AS ssa,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    sum(CASE WHEN arm = 'b' THEN v END) AS sb,
        |    sum(CASE WHEN arm = 'b' THEN CAST(v * v AS DECIMAL(38,4))
        |      END) AS ssb
        |  FROM b GROUP BY 1),
        |c AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nad,
        |    CAST(n_b AS DOUBLE) AS nbd, CAST(sa AS DOUBLE) AS sad,
        |    CAST(sb AS DOUBLE) AS sbd, CAST(ssa AS DOUBLE) AS ssad,
        |    CAST(ssb AS DOUBLE) AS ssbd FROM g),
        |p AS (SELECT *, ((ssad - sad * sad / nad)
        |    + (ssbd - sbd * sbd / nbd)) / (nad + nbd - 2.0) AS pv
        |  FROM c)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN sad / nad END AS mean_a,
        |  CASE WHEN n_b > 0 THEN sbd / nbd END AS mean_b,
        |  CASE WHEN n_a + n_b >= 3 AND n_a > 0 AND n_b > 0
        |      AND pv > 0.0
        |    THEN (sad / nad - sbd / nbd) / sqrt(pv) END AS cohens_d,
        |  CASE WHEN n_a + n_b >= 3 AND n_a > 0 AND n_b > 0
        |      AND pv > 0.0
        |    THEN (sad / nad - sbd / nbd) / sqrt(pv)
        |      * (1.0 - 3.0 / (4.0 * (nad + nbd) - 9.0)) END AS hedges_g
        |FROM p""".stripMargin)),

    // ---- stats: binned quantile regression at τ=0.9 — exact weighted
    //      per-bin quantiles + mass-weighted line through the curve ----
    // stage 1 = the q183 weighted-percentile chain per (key, hour/4
    // bin); stage 2 = the engine's five-double moment fold replayed in
    // bin order (list_reduce, DOUBLE[] state), pinned slope/intercept
    // closings; x_mid = (bin+0.5)*4 computed in-expression
    Gate("q333_quantile_regression", (s, dir) =>
      graft.agg.Stats.quantileRegression(
        t(s, dir, "events")
          .withColumn("x", hour(col("ts")).cast("double"))
          .withColumn("wt1", lit(1.0)),
        Seq("event_type"), "x", "value", "wt1",
        tau = 0.9, binWidth = 4.0), Sql(
      """WITH b AS (SELECT event_type AS k,
        |    CAST(floor(CAST(hour(ts) AS DOUBLE) / 4.0) AS BIGINT) AS bin,
        |    value AS v, CAST(100 AS BIGINT) AS wt
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT *, CAST(sum(wt) OVER (PARTITION BY k, bin
        |      ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(wt) OVER (PARTITION BY k, bin) AS BIGINT) AS tot,
        |    CAST(sum(wt) OVER (PARTITION BY k, bin ORDER BY v
        |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT)
        |      AS tie
        |  FROM b),
        |cells AS (SELECT k, bin, min(v) AS q, max(tot) AS wc,
        |    (CAST(bin AS DOUBLE) + 0.5) * 4.0 AS xm
        |  FROM w
        |  WHERE cum >= CAST(0.9 AS DECIMAL(6,5))
        |      * CAST(tot AS DECIMAL(20,0))
        |    AND cum - tie < CAST(0.9 AS DECIMAL(6,5))
        |      * CAST(tot AS DECIMAL(20,0))
        |  GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(wc AS DOUBLE), xm, q] ORDER BY bin)),
        |    (acc, p) -> [acc[1] + p[1], acc[2] + p[1]*p[2],
        |      acc[3] + p[1]*p[3], acc[4] + p[1]*p[2]*p[2],
        |      acc[5] + p[1]*p[2]*p[3]]) AS m,
        |    count(DISTINCT bin) AS nb
        |  FROM cells GROUP BY 1),
        |l AS (SELECT k, nb, m, m[1]*m[4] - m[2]*m[2] AS den FROM f),
        |l2 AS (SELECT k, m, CASE WHEN nb >= 2 AND den <> 0
        |    THEN (m[1]*m[5] - m[2]*m[3]) / den END AS slope FROM l),
        |l3 AS (SELECT k, slope, CASE WHEN slope IS NOT NULL
        |    THEN (m[3] - slope*m[2]) / m[1] END AS intercept FROM l2)
        |SELECT c.k AS event_type, c.bin, c.xm AS x_mid,
        |  CAST(c.wc AS DOUBLE) / 100.0 AS w, c.q AS q_tau,
        |  l.slope, l.intercept
        |FROM cells c LEFT JOIN l3 l ON l.k = c.k""".stripMargin)),

    // ---- ML eval: isotonic (PAV) calibration — binned score grid,
    //      exact integer-rational pooling, monotone fitted curve ----
    // the engine's PAV fit replayed via the max-min identity
    // g(i) = max_{j<=i} min_{k>=i} avg(j..k) over the bin grid:
    // interval averages are double divisions of exact integer count
    // sums (distinct bin rationals differ by >= 1/maxN^2, far above
    // ulp, so double min/max decide identically), and the selected
    // value IS the pooled block's division — the engine's fitted
    Gate("q332_isotonic", (s, dir) =>
      graft.agg.Stats.isotonicCalibration(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y", bins = 10), Sql(
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type AS k,
        |    least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CASE WHEN y THEN 1 ELSE 0 END AS pos
        |  FROM e WHERE p >= 0 AND p <= 1),
        |cells AS (SELECT k, bin, CAST(count(*) AS BIGINT) AS w,
        |    CAST(sum(pos) AS BIGINT) AS s,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY bin)
        |      AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(sum(w) OVER win AS BIGINT) AS cw,
        |    CAST(sum(s) OVER win AS BIGINT) AS cs
        |  FROM cells WINDOW win AS (PARTITION BY k ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |iv AS (SELECT x.k, x.pos AS j, y.pos AS e,
        |    CAST(y.cs - (x.cs - x.s) AS DOUBLE)
        |      / CAST(y.cw - (x.cw - x.w) AS DOUBLE) AS a
        |  FROM cum x JOIN cum y ON y.k = x.k AND y.pos >= x.pos),
        |mn AS (SELECT iv.k, iv.j, c.pos AS i, min(iv.a) AS m
        |  FROM iv JOIN cells c ON c.k = iv.k AND iv.j <= c.pos
        |    AND iv.e >= c.pos
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT k, i AS pos, max(m) AS fitted FROM mn
        |  GROUP BY 1, 2)
        |SELECT c.k AS event_type, c.bin, c.w AS n, c.s AS n_pos,
        |  f.fitted
        |FROM cells c JOIN fit f ON f.k = c.k AND f.pos = c.pos"""
        .stripMargin))
  )
}
