package graft
package gates

import org.apache.spark.sql.functions._

import graft.llm.{TextAnalysis => TA}

import GateSupport._
import Oracle.Sql

/** `graft.graph.Graph`, `Centrality`, `graft.join.Spatial` and
 *  `graft.mining.Associations`. */
private[graft] object GraphGates {

  val gates: Seq[Gate] = Seq(
    // ---- LLM ops: link-graph centrality prior (fixed-point PageRank,
    //      3 sweeps, damping 85/100) over the customer→supplier order
    //      graph — the web-graph quality-prior shape; INTEGER
    //      arithmetic throughout, so sweeps replay exactly in SQL ----
    // replays the three fixed-point sweeps exactly: integer floor
    // divisions (// on positive BIGINTs ≡ Spark's div), order-free
    // integer sums, 150000 = (100−85)·SCALE/100 teleport base
    Gate("q122_pagerank", (s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      graft.graph.Centrality.pageRank(edges, "src", "dst", iterations = 3)
    }, Sql(
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |n AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
        |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY 1),
        |r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS r FROM n),
        |m1 AS (SELECT e.dst AS node_id, sum(r0.r // dg.odeg) AS m
        |       FROM e JOIN r0 ON r0.node_id = e.src JOIN dg ON dg.src = e.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.node_id,
        |         CAST(150000 + (85 * coalesce(m1.m, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN m1 USING (node_id)),
        |m2 AS (SELECT e.dst AS node_id, sum(r1.r // dg.odeg) AS m
        |       FROM e JOIN r1 ON r1.node_id = e.src JOIN dg ON dg.src = e.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.node_id,
        |         CAST(150000 + (85 * coalesce(m2.m, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN m2 USING (node_id)),
        |m3 AS (SELECT e.dst AS node_id, sum(r2.r // dg.odeg) AS m
        |       FROM e JOIN r2 ON r2.node_id = e.src JOIN dg ON dg.src = e.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.node_id,
        |         CAST(150000 + (85 * coalesce(m3.m, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN m3 USING (node_id))
        |SELECT node_id, r AS rank_fp FROM r3""".stripMargin)),

    // ---- graph: per-part triangle counts on the co-order
    //      market-basket graph (degree-ordered node-iterator) ----
    // r20: routed through the pre-normalized triangle path —
    // coOccurrenceEdges output is distinct (u < v) by construction, so
    // the public path's re-normalize (filter + least/greatest +
    // distinct over |E|) was a provable no-op costing one exchange +
    // hash-aggregate (r19 verdict #1); results are hash-identical
    // co-order pair edges under the ≤8-items-per-order skew cap, then
    // the same degree-ordered orientation / wedge / closing-edge
    // joins the Spark side runs (row-value comparisons = struct ranks)
    Gate("q152_triangles", (s, dir) =>
      graft.graph.Graph.triangleCountsPreNormalized(
        graft.graph.Graph.coOccurrenceEdges(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8)), Sql(
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i, count(*) OVER (PARTITION BY g) AS sz
        |       FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT x.i AS u, y.i AS v FROM gs x
        |      JOIN gs y ON x.g = y.g AND x.i < y.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS rd
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |w AS (SELECT e1.a AS w0, e1.b AS w1, e2.b AS w2 FROM o e1 JOIN o e2
        |      ON e1.a = e2.a AND (e1.rd, e1.b) < (e2.rd, e2.b)),
        |tr AS (SELECT w0, w1, w2 FROM w JOIN o ON o.a = w.w1 AND o.b = w.w2)
        |SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles FROM
        |  (SELECT w0 AS vertex FROM tr UNION ALL SELECT w1 FROM tr
        |   UNION ALL SELECT w2 FROM tr)
        |GROUP BY 1""".stripMargin)),

    // ---- mining: market-basket association rules over order baskets
    //      (support / confidence / lift on exact integer counts) ----
    // exact integer pair/item/basket counts; support/confidence/lift
    // replay the pinned division order
    Gate("q201_assoc_rules", (s, dir) =>
      graft.mining.Associations.rules(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairSupport = 2L, maxPerGroup = 8), Sql(
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gi AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi0) WHERE sz <= 8),
        |nb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM gi),
        |it AS (SELECT i, CAST(count(*) AS BIGINT) AS s FROM gi GROUP BY 1),
        |p AS (SELECT x.i AS a, y.i AS b, CAST(count(*) AS BIGINT) AS ps
        |      FROM gi x JOIN gi y ON x.g = y.g AND x.i < y.i GROUP BY 1, 2
        |      HAVING count(*) >= 2),
        |r AS (SELECT a AS ante, b AS cons, ps FROM p
        |      UNION ALL SELECT b, a, ps FROM p)
        |SELECT r.ante AS antecedent, r.cons AS consequent, ps AS n_pair,
        |  ia.s AS n_antecedent, ic.s AS n_consequent, nb.n AS n_baskets,
        |  CAST(ps AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
        |  CAST(ps AS DOUBLE) / CAST(ia.s AS DOUBLE) AS confidence,
        |  (CAST(ps AS DOUBLE) / CAST(ia.s AS DOUBLE))
        |    / (CAST(ic.s AS DOUBLE) / CAST(nb.n AS DOUBLE)) AS lift
        |FROM r JOIN it ia ON ia.i = r.ante
        |       JOIN it ic ON ic.i = r.cons CROSS JOIN nb""".stripMargin)),

    // ---- graph: resource-allocation link prediction on the co-order
    //      part graph (integer-exact Σ floor(1e12/deg) scores) ----
    // integer-exact RA scores (floor division); candidates minus the
    // known edge list
    Gate("q203_link_prediction", (s, dir) =>
      graft.graph.Graph.linkPredictionRA(
        graft.graph.Graph.coOccurrenceEdges(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8)
          .select(col("u"), col("v")), maxDegree = 60), Sql(
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gi AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi0) WHERE sz <= 8),
        |e AS (SELECT x.i AS u, y.i AS v FROM gi x
        |      JOIN gi y ON x.g = y.g AND x.i < y.i GROUP BY 1, 2),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |adj AS (SELECT a.z, a.x, deg.d FROM
        |  (SELECT u AS z, v AS x FROM e UNION ALL SELECT v AS z, u AS x FROM e) a
        |  JOIN deg ON deg.n = a.z WHERE deg.d <= 60),
        |cand AS (SELECT p.x AS u, q.x AS v,
        |    CAST(count(*) AS BIGINT) AS common_neighbors,
        |    CAST(sum(1000000000000 // p.d) AS BIGINT) AS score
        |  FROM adj p JOIN adj q ON p.z = q.z AND p.x < q.x GROUP BY 1, 2)
        |SELECT c.u, c.v, common_neighbors, score FROM cand c
        |LEFT JOIN e ON e.u = c.u AND e.v = c.v WHERE e.u IS NULL""".stripMargin)),

    // ---- graph: local clustering coefficient over the q152
    //      co-purchase graph — community density per vertex ----
    // the q152 triangle replay + degrees; 2T/(d(d-1)), null below
    // degree 2
    Gate("q234_clustering_coeff", (s, dir) =>
      graft.graph.Graph.clusteringCoefficient(
        graft.graph.Graph.coOccurrenceEdges(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8)), Sql(
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i, count(*) OVER (PARTITION BY g) AS sz
        |       FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT x.i AS u, y.i AS v FROM gs x
        |      JOIN gs y ON x.g = y.g AND x.i < y.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS rd
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |w AS (SELECT e1.a AS w0, e1.b AS w1, e2.b AS w2 FROM o e1 JOIN o e2
        |      ON e1.a = e2.a AND (e1.rd, e1.b) < (e2.rd, e2.b)),
        |tr AS (SELECT w0, w1, w2 FROM w JOIN o ON o.a = w.w1 AND o.b = w.w2),
        |tc AS (SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles FROM
        |  (SELECT w0 AS vertex FROM tr UNION ALL SELECT w1 FROM tr
        |   UNION ALL SELECT w2 FROM tr)
        |  GROUP BY 1)
        |SELECT deg.n AS vertex, deg.d AS degree,
        |  coalesce(n_triangles, 0) AS n_triangles,
        |  CASE WHEN deg.d >= 2 THEN 2.0 * CAST(coalesce(n_triangles, 0) AS DOUBLE)
        |    / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0)) END
        |    AS clustering_coeff
        |FROM deg LEFT JOIN tc ON tc.vertex = deg.n""".stripMargin)),

    // ---- graph: k-core backbone of the co-purchase graph at
    //      k = min degree + 1 (forces a real peel on any fixture
    //      realization); iterative driver-coordinated peel ----
    // the iterative peel as a recursive CTE over the SYMMETRIC edge
    // set (both-position window counts are then true degrees); the
    // k-core is unique so the engine's driver loop must land on the
    // same set; final guard returns empty if unconverged at the bound
    Gate("q249_kcore", (s, dir) => {
      // checkpoint: the edge build feeds the k-selection degree scan
      // (twice, via the union) AND the peel — without the cut the
      // pair self-join runs 3x (sf0.1 warm 4.7 → 3.3 s, 21 → 18
      // jobs, measured)
      val edges = graft.graph.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", maxPerGroup = 8)
        .localCheckpoint(false)
      val deg = edges.select(col("u").as("n"))
        .unionByName(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      // ONE scalar collected (the q85-threshold precedent): the gate's
      // k rides the data so the peel is nontrivial at every SF
      val k = deg.agg(min(col("d")).as("m")).head.getLong(0) + 1
      graft.graph.Graph.kCore(edges, k.toInt)
    }, Sql(
      """WITH RECURSIVE gi AS (SELECT DISTINCT l_orderkey AS g,
        |    l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i) AS v
        |      FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |sym AS (SELECT u AS n, m FROM (SELECT u, v AS m FROM e
        |        UNION ALL SELECT v, u FROM e) s(u, m)),
        |degs AS (SELECT n, count(*) AS d FROM sym GROUP BY 1),
        |kv AS (SELECT CAST(min(d) + 1 AS BIGINT) AS k FROM degs),
        |peel(iter, n, m) AS (
        |  SELECT 0, n, m FROM sym
        |  UNION ALL
        |  SELECT iter + 1, n, m FROM (
        |    SELECT iter, n, m, cn, cm,
        |      max(CASE WHEN cn < (SELECT k FROM kv)
        |          OR cm < (SELECT k FROM kv) THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY iter) AS anyviol
        |    FROM (SELECT iter, n, m,
        |        count(*) OVER (PARTITION BY iter, n) AS cn,
        |        count(*) OVER (PARTITION BY iter, m) AS cm
        |      FROM peel) s1
        |  ) s2 WHERE iter < 50 AND anyviol = 1
        |    AND cn >= (SELECT k FROM kv) AND cm >= (SELECT k FROM kv)
        |),
        |last AS (SELECT n, m FROM peel
        |         WHERE iter = (SELECT max(iter) FROM peel)),
        |chk AS (SELECT n, count(*) AS d FROM last GROUP BY 1),
        |ok AS (SELECT CASE WHEN min(d) >= (SELECT k FROM kv)
        |       THEN 1 ELSE 0 END AS conv FROM chk)
        |SELECT CAST(n AS BIGINT) AS vertex, CAST(d AS BIGINT) AS degree
        |FROM chk WHERE (SELECT conv FROM ok) = 1""".stripMargin)),

    // ---- spatial: grid-bucketed radius self-join over hash-planted
    //      integer coordinates — exact d² ≤ r², no cross join ----
    // the textbook O(n²) distance sweep the engine's grid join must
    // reproduce exactly — all-integer coordinates and d²
    Gate("q261_radius_join", (s, dir) => {
      val pts = t(s, dir, "customer").select(
        col("c_custkey"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("x"))),
          lit(1000000L)).as("x"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("y"))),
          lit(1000000L)).as("y"))
      graft.join.Spatial.radiusJoin(
        pts.select(col("c_custkey").as("src_id"), col("x"), col("y")),
        pts.select(col("c_custkey").as("dst_id"), col("x"), col("y")),
        "src_id", "x", "y", "dst_id", "x", "y", radius = 25000L)
        .filter(col("src_id") < col("dst_id"))
    }, Sql(
      """WITH p AS (SELECT c_custkey,
        |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 8))
        |      ::BIGINT % 1000000 AS x,
        |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))
        |      ::BIGINT % 1000000 AS y
        |  FROM customer)
        |SELECT a.c_custkey AS src_id, b.c_custkey AS dst_id,
        |  CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    AS BIGINT) AS d2
        |FROM p a JOIN p b ON a.c_custkey < b.c_custkey
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 625000000""".stripMargin)),

    // ---- spatial: grid-density clustering (DBSCAN-lite) over the
    //      q261 hash-planted coordinates — dense cells merge via
    //      8-adjacency components, sparse points are noise ----
    // dense cells + 8-adjacency transitive closure (the q45 reach
    // CTE), min-cell-label components, sparse points null
    Gate("q319_grid_clusters", (s, dir) => {
      val pts = t(s, dir, "customer").select(
        col("c_custkey"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("x"))),
          lit(1000000L)).as("x"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("y"))),
          lit(1000000L)).as("y"))
      graft.join.Spatial.gridClusters(pts, "c_custkey", "x", "y",
        cellSize = 50000L, minPts = 6L)
    }, Sql(
      """WITH RECURSIVE pts AS (SELECT c_custkey AS id,
        |    ('0x'||substr(md5(CAST(c_custkey AS VARCHAR)||'x'),1,8))::BIGINT
        |      % 1000000 AS x,
        |    ('0x'||substr(md5(CAST(c_custkey AS VARCHAR)||'y'),1,8))::BIGINT
        |      % 1000000 AS y
        |  FROM customer),
        |b AS (SELECT id,
        |    CAST(floor(CAST(x AS DOUBLE) / 50000) AS BIGINT) AS cx,
        |    CAST(floor(CAST(y AS DOUBLE) / 50000) AS BIGINT) AS cy
        |  FROM pts),
        |dense AS (SELECT cx, cy,
        |    CAST(cx AS VARCHAR) || ':' || CAST(cy AS VARCHAR) AS cell
        |  FROM (SELECT cx, cy, count(*) AS n FROM b GROUP BY 1, 2)
        |  WHERE n >= 6),
        |e0 AS (SELECT a.cell AS c1, bb.cell AS c2 FROM dense a
        |  JOIN dense bb ON abs(a.cx - bb.cx) <= 1
        |    AND abs(a.cy - bb.cy) <= 1 AND a.cell < bb.cell),
        |e AS (SELECT c1 AS a, c2 AS b FROM e0
        |      UNION SELECT c2, c1 FROM e0),
        |reach AS (
        |  SELECT a AS node, a AS r FROM e
        |  UNION
        |  SELECT reach.node, e.b AS r FROM reach JOIN e ON reach.r = e.a
        |),
        |comp AS (SELECT node, MIN(r) AS component FROM reach
        |  GROUP BY node),
        |lab AS (SELECT d.cx, d.cy,
        |    coalesce(c.component, d.cell) AS cluster
        |  FROM dense d LEFT JOIN comp c ON c.node = d.cell)
        |SELECT b.id AS c_custkey, b.cx AS cell_x, b.cy AS cell_y,
        |  lab.cluster
        |FROM b LEFT JOIN lab ON lab.cx = b.cx AND lab.cy = b.cy""".stripMargin)),

    // ---- graph: HITS hubs & authorities — fixed-point integer
    //      sweeps with max-normalization, the q122 discipline ----
    // the q122 fixed-point discipline: integer sums, max-normalize
    // via (v * 1e6) // max per phase, auth-then-hub per sweep, two
    // static sweeps unrolled
    Gate("q336_hits", (s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      graft.graph.Centrality.hits(edges, "src", "dst", iterations = 2)
    }, Sql(
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |n AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
        |s0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS h FROM n),
        |ra1 AS (SELECT e.dst AS node_id, CAST(sum(s0.h) AS BIGINT) AS v
        |        FROM e JOIN s0 ON s0.node_id = e.src GROUP BY 1),
        |fa1 AS (SELECT n.node_id, coalesce(ra1.v, 0) AS v
        |        FROM n LEFT JOIN ra1 USING (node_id)),
        |a1 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS a
        |        FROM fa1 CROSS JOIN (SELECT max(v) AS mx FROM fa1)),
        |rh1 AS (SELECT e.src AS node_id, CAST(sum(a1.a) AS BIGINT) AS v
        |        FROM e JOIN a1 ON a1.node_id = e.dst GROUP BY 1),
        |fh1 AS (SELECT n.node_id, coalesce(rh1.v, 0) AS v
        |        FROM n LEFT JOIN rh1 USING (node_id)),
        |h1 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS h
        |        FROM fh1 CROSS JOIN (SELECT max(v) AS mx FROM fh1)),
        |ra2 AS (SELECT e.dst AS node_id, CAST(sum(h1.h) AS BIGINT) AS v
        |        FROM e JOIN h1 ON h1.node_id = e.src GROUP BY 1),
        |fa2 AS (SELECT n.node_id, coalesce(ra2.v, 0) AS v
        |        FROM n LEFT JOIN ra2 USING (node_id)),
        |a2 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS a
        |        FROM fa2 CROSS JOIN (SELECT max(v) AS mx FROM fa2)),
        |rh2 AS (SELECT e.src AS node_id, CAST(sum(a2.a) AS BIGINT) AS v
        |        FROM e JOIN a2 ON a2.node_id = e.dst GROUP BY 1),
        |fh2 AS (SELECT n.node_id, coalesce(rh2.v, 0) AS v
        |        FROM n LEFT JOIN rh2 USING (node_id)),
        |h2 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS h
        |        FROM fh2 CROSS JOIN (SELECT max(v) AS mx FROM fh2))
        |SELECT h2.node_id, h2.h AS hub_fp, a2.a AS auth_fp
        |FROM h2 JOIN a2 USING (node_id)""".stripMargin)),

    // ---- graph: degree assortativity — exact integer moments over
    //      both edge orientations, one closing division ----
    // the q274 edge replay + exact integer degree moments over both
    // orientations; r = (nΣxy − Sx²)/(nΣxx − Sx²), one double close
    // (DuckDB sums promote to HUGEINT — exact like the engine's
    // decimal(38,0); both casts to double correctly round the same
    // integer)
    Gate("q329_assortativity", (s, dir) =>
      graft.graph.Graph.assortativity(
        graft.graph.Graph.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          maxPerGroup = 8)), Sql(
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i)
        |      AS v FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |j AS (SELECT du.d AS du, dv.d AS dv FROM e
        |  JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    sum(du + dv) AS sx, sum(du * dv) AS sp,
        |    sum(du * du + dv * dv) AS sxx FROM j),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, n_edges,
        |  CASE WHEN (2 * n_edges) * sxx - sx * sx <> 0 THEN
        |    CAST((2 * n_edges) * (2 * sp) - sx * sx AS DOUBLE)
        |    / CAST((2 * n_edges) * sxx - sx * sx AS DOUBLE)
        |  END AS assortativity
        |FROM mom CROSS JOIN nn""".stripMargin)),

    // ---- graph: Newman modularity of a partition — per-community
    //      Q_c = m_c/m − (D_c/2m)² over the co-purchase graph, a
    //      deterministic node%8 partition so the oracle replays the
    //      METRIC with no transitive closure ----
    // the q274 co-occurrence edge replay + exact integer community
    // cells; contribution chain verbatim (ie/m − (ds/2m)²)
    Gate("q328_modularity", (s, dir) => {
      // checkpoint: the edge build (pair self-join over lineitem)
      // feeds BOTH the node/assignment derivation and modularity's
      // normalization — without the cut it runs twice (measured at
      // sf0.1: warm 5.2 → 2.9 s, 23 → 18 jobs; the ~10 s cold draw
      // is the graph family's shared JIT warmup, see PLANS.md r15)
      val edges = graft.graph.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", maxPerGroup = 8)
        .localCheckpoint(false)
      val nodes = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node"))).distinct()
      graft.graph.Graph.modularity(edges,
        nodes.withColumn("community", pmod(col("node"), lit(8L))))
    }, Sql(
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i)
        |      AS v FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |nodes AS (SELECT DISTINCT u AS n FROM e
        |          UNION SELECT DISTINCT v FROM e),
        |asg AS (SELECT n, n % 8 AS c FROM nodes),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |comm AS (SELECT c AS community,
        |    CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d) AS BIGINT) AS degree_sum
        |  FROM deg JOIN asg USING (n) GROUP BY 1),
        |net AS (SELECT au.c AS community,
        |    CAST(count(*) AS BIGINT) AS internal_edges
        |  FROM e JOIN asg au ON e.u = au.n JOIN asg av ON e.v = av.n
        |  WHERE au.c = av.c GROUP BY 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
        |SELECT community, n_nodes,
        |  CAST(coalesce(internal_edges, 0) AS BIGINT) AS internal_edges,
        |  degree_sum,
        |  CAST(degree_sum - 2 * coalesce(internal_edges, 0) AS BIGINT)
        |    AS cut_edges,
        |  CASE WHEN m > 0 THEN
        |    CAST(coalesce(internal_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)
        |    - (CAST(degree_sum AS DOUBLE)
        |        / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))
        |      * (CAST(degree_sum AS DOUBLE)
        |        / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))
        |  END AS contribution,
        |  CASE WHEN least(degree_sum, 2 * m - degree_sum) > 0 THEN
        |    CAST(degree_sum - 2 * coalesce(internal_edges, 0) AS DOUBLE)
        |    / CAST(least(degree_sum, 2 * m - degree_sum) AS DOUBLE)
        |  END AS conductance
        |FROM comm LEFT JOIN net USING (community) CROSS JOIN mm""".stripMargin)),

    // ---- graph: multi-source BFS hop distance (≤3) from the %97
    //      seed set over the co-purchase graph — level-synchronous
    //      frontier expansion, unique min-distance answer ----
    // BFS distance as min over the depth-bounded reachability CTE
    // (UNION-dedup keeps states finite); same co-purchase edge set
    // and %97 seed rule as the engine
    Gate("q274_bfs_hops", (s, dir) => {
      // checkpoint: the edge build feeds the seed derivation (twice,
      // via the vertex union) AND bfsHops' own normalization —
      // without the cut the pair self-join runs 3x
      val edges = graft.graph.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", maxPerGroup = 8)
        .localCheckpoint(false)
      val verts = edges.select(col("u").as("vertex"))
        .unionByName(edges.select(col("v").as("vertex"))).distinct()
      val seeds = verts.filter(pmod(col("vertex"), lit(97)) === 0)
      graft.graph.Graph.bfsHops(edges, seeds, maxHops = 3)
    }, Sql(
      """WITH RECURSIVE gi AS (SELECT DISTINCT l_orderkey AS g,
        |    l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i) AS v
        |      FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |sym AS (SELECT u AS s, v AS t FROM e
        |        UNION ALL SELECT v, u FROM e),
        |seeds AS (SELECT DISTINCT s AS v FROM sym WHERE s % 97 = 0),
        |walk(v, d) AS (
        |  SELECT v, 0 FROM seeds
        |  UNION
        |  SELECT sym.t, walk.d + 1 FROM walk JOIN sym ON walk.v = sym.s
        |  WHERE walk.d < 3
        |)
        |SELECT CAST(v AS BIGINT) AS vertex, CAST(min(d) AS BIGINT) AS hops
        |FROM walk GROUP BY 1""".stripMargin))
  )
}
