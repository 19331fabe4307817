package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Undirected-graph structure metrics over edge lists — the
 * market-basket / co-engagement side of the graph family
 * ([[Centrality]] is the directed link-quality side). Reference has
 * no graph operators; this is beyond-reference surface driven by
 * curation workloads (community-shaped duplicate clusters, item
 * co-occurrence features).
 *
 * All outputs are exact integer counts — bit-reproducible in any
 * engine, no float accumulation anywhere.
 */
object Graph {

  /**
   * Build an undirected co-occurrence edge list: items sharing a
   * group (parts in the same order, docs in the same cluster, users
   * in the same session) get an edge. Each unordered pair appears
   * once as `(u, v), u < v`, with `weight` = number of distinct
   * groups the pair co-occurred in.
   *
   * `maxPerGroup` is the MANDATORY skew guard: a group with g items
   * emits g·(g−1)/2 pairs, so one mega-group (a crawl dump where one
   * "session" holds 10^6 events) would emit 10^12 pairs and sink the
   * job. Groups larger than the cap are DROPPED — at curation scale
   * an unbounded group is a pathological key, not signal; the count
   * of dropped groups is not surfaced here (profile first if the cap
   * may bind).
   *
   * Scale posture: one (group, item) distinct shuffle, a per-group
   * size window on the same partitioning, then the self-join emits
   * pairs bounded by groups · cap² — never quadratic in any
   * corpus-level quantity.
   */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        maxPerGroup: Int): DataFrame = {
    require(maxPerGroup >= 2, s"maxPerGroup must be >= 2, got $maxPerGroup")
    val gi = df
      .filter(col(groupCol).isNotNull && col(itemCol).isNotNull)
      .select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .distinct()
      .withColumn("__sz", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .filter(col("__sz") <= maxPerGroup)
      .select("__g", "__i")
    gi.as("x").join(gi.as("y"),
        col("x.__g") === col("y.__g") && col("x.__i") < col("y.__i"))
      .groupBy(col("x.__i").as("u"), col("y.__i").as("v"))
      .agg(count(lit(1)).as("weight"))
  }

  /**
   * Per-vertex triangle counts via the degree-ordered node-iterator
   * (the standard distributed algorithm: orient every edge from its
   * lower-(degree, id) endpoint to the higher, join out-neighbor
   * pairs back against the oriented edges — each triangle is found
   * exactly once, and out-degrees are bounded by √(2m), so the wedge
   * relation is O(m^1.5) worst-case instead of Σ deg², the difference
   * between a power-law graph finishing and not).
   *
   * Input: an undirected edge list (duplicates and self-loops are
   * normalized away). Output: (vertex, n_triangles) for every vertex
   * in at least one triangle — exact longs.
   *
   * Scale posture: degrees are one vertex-keyed count; orientation is
   * two vertex-keyed joins onto the edges; the wedge self-join keys
   * on the hub vertex and its output is the √(2m)-bounded pair set;
   * the closing join keys on the (lo, hi) pair. Nothing driver-side,
   * nothing quadratic in the vertex count.
   */
  def triangleCounts(edges: DataFrame, srcCol: String = "u",
                     dstCol: String = "v"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    triangles(und, degrees(und))
  }

  /** [[triangleCounts]] for internal callers whose edge relation is
   *  ALREADY canonical — distinct (u, v) pairs with u < v, no nulls,
   *  no self-loops (e.g. [[coOccurrenceEdges]] output, distinct u < v
   *  by construction). Skips the re-normalize filter + least/greatest
   *  + `distinct` — a full |E| exchange + hash-aggregate that is a
   *  provable no-op on such input. Still checkpoints the projected
   *  edge set once: it feeds the degree count and both orientation
   *  joins, and its lineage includes the caller's whole edge
   *  derivation. */
  private[graft] def triangleCountsPreNormalized(edges: DataFrame,
      srcCol: String = "u", dstCol: String = "v"): DataFrame = {
    val und = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint(false)
    triangles(und, degrees(und))
  }

  /** The normalized undirected edge set: null endpoints and
   *  self-loops dropped, each pair once as (u, v) with u < v.
   *  Checkpointed: every caller reads it more than once (degrees plus
   *  the joins), and its lineage holds the caller's whole edge
   *  derivation. */
  private def undirected(edges: DataFrame, src: String,
                         dst: String): DataFrame =
    edges
      .filter(col(src).isNotNull && col(dst).isNotNull &&
        col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .distinct()
      .localCheckpoint(false)

  /** (n, d): each vertex of an [[undirected]] edge set and its degree. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** Per-vertex triangle counts over a normalized edge set `und` (u,
   *  v) and its `deg` (n, d) — the caller's own relations, so a
   *  caller that needs the degrees too shares one degree subtree with
   *  this plan (two canonically different copies could never be
   *  deduplicated by AQE stage reuse). `oriented` is deliberately NOT
   *  materialized: measured at sf0.01 and sf0.1, a checkpoint there
   *  LOSES ~1 s — its three consumers (the wedge self-join's two
   *  sides + the closing join) are served by AQE exchange reuse from
   *  one plan, and the RDD barrier breaks that plan into extra jobs
   *  and blocks whole-stage codegen across the boundary. */
  private def triangles(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient (u, v) from the lower (degree, id) endpoint to the
    // higher; carry the head's (degree, id) RANK so wedge pairs can
    // be ordered the same way — the closing edge then matches with
    // ONE equi-join (an either-orientation OR-join would plan as a
    // nested loop)
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("__du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("__dv")), Seq("v"))
      .select(
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b"),
            struct(col("__dv").as("d"), col("v").as("n")).as("rb")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"),
            struct(col("__du").as("d"), col("u").as("n")).as("rb")))
          .as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"),
        col("__e.rb").as("__rb"))
    // wedges at hub a: out-neighbor pairs ordered by the heads' ranks,
    // so the closing edge (if it exists) is oriented exactly w1 → w2
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.__rb") < col("e2.__rb"))
      .select(col("e1.a").as("w0"),
        col("e1.b").as("w1"), col("e2.b").as("w2"))
    val tri = wedges.join(
      oriented.select(col("a").as("w1"), col("b").as("w2")),
      Seq("w1", "w2"))
    tri.select(explode(array(col("w0"), col("w1"), col("w2"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * Local clustering coefficient per vertex: `2·T_v / (d_v·(d_v−1))`
   * — how close each vertex's neighborhood is to a clique. The
   * community-structure signal behind spam-ring detection (dense
   * cliques of colluding accounts ≈ 1) and hub triage (broadcast
   * hubs ≈ 0); pairs with [[triangleCounts]] exactly the way degree
   * pairs with PageRank.
   *
   * Exact: triangle counts from the degree-ordered wedge join
   * ([[triangleCounts]] — each triangle found once), degrees from the
   * normalized undirected edge set, one pinned IEEE division per
   * vertex. Output: (vertex, degree, n_triangles, clustering_coeff)
   * for EVERY vertex of the normalized graph; degree-1 vertices have
   * no defined coefficient (null — no wedge to close).
   *
   * Scale posture: the normalized edge set is checkpointed once and
   * feeds both the degree count and the triangle machinery (which
   * re-reads it, not the caller's edge derivation); the closing is a
   * vertex-keyed left join of two vertex-sized relations.
   */
  def clusteringCoefficient(edges: DataFrame, srcCol: String = "u",
                            dstCol: String = "v"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und)
    val tri = triangles(und, deg)
    val t = col("n_triangles").cast("double")
    val dd = col("d").cast("double")
    deg.join(tri.withColumnRenamed("vertex", "n"), Seq("n"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .select(col("n").as("vertex"), col("d").as("degree"),
        col("n_triangles"),
        when(col("d") >= 2, lit(2.0) * t / (dd * (dd - lit(1.0))))
          .as("clustering_coeff"))
  }

  /**
   * Link prediction by the resource-allocation index: for every
   * non-adjacent vertex pair (u, v) with at least one common
   * neighbor, `score = Σ_z floor(1e12 / deg(z))` over common
   * neighbors z — RA is Adamic-Adar's stronger cousin (Zhou, Lü,
   * Zhang 2009) with 1/deg in place of 1/log deg, which here makes
   * the score an EXACT integer (one floor-division per neighbor,
   * summed as longs — engine-reproducible, no float fold order to
   * pin). Higher = more likely future/missing edge ("people you may
   * know", co-purchase suggestion).
   *
   * Output: (u, v, common_neighbors, score) with u < v, existing
   * edges anti-joined away.
   *
   * `maxDegree`: wedges through a hub z cost deg(z)² pairs, and a
   * hub's contribution per pair is the SMALLEST (1/deg) — so hubs are
   * simultaneously the whole cost and almost none of the signal. The
   * cap drops z with deg(z) > maxDegree from the wedge fan-out
   * (degrees themselves are computed on the FULL graph first) — the
   * standard mitigation, same lever as [[coOccurrenceEdges]]'s
   * basket cap.
   *
   * Scale posture: degrees are one vertex-keyed count; the wedge
   * self-join keys on the capped hub; the candidate aggregation keys
   * on the (u, v) pair; the known-edge removal is a pair-keyed
   * LEFT ANTI join. Nothing is broadcast-sized by construction except
   * what AQE proves small at runtime.
   */
  def linkPredictionRA(edges: DataFrame, srcCol: String = "u",
                       dstCol: String = "v",
                       maxDegree: Int = 64): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und)
    val adj = und.select(col("u").as("__z"), col("v").as("__x"))
      .unionByName(und.select(col("v").as("__z"), col("u").as("__x")))
      .join(deg.filter(col("d") <= maxDegree).select(col("n").as("__z"),
        col("d").as("__dz")), Seq("__z"))
    val cand = adj.as("p").join(adj.as("q"),
        col("p.__z") === col("q.__z") && col("p.__x") < col("q.__x"))
      .groupBy(col("p.__x").as("u"), col("q.__x").as("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        // floor(1e12 / d) as EXACT long: subtract the remainder first
        // so the `/` (double in Spark) divides exactly-divisible longs
        // < 2^53 — no floor-of-rounded-quotient edge
        sum(((lit(1000000000000L) - pmod(lit(1000000000000L),
          col("p.__dz"))) / col("p.__dz")).cast("long")).as("score"))
    cand.join(und, Seq("u", "v"), "left_anti")
  }
  /**
   * k-core of an undirected graph: the maximal subgraph in which
   * every vertex has degree ≥ k — the standard "dense backbone"
   * extraction (spam/bot rings, community nuclei, robust-seed
   * selection) that degree thresholding alone gets wrong (removing a
   * low-degree vertex can drop its neighbors below k too).
   *
   * Classic iterative peel, driver-coordinated: drop all vertices of
   * degree < k, recompute degrees, repeat until stable. The result is
   * ORDER-INDEPENDENT (the k-core is unique), so any engine agrees on
   * the output; only the iteration COUNT is data-dependent, bounded
   * by `maxIterations` (each round removes ≥ 1 vertex, so rounds are
   * bounded by the peel depth — tens, not thousands, on real graphs;
   * an unconverged stop throws rather than returning a non-core).
   *
   * Output: (vertex, degree) over the core's vertices — `degree`
   * counted WITHIN the core. Empty when no k-core exists.
   *
   * Scale posture: per round, one map-side-combined degree count and
   * one key-equi anti-join per endpoint against the violating-vertex
   * set; the edge set rides a lazy localCheckpoint each round (the
   * [[Centrality.pageRank]] lineage discipline). Rounds are actions —
   * the driver sees only a count per round, never data.
   */
  def kCore(edges: DataFrame, k: Int, srcCol: String = "u",
            dstCol: String = "v", maxIterations: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var und = undirected(edges, srcCol, dstCol)
    var i = 0
    var converged = false
    while (!converged && i < maxIterations) {
      val bad = degrees(und).filter(col("d") < k)
        .select(col("n")).localCheckpoint(false)
      if (bad.isEmpty) converged = true
      else {
        und = und
          .join(bad.select(col("n").as("u")), Seq("u"), "left_anti")
          .join(bad.select(col("n").as("v")), Seq("v"), "left_anti")
          .localCheckpoint(false)
        i += 1
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIterations rounds")
    degrees(und).select(col("n").as("vertex"), col("d").as("degree"))
  }

  /**
   * Multi-source BFS: the minimum hop distance (≤ `maxHops`) from any
   * seed vertex over the undirected edge set — neighborhood expansion
   * for influence radii, blast-radius analysis, "within-N-hops-of-a-
   * known-bad-node" risk flags. The answer (a min-distance) is UNIQUE,
   * so it is partition- and engine-order independent by construction.
   *
   * Level-synchronous frontier expansion, driver-coordinated: each
   * round joins the current frontier to the symmetrized edge list
   * (keyed equi-join — broadcastable while the frontier is small,
   * shuffle-join when it isn't; Spark picks per round via AQE),
   * dedups, and anti-joins the visited set, so a vertex is emitted
   * exactly once at its first (= minimum) hop count. The driver sees
   * only an emptiness flag per round, never data; lineage is cut with
   * a lazy localCheckpoint per round (the [[kCore]] discipline).
   *
   * Output: (vertex, hops) for every vertex within `maxHops` of a
   * seed, seeds included at 0. Self-loops ignored; null endpoints
   * dropped; seeds need not appear in the edge set.
   *
   * Scale posture: per round, ONE equi-join frontier⋈edges + one
   * anti-join against visited — both key-partitioned; nothing is ever
   * collected. Frontier size is monotone-bounded by |V|; rounds are
   * exactly `maxHops` or fewer (early exit on an empty frontier).
   */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
              srcCol: String = "u", dstCol: String = "v",
              seedCol: String = "vertex"): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val base = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("__s"), col(dstCol).as("__t"))
    val und = base
      .unionByName(base.select(col("__t").as("__s"), col("__s").as("__t")))
      .distinct()
      .localCheckpoint(false)
    var visited = seeds.select(col(seedCol).as("vertex")).distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint(false)
    var frontier = visited
    var h = 0L
    while (h < maxHops && !frontier.isEmpty) {
      h += 1
      frontier = frontier.select(col("vertex").as("__s"))
        .join(und, Seq("__s"))
        .select(col("__t").as("vertex")).distinct()
        .join(visited.select("vertex"), Seq("vertex"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint(false)
      visited = visited.unionByName(frontier).localCheckpoint(false)
    }
    visited
  }

  /**
   * Degree assortativity of an undirected graph (Newman's r): the
   * Pearson correlation of the degrees at the two ends of an edge,
   * over BOTH orientations — positive means hubs link to hubs
   * (social-network shape), negative means hubs link to leaves
   * (hub-and-spoke / star shape, typical for co-purchase and
   * dependency graphs). The one-number complement to [[modularity]]'s
   * per-community view.
   *
   * Exact: with both orientations Σx = Σy and Σx² = Σy², so
   * `r = (nΣxy − Sx²)/(nΣxx − Sx²)` where every moment is an EXACT
   * integer (degree products in long, summed as decimal(38,0);
   * n = 2m) and the closing is ONE division of two correctly-rounded
   * double casts. A degree-regular graph has zero variance → null.
   *
   * Output: one row — (n_nodes, n_edges, assortativity).
   *
   * Scale posture: edge normalization one distinct (checkpointed —
   * it feeds degrees AND the endpoint join); degrees one vertex-keyed
   * count; two vertex-keyed joins onto the edges; ONE global moment
   * collapse (map-side); the node count attaches broadcast.
   */
  def assortativity(edges: DataFrame, srcCol: String = "u",
                    dstCol: String = "v"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und)
    val j = und
      .join(deg.select(col("n").as("u"), col("d").as("__du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("__dv")), Seq("v"))
    val mom = j.agg(count(lit(1)).as("n_edges"),
      sum((col("__du") + col("__dv")).cast("decimal(38,0)")).as("__sx"),
      sum((col("__du") * col("__dv")).cast("decimal(38,0)")).as("__sp"),
      sum((col("__du") * col("__du") + col("__dv") * col("__dv"))
        .cast("decimal(38,0)")).as("__sxx"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val n2 = (col("n_edges") * 2L).cast("decimal(38,0)")
    val num = n2 * (col("__sp") * 2L) - col("__sx") * col("__sx")
    val den = n2 * col("__sxx") - col("__sx") * col("__sx")
    mom.crossJoin(broadcast(nn))
      .select(col("n_nodes"), col("n_edges"),
        when(den =!= 0L, num.cast("double") / den.cast("double"))
          .as("assortativity"))
  }

  /**
   * Newman modularity of a node partition, per community:
   * `Q_c = m_c/m − (D_c/2m)²` where `m` is the undirected edge count,
   * `m_c` the edges with both endpoints in `c`, and `D_c` the sum of
   * member degrees — `Q = Σ_c Q_c` is THE standard partition-quality
   * score (how much denser each community is than a degree-preserving
   * random rewiring; ~0.3+ signals real structure). Pairs with
   * [[graft.llm.Dedup.components]] / [[graft.join.Spatial.gridClusters]]
   * to SCORE the clustering they produce, the way degree pairs with
   * PageRank.
   *
   * Also emits each community's CUT and CONDUCTANCE — both free from
   * the same cells: `cut_c = D_c − 2m_c` (edges leaving c) and
   * `φ_c = cut_c / min(D_c, 2m − D_c)` (the bottleneck ratio, low =
   * well-separated; null when the min volume is 0 — an isolated or
   * whole-graph community has no defined bottleneck).
   *
   * Per-community output (no cross-community sum — the caller sums,
   * avoiding a pinned-order global fold): (community, n_nodes,
   * internal_edges, degree_sum, cut_edges, contribution,
   * conductance), every count an exact
   * integer and each closing ONE pinned IEEE chain. The
   * assignment must cover the graph's nodes ([[graft.llm.Dedup
   * .components]] output is total over paired nodes); an unassigned
   * node still counts in `m` but joins no community — partial
   * assignments score the assigned sub-partition.
   *
   * Scale posture: edge normalization is one distinct; degrees one
   * vertex-keyed count; community cells are two node-keyed joins of
   * the assignment onto edges/degrees and map-side collapses; `m`
   * attaches as a broadcast one-row scalar. Nothing quadratic,
   * nothing driver-side.
   */
  def modularity(edges: DataFrame, assignment: DataFrame,
                 srcCol: String = "u", dstCol: String = "v",
                 nodeCol: String = "node",
                 communityCol: String = "community"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val asg = assignment
      .filter(col(nodeCol).isNotNull && col(communityCol).isNotNull)
      .select(col(nodeCol).as("n"), col(communityCol).as("community"))
      .distinct()
    val comm = degrees(und).join(asg, Seq("n"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
    val internal = und
      .join(asg.select(col("n").as("u"), col("community").as("__cu")),
        Seq("u"))
      .join(asg.select(col("n").as("v"), col("community").as("__cv")),
        Seq("v"))
      .filter(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val mTotal = und.agg(count(lit(1)).as("__m"))
    val cells = comm
      .join(internal, Seq("community"), "left")
      .withColumn("internal_edges",
        coalesce(col("internal_edges"), lit(0L)))
      .crossJoin(broadcast(mTotal))
    val m = col("__m").cast("double")
    val frac = col("degree_sum").cast("double") / (lit(2.0) * m)
    val cut = col("degree_sum") - lit(2L) * col("internal_edges")
    val minVol = least(col("degree_sum"),
      lit(2L) * col("__m") - col("degree_sum"))
    cells.select(col("community"), col("n_nodes"),
      col("internal_edges"), col("degree_sum"),
      cut.as("cut_edges"),
      when(col("__m") > 0L,
        col("internal_edges").cast("double") / m - frac * frac)
        .as("contribution"),
      when(minVol > 0L, cut.cast("double") / minVol.cast("double"))
        .as("conductance"))
  }
}
