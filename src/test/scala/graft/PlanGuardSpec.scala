package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale claims PLANS.md makes
 *  (partial aggregation, top-k pushdown, broadcast enrichment) are
 *  plan SHAPES — pin them so a future refactor that silently
 *  de-optimizes a path fails here, not in the next benchmark. Plans
 *  are inspected AFTER an action so AQE has finalized its choices. */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q01 groupBy aggregates map-side (partial + final HashAggregate)") {
    val p = finalPlan("q01_groupby_agg")
    assert(p.contains("partial_"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("q13 sort+limit plans as TakeOrderedAndProject, not a global sort") {
    val p = finalPlan("q13_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q27 top-k window uses WindowGroupLimit pushdown") {
    val p = finalPlan("q27_embedding_topk")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("q121 winnowing pair emission is JOIN-FREE (cap = window count, not set-join)") {
    val p = finalPlan("q121_copied_spans")
    // the earlier kept-set semi-join let AQE broadcast a corpus-sized
    // fingerprint set (blew driver maxResultSize at 64×); the window-
    // count formulation must keep the whole pipeline join-free
    assert(!p.contains("Join"), p.take(1200))
    assert(!p.contains("BroadcastExchange"), p.take(1200))
  }

  test("q118 BM25 broadcasts the query side and keeps top-k partial") {
    val p = finalPlan("q118_bm25_topk")
    // the per-query rank<=k filter must stay a WindowGroupLimit so the
    // per-query exchange is bounded by candidates, not the corpus
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    // query-term set, df map, corpus stats, and qid attach are all
    // broadcast — the only non-broadcast joins key on doc id
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(1200))
    // postings prune BEFORE the doc-length join: no full-corpus
    // cartesian anywhere
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q114 repetition signals are one shuffle-free codegen'd scan") {
    val p = finalPlan("q114_repetition")
    // per-row sorted-run kernels: the whole gate must stay a narrow
    // projection over the scan — an Exchange here means someone
    // reintroduced the explode + corpus-wide-groupBy mode formulation
    assert(!p.contains("Exchange"), p.take(1200))
    // "*(1) Project" — the executedPlan string marks codegen spans
    // with "*(n)"; the kernels must not fall back to interpreted
    // projection
    assert(p.contains("*(1) Project"), p.take(1200))
  }

  test("q139 hard negatives broadcast the query side and keep top-k partial") {
    val p = finalPlan("q139_hard_negatives")
    // band filter + rank<=k must pre-limit per partition; the corpus
    // joins the broadcast query side (non-equi ⇒ nested loop over the
    // broadcast), never a corpus shuffle
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("q140 prototype prune is join-free: one cluster exchange serves both windows") {
    // count only the FINAL plan — AdaptiveSparkPlan's toString repeats
    // the tree under "== Initial Plan ==" and would double-count
    val p = finalPlan("q140_prototype_prune").split("== Initial Plan ==")(0)
    // assignment is a broadcast-literal projection (no join) and the
    // count + rank windows share the single cluster partitioning
    assert(!p.contains("Join"), p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("q141 vocab coverage never ships the vocabulary to one partition") {
    val p = finalPlan("q141_vocab_coverage")
    // the global rank<=topN must pre-cut per partition — as a
    // TakeOrderedAndProject below the rank window (the optimizer's
    // limit-pushdown of a global row_number filter: distributed
    // per-partition top-N + merge) or at least a Partial
    // WindowGroupLimit; a bare single-partition Sort over the full
    // vocabulary fails
    assert(p.contains("TakeOrderedAndProject") ||
      (p.contains("WindowGroupLimit") && p.contains("Partial")), p.take(1500))
  }

  test("q142 retention: no cartesian, partial aggregation throughout") {
    val p = finalPlan("q142_retention")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("partial_"), p.take(1200))
  }

  test("q144 chi-square drift: category/total sides broadcast, no cartesian blowup") {
    val p = finalPlan("q144_chisq_drift")
    // the only corpus-sized relation is the (source, token) count;
    // category table (topV+1 rows), totals (1 row) and the grid all
    // join broadcast — a SortMergeJoin means a vocab- or corpus-sized
    // relation leaked into the grid side
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q145 winsorize: edge relation joins broadcast, clamp is a projection") {
    val p = finalPlan("q145_winsorize")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // |groups|×2 edge rows must come back as the broadcast side
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("q53 decontamination broadcasts the benchmark grams") {
    val p = finalPlan("q53_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(800))
  }

  test("q24 minhash computes signatures once: checkpoint scan, no agg in final plan") {
    val p = finalPlan("q24_minhash")
    // Signatures materialize once in the localCheckpoint job; the final
    // plan reads the blocks (Scan ExistingRDD) on the band sides and
    // AQE reuses the band-key exchange — the signature aggregation
    // (partial_min towers) must NOT appear here, or a refactor has
    // reintroduced the compute-twice shape.
    assert(p.contains("Scan ExistingRDD"), p.take(1200))
    assert(p.contains("ReusedExchange"), p.take(1200))
    assert(!p.contains("partial_min"), p.take(1200))
  }

  test("q54 line dedup keeps first occurrences via WindowGroupLimit partial pushdown") {
    val p = finalPlan("q54_line_dedup")
    // The line-skew mitigation: top-1 per line is cut to one row per
    // partition BEFORE the line shuffle (Partial WindowGroupLimit), so
    // a million-copy boilerplate line ships ~#partitions rows, not all.
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(p.contains("Partial"), p.take(1200))
  }

  test("q03 filter chain pushes simple predicates into the parquet scan") {
    val p = finalPlan("q03_filter_chain")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"), p.take(1200))
  }

  test("q91 partitioned scan prunes directories at planning time") {
    val p = finalPlan("q91_partitioned_scan")
    // the lang predicate must sit INSIDE the PartitionFilters bracket,
    // not merely appear somewhere in the plan string
    assert("""PartitionFilters: \[[^\]]*lang""".r.findFirstIn(p).isDefined,
      p.take(1200))
    // the partition column never appears as a post-scan data filter
    assert(!p.contains("PushedFilters: [In(lang"), p.take(1200))
  }

  test("q93 aggregation over the bucketed table runs with no shuffle exchange") {
    val p = finalPlan("q93_bucketed_agg")
    assert(p.contains("HashAggregate"), p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      p.take(1200))
  }

  test("q94 nested-struct scan reads only the selected leaf (schema pruning)") {
    val p = finalPlan("q94_nested_pruning")
    // anchor on the ReadSchema clause itself: the struct path keeps
    // exactly meta.deep.value — sibling leaves never enter the schema
    val readSchema = """ReadSchema: [^\n]*""".r.findFirstIn(p)
    assert(readSchema.isDefined, p.take(1500))
    assert(readSchema.get.contains("deep:struct<value:double>"), readSchema.get)
    assert(!readSchema.get.contains("props") &&
      !readSchema.get.contains("event_type"), readSchema.get)
  }

  test("q92 fact scan carries a dynamicpruning partition filter") {
    val p = finalPlan("q92_dynamic_pruning")
    assert(p.contains("dynamicpruning"), p.take(1500))
  }

  test("q100 star rollup broadcasts the dims and aggregates partially") {
    val p = finalPlan("q100_star_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1500))
    assert(p.contains("partial_"), p.take(1500))
  }

  test("q81 bloom-pruned anti join probes the filter before the residual join") {
    val p = finalPlan("q81_bloom_incremental")
    // both branches carry the codegen'd probe; only candidates join
    assert(p.contains("might_contain"), p.take(1200))
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(p.contains("Union"), p.take(1200))
  }

  test("q55/q109 scan the corpus once: tf/df branches share their (doc, term) stage") {
    // the docFrequencies branch must reuse the termFrequencies
    // exchange — one corpus explode serves both. Guarded because the
    // contract is fragile: bare count(tf) regressed silently when the
    // optimizer started rewriting count(non-nullable) to count(*),
    // pruning tf and splitting the canonical subtrees (fixed with the
    // nullif wrapper in docFrequencies). Inspect the FINAL plan
    // section only — the AQE string repeats subtrees under
    // "== Initial Plan ==".
    for (q <- Seq("q55_tfidf", "q109_rare_tokens")) {
      val p = finalPlan(q).split("== Initial Plan ==")(0)
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        s"$q: no stage reuse\n${p.take(1500)}")
      assert("FileScan parquet".r.findAllIn(p).length == 1,
        s"$q: corpus scanned more than once\n${p.take(1500)}")
    }
  }

  test("q112 quantized top-k never shuffles the corpus: broadcast joins only") {
    // the two-stage contract: queries broadcast in the coarse stage,
    // the candidate list broadcasts in the re-rank — a SortMergeJoin
    // (or shuffled hash join) anywhere means the planner shuffled a
    // corpus-sized relation, the exact cost quantization exists to
    // avoid
    val p = finalPlan("q112_quantized_topk")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("ShuffledHashJoin"), p.take(1500))
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3,
      p.take(1500))
    // the one exchange each stage DOES do (the per-query top-k window)
    // must be fed by a Partial WindowGroupLimit: every scan partition
    // pre-cuts to its own top-`candidates` (coarse) / top-k (re-rank)
    // rows, so the shuffle ships ≤ partitions×queries×limit rows —
    // without the pushdown the coarse exchange is the scored
    // corpus×queries frame, a corpus-sized skewed shuffle at scale
    assert("""WindowGroupLimit [^\n]*row_number\(\), \d+, Partial""".r
      .findAllIn(p).size >= 2, p.take(2000))
  }

  test("q197 cohort LTV is one corpus scan, join-free (no per-user broadcast)") {
    // the agg-and-join-back shape scans events twice and builds a
    // hash relation out of the per-USER first-touch table — broadcast
    // at bench scale, never broadcastable at 100 TB. The two-level
    // aggregate must keep: one scan, window-min on the (user, hour)
    // aggregate, no join of any kind.
    val whole = finalPlan("q197_cohort_ltv")
    assert(!whole.contains("Join"), whole.take(1500))
    assert(!whole.contains("BroadcastExchange"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("q196 histogram materializes the span once: no third corpus scan") {
    // span feeds both the bucket join and the dense axis; without the
    // checkpoint Catalyst re-derives it per consumer and the corpus is
    // scanned three times. Final job: ONE FileScan (counts pass) plus
    // ExistingRDD reads of the materialized aggregate-sized span.
    val whole = finalPlan("q196_histogram")
    val p = whole.split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1500))
    assert(p.contains("Scan ExistingRDD"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q198 novelty is one corpus scan, join-free, no occurrence broadcast") {
    // the naive grams⋈df formulation double-scans the corpus and lets
    // AQE broadcast the full exploded gram-occurrence relation — a
    // corpus-sized broadcast at scale. noveltyRate must stay: one
    // FileScan + one Generate, per-gram df via a window ON the single
    // gram-hash exchange, no join of any kind.
    val whole = finalPlan("q198_novelty")
    assert(!whole.contains("Join"), whole.take(1500))
    assert(!whole.contains("BroadcastExchange"), whole.take(1500))
    // exact shape counts on the FINAL section only (toString appends
    // the pre-AQE Initial Plan, which would double every count)
    val p = whole.split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1500))
    assert("Generate explode".r.findAllIn(p).size == 1, p.take(1500))
    // exactly the two load-bearing exchanges: gram-hash, then doc key
    assert("Exchange hashpartitioning\\(__gh".r.findAllIn(p).size == 1, p.take(1500))
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("q201 association rules: baskets materialized once, no cartesian") {
    val whole = finalPlan("q201_assoc_rules")
    assert(!whole.contains("CartesianProduct"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    // the capped basket relation is checkpointed (aggregate-sized) and
    // read back for its three consumers; re-deriving it would re-scan
    // the corpus per consumer
    assert(p.contains("Scan ExistingRDD"), p.take(1500))
    assert(!p.contains("FileScan"), p.take(1500))
  }

  test("q202 level shift: one scan, one exchange, both frames in one sort") {
    val whole = finalPlan("q202_level_shift")
    assert(!whole.contains("Join"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("q203 link prediction: checkpointed edges, no cartesian") {
    val whole = finalPlan("q203_link_prediction")
    assert(!whole.contains("CartesianProduct"), whole.take(1500))
    assert(!whole.contains("BroadcastNestedLoopJoin"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    assert(p.contains("Scan ExistingRDD"), p.take(1500))
  }

  test("q308 DL join: same checkpointed-strings block equi-join " +
    "contract as q204") {
    val whole = finalPlan("q308_dl_join")
    assert(!whole.contains("CartesianProduct"), whole.take(1500))
    assert(!whole.contains("BroadcastNestedLoopJoin"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    assert(p.contains("Scan ExistingRDD"), p.take(1500))
    assert(!p.contains("FileScan"), p.take(1500))
  }
  test("q204 JW join: strings materialized once, block equi-join, no cartesian") {
    val whole = finalPlan("q204_jw_join")
    assert(!whole.contains("CartesianProduct"), whole.take(1500))
    assert(!whole.contains("BroadcastNestedLoopJoin"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    // the string relation is checkpointed; the final job must not
    // re-scan the corpus per consumer (distinct, two expansions, dup)
    assert(p.contains("Scan ExistingRDD"), p.take(1500))
    assert(!p.contains("FileScan"), p.take(1500))
  }

  test("q205 readability is a single shuffle-free codegen'd scan") {
    val p = finalPlan("q205_readability")
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
    // the `*(n)` prefix is the whole-stage-codegen span marker
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p.take(1200))
  }

  test("q206 hapax rate: one scan, two-level aggregate, join-free") {
    val whole = finalPlan("q206_hapax")
    assert(!whole.contains("Join"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1500))
    assert("Generate".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("q208 Welch t: one scan, constant-width partial moments, join-free") {
    val whole = finalPlan("q208_welch_t")
    assert(!whole.contains("Join"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
    assert(p.contains("partial_"), p.take(1500))
  }

  test("q209 weighted priority: per-key top-k stays a WindowGroupLimit pushdown") {
    // every scan partition pre-cuts to k rows per stratum before the
    // lang exchange — without the Partial WindowGroupLimit the shuffle
    // carries the whole corpus
    val p = finalPlan("q209_weighted_priority").split("== Initial Plan ==")(0)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("q210 MLM masking is a single shuffle-free scan") {
    val p = finalPlan("q210_mlm_mask")
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("q207 pro-rata: windows ride the join partitioning, no cartesian") {
    val whole = finalPlan("q207_prorata")
    assert(!whole.contains("CartesianProduct"), whole.take(1500))
    val p = whole.split("== Initial Plan ==")(0)
    // all three window passes (weight sum, remainder rank, base sum)
    // evaluate on the group partitioning the join already established:
    // ≤ 2 exchanges total (1 when AQE broadcasts the dimension side)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(1500))
    assert("Window".r.findAllIn(p).size >= 3, p.take(1500))
  }

  test("q108 exact-k sample plans as TakeOrderedAndProject, no global sort") {
    // final-plan section only — the AQE string repeats stale subtrees
    // under "== Initial Plan ==" (same pitfall as the q55/q109 guard)
    val p = finalPlan("q108_exact_k").split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("GlobalLimit"), p.take(1200))
  }

  test("q132 event sequences: rank window and capped aggregate share ONE key exchange") {
    val p = finalPlan("q132_event_sequences")
    val fin = p.split("== Initial Plan ==")(0)
    // window (rank) + partial/final collect run on the same user_id
    // partitioning: exactly one shuffle in the final plan, no join
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1, fin.take(1200))
    assert(!fin.contains("Join"), fin.take(1200))
    // the cap rides INSIDE collect_list (bounded per-key agg state)
    assert(fin.contains("collect_list(CASE WHEN"), fin.take(1200))
  }

  test("q129 inverted index: stats + capped postings from ONE term exchange after the tf agg") {
    val p = finalPlan("q129_inverted_index")
    val fin = p.split("== Initial Plan ==")(0)
    // exactly two shuffles total: (doc, term) for tf, term for the
    // window+agg — the stats-branch/cap-branch formulation cost four
    // and re-scanned the corpus twice
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 2, fin.take(1500))
    assert(!fin.contains("Join"), fin.take(1500))
  }

  test("q131 duplicate spans: occurrence count is a window, not a self-join") {
    val p = finalPlan("q131_duplicate_spans")
    val fin = p.split("== Initial Plan ==")(0)
    // the gram-keyed exchange feeds a partition count; a groupBy +
    // probe-side join formulation would re-shuffle the gram relation
    assert(!fin.contains("Join"), fin.take(1500))
    // islands + gram windows: doc-keyed, gram-keyed, doc-keyed again
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3, fin.take(1500))
  }

  test("q135 deflate ratio stays a shuffle-free codegen'd scan") {
    val p = finalPlan("q135_compression_ratio")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("Exchange"), fin.take(800))
    assert(fin.contains("graft_deflate_ratio"), fin.take(800))
    assert(!fin.contains("ScalaUDF"), fin.take(800))
  }

  test("q152 triangle closing edge is an EQUI join (no nested loop anywhere)") {
    val p = finalPlan("q152_triangles")
    // the either-orientation formulation would plan the wedge-closing
    // match as BroadcastNestedLoopJoin — the rank-ordered wedge keeps
    // every join hash/merge-able
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q153 heavy-hitter recount keys on the BROADCAST candidate set") {
    val p = finalPlan("q153_heavy_hitters")
    // the semi-join against partitions·k candidates must broadcast —
    // a shuffled semi-join would move the full token stream by token
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("q173 fuzzy join generates candidates via EQUI joins (no cartesian)") {
    val p = finalPlan("q173_fuzzy_join")
    // segment/substring candidates must hash/merge-join on
    // (i, l, substring); the only tolerated nested loop is the tiny
    // short-string broadcast block
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(1500))
  }

  test("q162 correlation matrix is ONE aggregation pass, join-free") {
    val p = finalPlan("q162_corr_matrix")
    // all moments for all pairs come from a single map-side-combined
    // aggregate; a per-pair corr() formulation would scan per pair
    assert(!p.contains("Join"), p.take(1200))
    assert(p.contains("partial_"), p.take(1200))
    // count scans in the FINAL plan only (AQE's toString repeats the
    // initial plan below it)
    val fin = p.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(fin).size == 1, fin.take(1200))
  }

  test("q177 skyline sweep never plans a quadratic dominance join") {
    val p = finalPlan("q177_skyline")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("q158/q183 tie counts ride the ONE key exchange (peers RANGE frame)") {
    for (q <- Seq("q158_empirical_cdf", "q183_weighted_median")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      // the (group, value) tie partitioning would add a second
      // exchange over the corpus-sized relation; the peers frame
      // (RANGE current-current) shares the (group) sort instead
      assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
        s"$q: ${fin.take(1200)}")
    }
  }

  test("q211 Mann-Whitney: value-grid agg + ONE key exchange, join-free") {
    val whole = finalPlan("q211_mann_whitney")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    // (keys, value) grid agg then the keys exchange; the rank window
    // AND the closing moment aggregate both ride the second exchange
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 2,
      fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 1, fin.take(1500))
    assert(fin.contains("partial_sum"), fin.take(1500))
  }

  test("q212 Spearman: both rank directions ride ONE key exchange") {
    val whole = finalPlan("q212_spearman")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    // four rank windows + two count windows: same hash partitioning,
    // re-sorted in place — a per-(key,value) tie exchange would be a
    // second corpus-sized shuffle
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
      fin.take(1500))
    assert("windowspecdefinition".r.findAllIn(fin).size >= 6, fin.take(1500))
    assert(fin.contains("partial_count"), fin.take(1500))
  }

  test("q213 BH-FDR: all three windows share the family exchange") {
    val whole = finalPlan("q213_bh_fdr")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
      fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 1, fin.take(1500))
  }

  test("q214 quantile normalization: grid stats off ONE checkpointed base, " +
      "no cartesian row join") {
    val whole = finalPlan("q214_quantile_norm")
    val fin = whole.split("== Initial Plan ==")(0)
    // grid, pooled CDF, n_pool, rank map: all from the checkpointed
    // 2-column base, not repeated corpus scans (the only FileScan is
    // the outer row relation the result attaches to)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size <= 1, fin.take(1500))
    // rank lookup is an EQUI join on the target rank; the only
    // nested-loop is the 1-row n_pool attach (by design)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(fin).size
    assert(bnlj <= 1, fin.take(1500))
  }

  test("q215 kappa: contingency checkpointed; marginals never rescan") {
    val whole = finalPlan("q215_judge_kappa")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 0, fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
  }

  test("q216 zipf slope: vocab rank window + moments on one keys exchange") {
    val whole = finalPlan("q216_zipf_slope")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    // (keys, token) count exchange, then the keys exchange carries the
    // rank window and the closing moment aggregate
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 2,
      fin.take(1500))
    assert(fin.contains("partial_sum"), fin.take(1500))
  }

  test("q217 Benford: ONE map-side-combined aggregation, join-free") {
    val whole = finalPlan("q217_benford")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
      fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 1, fin.take(1500))
    assert(fin.contains("partial_sum"), fin.take(1500))
  }

  test("q218 Kaplan-Meier: one subjects pass, windows ride the cohort " +
      "exchange") {
    val whole = finalPlan("q218_kaplan_meier")
    val fin = whole.split("== Initial Plan ==")(0)
    // per-user relation checkpointed (the corpus-edge max reads
    // ExistingRDD); the only nested-loop is the 1-row max attach
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 0, fin.take(1500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    // (cohort, t) grid exchange + cohort window exchange only
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 2,
      fin.take(1500))
  }

  test("q219 lagged corr: checkpointed series, EQUI lag alignment") {
    val whole = finalPlan("q219_lagged_corr")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    // the (t + lag) alignment must stay an equi join — a theta/range
    // formulation would nested-loop the whole grid
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
    assert(fin.contains("partial_sum"), fin.take(1500))
  }

  test("q220 Gini: the mannWhitney grid shape — 2 exchanges, join-free") {
    val whole = finalPlan("q220_gini")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 2,
      fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 1, fin.take(1500))
  }

  test("q221 JSD: checkpointed tf grid, token-keyed pair join, " +
      "broadcast totals") {
    val whole = finalPlan("q221_jsd")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 0, fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
    // pair terms aggregate map-side before the (s1, s2) exchange
    assert(fin.contains("partial_count"), fin.take(1500))
  }

  test("q222 two-table JW join: checkpointed sides, equi block join") {
    val whole = finalPlan("q222_jw_linkage")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
  }

  test("q223 span corruption stays a shuffle-free single scan") {
    val whole = finalPlan("q223_span_corrupt")
    val fin = whole.split("== Initial Plan ==")(0)
    // higher-order-function projects don't whole-stage-codegen, but
    // the shape must stay one narrow scan: no exchange, no join
    assert(!fin.contains("Exchange"), fin.take(1200))
    assert(!fin.contains("Join"), fin.take(1200))
    assert("FileScan".r.findAllIn(fin).size == 1, fin.take(1200))
  }

  test("q224 exact split: ONE stratum exchange for rank + count") {
    val whole = finalPlan("q224_exact_split")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
      fin.take(1500))
  }

  test("q225 mutual info: contingency checkpointed, label-sized math") {
    val whole = finalPlan("q225_mutual_info")
    val fin = whole.split("== Initial Plan ==")(0)
    // contingency is the ONLY corpus-derived relation; everything
    // downstream (totals, marginals, entropies) reads ExistingRDD.
    // The 1-row total attaches are BNLJ by design.
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 0, fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
  }

  test("q226 Theil-Sen: checkpointed ranks, EQUI stride pairs") {
    val whole = finalPlan("q226_theil_sen")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 0, fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
  }

  test("q228 containment: checkpointed flat postings, EQUI prefix join") {
    val whole = finalPlan("q228_containment")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
  }

  test("q238 fixed-width source is a shuffle-free codegen projection") {
    val whole = finalPlan("q238_fixed_width")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(!fin.contains("Exchange"), fin.take(1200))
    assert(!fin.contains("Join"), fin.take(1200))
    // the plan is one codegen'd project over the text scan (so simple
    // AQE doesn't even wrap it — the `*(1)` stage marker is the pin)
    assert(fin.contains("*(1) Project"), fin.take(1200))
  }

  test("q235 interval coverage: sweep + closing agg on ONE key exchange") {
    val whole = finalPlan("q235_interval_coverage")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
      fin.take(1500))
  }

  test("q236 as-of tolerance keeps the union+window plan (no range join)") {
    val whole = finalPlan("q236_asof_within")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
    // the as-of itself is the union + last-ignoreNulls window
    assert(fin.contains("Window"), fin.take(1500))
  }

  test("q234 clustering coefficient: the q152 no-nested-loop contract") {
    val whole = finalPlan("q234_clustering_coeff")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
  }

  test("q232 rolling corr: all frame moments ride ONE sort") {
    val whole = finalPlan("q232_rolling_corr")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    // Spark stacks the moment windows (product inputs project between
    // them) but they share one ordering: exactly one Sort, no
    // re-exchange between the window operators
    assert("Sort \\[".r.findAllIn(fin).size == 1, fin.take(1500))
  }

  test("q233 two-proportion z: ONE map-side-combined aggregation") {
    val whole = finalPlan("q233_two_prop_z")
    assert(!whole.contains("Join"), whole.take(1500))
    val fin = whole.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
      fin.take(1500))
    assert(fin.contains("partial_sum"), fin.take(1500))
  }

  test("q299 Nelson-Aalen: same checkpointed subjects pass and " +
      "cohort-exchange windows as q218") {
    val fin = finalPlan("q299_nelson_aalen").split("== Initial Plan ==")(0)
    assert(fin.contains("Scan ExistingRDD"), fin.take(1500))
    assert("FileScan".r.findAllIn(fin).size == 0, fin.take(1500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
  }
  test("q230/q231 retrieval eval: k-bounded metric joins, no cartesian") {
    for (q <- Seq("q230_rbo", "q231_ndcg", "q298_map")) {
      val whole = finalPlan(q)
      val fin = whole.split("== Initial Plan ==")(0)
      // the ranking builders keep their own guarded shapes; the metric
      // layer must add only (qid, id) equi joins over k-bounded runs
      assert(!fin.contains("CartesianProduct"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("WindowGroupLimit"), s"$q: ${fin.take(1200)}")
    }
  }

  test("q227 burstiness: two aggregations; the N scan reads no columns") {
    val whole = finalPlan("q227_burstiness")
    val fin = whole.split("== Initial Plan ==")(0)
    val scans = "ReadSchema: struct<[^>]*>".r.findAllIn(fin).toSeq
    assert(scans.size == 2 && scans.count(_ == "ReadSchema: struct<>") == 1,
      fin.take(1500))
    assert(fin.contains("partial_sum"), fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
  }

  test("q239 KS: grid collapse then windows+max on ONE key partitioning, " +
    "join-free") {
    val whole = finalPlan("q239_ks_test")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_sum"), fin.take(1200)) // grid map-combined
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }

  test("q240 kendall: one group exchange, no join, no cartesian") {
    val whole = finalPlan("q240_kendall_tau")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }

  test("q241 fifo: event_type filters pushed to the scans; key-equi " +
    "join only (no nested loop/cartesian)") {
    val whole = finalPlan("q241_fifo_match")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(fin.contains("EqualTo(event_type,c"), fin.take(1500))
    assert(fin.contains("EqualTo(event_type,p"), fin.take(1500))
  }

  test("q242 attribution: lookback as key-equi join + conv windows, " +
    "no nested loop/cartesian") {
    val whole = finalPlan("q242_attribution")
    val fin = whole.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(fin.contains("Window"), fin.take(1500))
    // the lookback range must sit IN the join condition (probe-time
    // filter), never as a post-join Filter — otherwise the join emits
    // conversions × ALL touches per key before pruning
    assert(fin.linesIterator.exists(l =>
      l.contains("Join") && l.contains("__tt") && l.contains("__ct")),
      fin.take(2000))
  }

  test("q243/q244 series ops: join-free window chains") {
    for (q <- Seq("q243_seasonal", "q244_bollinger")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("Window"), s"$q: ${fin.take(1200)}")
    }
  }

  test("q245 script profile: one shuffle-free codegen'd scan") {
    val fin = finalPlan("q245_script_profile").split("== Initial Plan ==")(0)
    assert(!fin.contains("Exchange"), fin.take(1200))
    assert("Scan parquet|FileScan".r.findAllIn(fin).size == 1,
      fin.take(1200))
    assert(fin.contains("*(1)"), fin.take(1200)) // whole-stage codegen
  }

  test("q246 heaps: ONE corpus scan feeds both curve branches " +
    "(checkpointed token grid)") {
    val fin = finalPlan("q246_heaps_law").split("== Initial Plan ==")(0)
    assert("Scan parquet|FileScan".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(fin.contains("ExistingRDD") || fin.contains("Scan ExistingRDD"),
      fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
  }
  test("q247/q248 chunk+melt: shuffle-free single-scan generators") {
    for (q <- Seq("q247_chunking", "q248_melt")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Exchange"), s"$q: ${fin.take(1200)}")
      assert("Scan parquet|FileScan".r.findAllIn(fin).size == 1,
        s"$q: ${fin.take(1200)}")
      assert(fin.contains("Generate"), s"$q: ${fin.take(1200)}")
    }
  }

  test("q249 kcore: converged core rides checkpointed edges; final " +
    "degree count is ONE map-side-combined aggregation") {
    val fin = finalPlan("q249_kcore").split("== Initial Plan ==")(0)
    assert(fin.contains("ExistingRDD"), fin.take(1200))
    assert(fin.contains("partial_count"), fin.take(1200))
    assert(!fin.contains("Join"), fin.take(1200))
  }
  test("q251 feature hashing: one map-side-combined count, no vocab join") {
    val fin = finalPlan("q251_feature_hashing").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_count"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }

  test("q252 FD profile: grid collapse then ONE det-keyed partitioning " +
    "for majority + totals") {
    val fin = finalPlan("q252_fd_profile").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_count"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q253/q254 eval metrics: ONE map-side-combined aggregation each") {
    for (q <- Seq("q253_calibration", "q254_brier")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
        s"$q: ${fin.take(1500)}")
    }
  }

  test("q255 asof nearest: union+window, ONE key exchange, no range join") {
    val fin = finalPlan("q255_asof_nearest").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("Window"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    // the forward candidate must ride a RUNNING frame over the
    // descending order — Spark's currentRow→unboundedFollowing frame
    // re-evaluates per row (O(n²) per partition, the r12 q275 defect
    // class); whole-partition unbounded/unbounded frames stay legal
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q256/q258 encoders: grid fit comes back BROADCAST (no " +
    "corpus-sized shuffle join)") {
    for (q <- Seq("q256_target_encode", "q258_index_encode")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(fin.contains("BroadcastHashJoin") ||
        fin.contains("BroadcastNestedLoop"), s"$q: ${fin.take(1200)}")
      assert(!fin.contains("SortMergeJoin"), s"$q: ${fin.take(1200)}")
    }
  }

  test("q257 LOO encoding is JOIN-FREE: one category window pass") {
    val fin = finalPlan("q257_target_encode_loo")
      .split("== Initial Plan ==")(0)
    // the 1-row global prior may ride a broadcast nested loop; the
    // category statistic must be a window, never a grid join
    assert(!fin.contains("SortMergeJoin") &&
      !fin.contains("BroadcastHashJoin"), fin.take(1500))
    assert(fin.contains("Window"), fin.take(1200))
  }
  test("q259/q260 candle + incremental: map-side-combined aggregations, " +
    "no join") {
    for (q <- Seq("q259_ohlc", "q260_incremental_agg")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
    }
  }

  test("q261 radius join: cell-keyed EQUI join, never a cartesian/range " +
    "nested loop") {
    val fin = finalPlan("q261_radius_join").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(fin.contains("Join"), fin.take(1200))
  }
  test("q262 cdc apply: the feed's diff subplan is consumed ONCE " +
    "(exactly two full outers: diff + apply)") {
    val fin = finalPlan("q262_cdc_apply").split("== Initial Plan ==")(0)
    // the diff half contributes one FullOuter, the apply merge one
    // more; a THIRD means applyChanges re-reads the computed feed
    // (the anti-join + union shape this guard retired)
    assert("FullOuter".r.findAllIn(fin).size == 2, fin.take(1500))
    assert(!fin.contains("LeftAnti"), fin.take(1200))
  }
  test("q264 dp counts: ONE map-side-combined count; noise is a " +
    "projection, not a join") {
    val fin = finalPlan("q264_dp_counts").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_count"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1,
      fin.take(1500))
  }
  test("q266 e2e pipeline: profile+filter+dedup+chunk stay ONE lazy " +
    "plan — single text-keyed exchange, no cartesian") {
    val fin = finalPlan("q266_pipeline_e2e").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    // dedup's text window is the only wide dependency; the quality
    // profile joins by doc_id (broadcast or SMJ both fine) and
    // chunking is a generator — no second wide stage over the corpus
    assert(fin.contains("WindowGroupLimit") || fin.contains("Window"),
      fin.take(1500))
    assert(fin.contains("Generate"), fin.take(1200))
  }
  test("q267/q268 ratio + weighted median: single-partitioning " +
    "aggregations, join-free") {
    for (q <- Seq("q267_ratio_metric", "q268_weighted_median")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
        s"$q: ${fin.take(1500)}")
    }
  }
  test("q269 conformal: rank window + closing share one group " +
    "partitioning, join-free") {
    val fin = finalPlan("q269_conformal").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q270 roc auc: map-side grid collapse, then rank window + " +
    "closing on one group partitioning, join-free") {
    val fin = finalPlan("q270_roc_auc").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q271 lift table: ONE group exchange serves rank window, " +
    "bucket collapse, cumulative window and closing — join-free") {
    val fin = finalPlan("q271_lift_table").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q272 cramers v: ONE map-side-combined data pass; margins/grid " +
    "joins run on the cell relation, no cartesian") {
    val fin = finalPlan("q272_cramers_v").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
    // one scan of orders feeds the shared cell subplan; the margin
    // branches must reuse it (ReusedExchange), not rescan the table
    assert("Scan parquet".r.findAllIn(fin).size <= 1, fin.take(2000))
  }
  test("q273 fingerprint: ONE map-side-combined aggregate, join-free, " +
    "sort-free") {
    val fin = finalPlan("q273_fingerprint").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert(!fin.contains("Sort "), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q275 interp: axis join + both directional lerp windows are " +
    "key-partitioned — no cartesian, no global sort") {
    val fin = finalPlan("q275_interp").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
    // both frame specs ride user_id-partitioned Windows, never a
    // partition-less (single-task) window
    assert(!fin.contains("Window [") ||
      !fin.contains("windowspecdefinition()"), fin.take(1500))
    assert(fin.contains("Window"), fin.take(1200))
    // the forward lerp pass must be the linear descending RUNNING
    // frame, never Spark's O(k²) currentRow→unboundedFollowing frame
    // (the r12 29.7 s serial-execution defect)
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q279 leakage scan: melt generator feeds ONE scan; grid joins " +
    "all broadcast — no corpus-sized shuffle join, no cartesian") {
    val fin = finalPlan("q279_leakage_scan").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(!fin.contains("SortMergeJoin"), fin.take(1500))
    assert("Scan parquet".r.findAllIn(fin).size <= 1, fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
  }
  test("q280 funnel latency: funnel windows + stack generator + " +
    "median grid are JOIN-FREE on one scan; no quadratic frame") {
    val fin = finalPlan("q280_funnel_latency").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Scan parquet".r.findAllIn(fin).size <= 1, fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q276 rfm: all three score windows share the ONE cohort " +
    "exchange after the per-customer collapse") {
    val fin = finalPlan("q276_rfm").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
    // base agg exchange + one cohort exchange + the dim-join's two
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 4,
      fin.take(2000))
    assert("Window".r.findAllIn(fin).size >= 3, fin.take(1500))
  }
  test("q277 topk other: rank window + OTHER re-collapse ride the " +
    "grid collapse's partitioning — join-free, ≤2 exchanges") {
    val fin = finalPlan("q277_topk_other").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q278 best split: grid collapse + cumulative/max windows + " +
    "closing on one group partitioning — join-free") {
    val fin = finalPlan("q278_best_split").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q274 bfs hops: frontier expansion is keyed equi-joins — " +
    "no cartesian/nested-loop anywhere in the final assembly") {
    val fin = finalPlan("q274_bfs_hops").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
  }
  test("q281 cusum: both running frames ride ONE key exchange — " +
    "join-free, no quadratic frame") {
    val fin = finalPlan("q281_cusum").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert("Window \\[".r.findAllIn(fin).size >= 2, fin.take(1500))
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q293 acf: one window exchange, shuffle-free stack melt, one " +
    "(key, lag) collapse — join-free, no quadratic frame") {
    val fin = finalPlan("q293_acf").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q294 class separation: posexplode -> ONE map-side-combined " +
    "(label, dim) grid, join-free; rank rides the |dims| grid only") {
    val fin = finalPlan("q294_class_separation")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
    assert(fin.contains("Generate posexplode"), fin.take(1500))
  }
  test("q295 cusum lower: same one-exchange two-window shape as q281") {
    val fin = finalPlan("q295_cusum_lower").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert("Window \\[".r.findAllIn(fin).size >= 2, fin.take(1500))
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q296 top paths: session + in-session windows share the actor " +
    "exchange; global top-k cut collapses via WindowGroupLimit") {
    val fin = finalPlan("q296_top_paths").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
    assert(fin.contains("WindowGroupLimit"), fin.take(1500))
  }
  test("q297 cohort ltv: checkpointed cohort-stamped base feeds sizes " +
    "AND grid (no second corpus pass); everything after rides the grid") {
    val fin = finalPlan("q297_cohort_ltv_hourly")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
  }
  test("q300 ccf: one window pass + shuffle-free melt + one grid " +
    "collapse — the q293 shape with shifted y") {
    val fin = finalPlan("q300_ccf").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q301 twap: lead window and bucket collapse share ONE " +
    "(key, bucket) exchange — join-free") {
    val fin = finalPlan("q301_twap").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q302 missingness: ONE map-side-combined pattern collapse; " +
    "share/rank ride the collapsed grid") {
    val fin = finalPlan("q302_missingness").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q303 ece: calibration grid + one sorted-fold collapse, " +
    "join-free") {
    val fin = finalPlan("q303_ece").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q304 l-diversity: ONE hash aggregation with map-side " +
    "count-distinct partials, join-free") {
    val fin = finalPlan("q304_l_diversity").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
  }
  test("q305 trimmed mean: value-grid collapse + one key exchange " +
    "for the cumulative window, join-free") {
    val fin = finalPlan("q305_trimmed_mean").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q306 MI matrix: melted pairs collapse in ONE contingency " +
    "aggregation; closing joins are pair-grid-sized broadcasts") {
    val fin = finalPlan("q306_mi_matrix").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("SortMergeJoin"), fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
  }
  test("q307 pacf: acf's one-pass machinery + ONE per-key fold — " +
    "join-free, no driver loop, grid-sized tail") {
    val fin = finalPlan("q307_pacf").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q310 average precision: score-grid collapse + descending " +
    "window + grid fold — join-free") {
    val fin = finalPlan("q310_avg_precision").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q311 winsorized mean: the trimmedMean grid shape — join-free, " +
    "≤2 exchanges") {
    val fin = finalPlan("q311_winsorized_mean")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q312 theil: checkpointed value grid feeds totals AND terms " +
    "(one corpus collapse); key-keyed join, no cartesian") {
    val fin = finalPlan("q312_theil").split("== Initial Plan ==")(0)
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
  }
  test("q313 hoover: checkpointed value grid, key-keyed totals join, " +
    "no cartesian") {
    val fin = finalPlan("q313_hoover").split("== Initial Plan ==")(0)
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
  }
  test("q314 hhi: ONE entity collapse + rank window + closing " +
    "aggregation — join-free") {
    val fin = finalPlan("q314_hhi").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q315 best mean split: prefix windows + rank cut share the " +
    "key exchange — join-free, WindowGroupLimit") {
    val fin = finalPlan("q315_best_mean_split")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(fin.contains("WindowGroupLimit"), fin.take(1500))
  }
  test("q316 sprt: cumulative walk + first-crossing cut on one key " +
    "exchange — join-free") {
    val fin = finalPlan("q316_sprt").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q374 rmst: the KM cohort exchange + grid fold — the only " +
    "join is the broadcast max-date scalar attach") {
    val fin = finalPlan("q374_rmst").split("== Initial Plan ==")(0)
    assert(!fin.contains("SortMergeJoin"), fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
  }
  test("q375 cliffs-delta: the mann-whitney value-grid collapse — " +
    "join-free") {
    val fin = finalPlan("q375_cliffs_delta")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q373 fisher: ONE map-side 2x2 collapse + per-key walk — " +
    "join-free, window-free") {
    val fin = finalPlan("q373_fisher_exact").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q372 dsir: dim-row log-ratio table attaches by BROADCAST — " +
    "no sort-merge join, no cartesian blowup") {
    val fin = finalPlan("q372_dsir").split("== Initial Plan ==")(0)
    assert(fin.contains("BroadcastHashJoin") ||
      fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
    assert(!fin.contains("SortMergeJoin"), fin.take(1500))
  }
  test("q370 jonckheere: ONE group exchange into the merge-count " +
    "walk — join-free") {
    val fin = finalPlan("q370_jonckheere").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q371 ordinal-assoc: kendall's single collect walk — " +
    "join-free, ONE exchange") {
    val fin = finalPlan("q371_ordinal_assoc")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q368 cmh: stratum cell collapse + grid fold — join-free, " +
    "window-free") {
    val fin = finalPlan("q368_cmh").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q369 page-trend: friedman's grid + j-weighted collapse — " +
    "join-free, bounded exchanges") {
    val fin = finalPlan("q369_page_trend").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q365 ljung-box: all lag leads in one window pass + closing " +
    "collapse — join-free, ONE key exchange") {
    val fin = finalPlan("q365_ljung_box").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Window".r.findAllIn(fin).size <= 1, fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q366 mann-kendall: ONE group exchange into the mergesort " +
    "walk — join-free") {
    val fin = finalPlan("q366_mann_kendall")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q367 granger: lag windows + ONE closing aggregation — " +
    "join-free") {
    val fin = finalPlan("q367_granger").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q363 wilcoxon: pair collapse + |d| rank windows — join-free, " +
    "bounded exchanges") {
    val fin = finalPlan("q363_wilcoxon").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q364 log-rank: time-grid collapse + at-risk windows + fold — " +
    "join-free, bounded exchanges") {
    val fin = finalPlan("q364_log_rank").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q361 bartlett: cell collapse + grid fold — join-free, " +
    "window-free, map-side cells") {
    val fin = finalPlan("q361_bartlett").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q362 grubbs: window moments + closing collapse on ONE key " +
    "exchange — join-free") {
    val fin = finalPlan("q362_grubbs").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("Window"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q357 chow: per-segment conditional moments in ONE map-side " +
    "aggregation — join-free, window-free") {
    val fin = finalPlan("q357_chow_test").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q358 cronbach: subject/item windows on same-key subsumption " +
    "— join-free, bounded exchanges") {
    val fin = finalPlan("q358_cronbach_alpha")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q359 diversity: category collapse then key collapse — " +
    "join-free, window-free") {
    val fin = finalPlan("q359_diversity").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q354 macd: three in-group EMA folds on ONE key exchange — " +
    "join-free, explode-back") {
    val fin = finalPlan("q354_macd").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("Generate"), fin.take(1500)) // posexplode
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q355 stochastic: frame min/max + lags on ONE key exchange — " +
    "join-free") {
    val fin = finalPlan("q355_stochastic").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("Window"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q356 forecast-accuracy: naive lag + closing collapse share " +
    "the key exchange — join-free") {
    val fin = finalPlan("q356_forecast_accuracy")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q351 jarque-bera: ONE map-side-combined key aggregation — " +
    "join-free, window-free") {
    val fin = finalPlan("q351_jarque_bera").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q352 partial-corr: nine moments in ONE map-side-combined " +
    "aggregation — join-free, window-free") {
    val fin = finalPlan("q352_partial_corr").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q353 lin-ccc: five moments in ONE map-side-combined " +
    "aggregation — join-free, window-free") {
    val fin = finalPlan("q353_lin_ccc").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q349 friedman: cell collapse + rank windows on same-key " +
    "subsumption — join-free, bounded exchanges") {
    val fin = finalPlan("q349_friedman").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    // cell grid exchange + keys window exchange; the (keys, block)
    // windows and both downstream collapses ride the keys exchange
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q350 cochran-q: subject/treatment windows share one key " +
    "exchange — join-free, bounded exchanges") {
    val fin = finalPlan("q350_cochran_q").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q348 mcnemar: subject collapse then key collapse — join-free, " +
    "window-free") {
    val fin = finalPlan("q348_mcnemar").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q347 croston: calendar spine + demand attach stay grid-sized " +
    "— no corpus-sized shuffle join, no cartesian") {
    val fin = finalPlan("q347_croston").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    // the spine×demand attach is grid-sized (keys × days); either
    // join strategy is fine as long as nothing is a cartesian and
    // the fold stays on one key exchange downstream
    assert(fin.contains("Generate"), fin.take(1500)) // the spine
  }
  test("q345 cohens-d: ONE map-side-combined key aggregation — " +
    "join-free, window-free") {
    val fin = finalPlan("q345_cohens_d").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q346 moods-median: median windows + grid collapse + fold — " +
    "join-free") {
    val fin = finalPlan("q346_moods_median").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q344 anova-f: one map-side (keys, group) collapse + grid fold " +
    "— join-free, window-free") {
    val fin = finalPlan("q344_anova_f").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q342 holt-winters: one key exchange, fold + season explode — " +
    "join-free") {
    val fin = finalPlan("q342_holt_winters").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("Generate"), fin.take(1500)) // season rows
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q340 kruskal-wallis: rank + tie windows and the grid collapse " +
    "— join-free") {
    val fin = finalPlan("q340_kruskal_wallis")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 3,
      fin.take(1500))
  }
  test("q341 runs test: median windows, run lag, and collapse on key " +
    "exchanges — join-free") {
    val fin = finalPlan("q341_runs_test").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q338 page-hinkley: one key exchange carries the collected " +
    "walk — join-free, window-free") {
    val fin = finalPlan("q338_page_hinkley").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q339 durbin-watson: one key exchange shared by the lag window " +
    "and the moment collapse — join-free") {
    val fin = finalPlan("q339_durbin_watson")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q337 cochran-armitage: ONE map-side-combined key aggregation " +
    "— join-free, window-free") {
    val fin = finalPlan("q337_cochran_armitage")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(!fin.contains("Window"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1500)) // map-side combine
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q335 rsi: one key exchange carries the lag window and the " +
    "fold collapse — join-free") {
    val fin = finalPlan("q335_rsi").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q334 brown-forsythe: one (keys, group) exchange carries the " +
    "median window and the moment collapse — join-free") {
    val fin = finalPlan("q334_brown_forsythe")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q333 quantile regression: one (keys, bin) exchange for the " +
    "quantile windows; the per-key line attaches by broadcast") {
    val fin = finalPlan("q333_quantile_regression")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("SortMergeJoin"), fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(fin.contains("BroadcastHashJoin") ||
      fin.contains("BroadcastNestedLoopJoin"), fin.take(1500))
  }
  test("q332 isotonic: one (keys, bin) grid aggregate + one per-key " +
    "fold — join-free, never more than two exchanges") {
    val fin = finalPlan("q332_isotonic").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
    assert(fin.contains("Generate"), fin.take(1500)) // block expand
  }
  test("q331 max drawdown: cumulative-max walk + argmax cut on one " +
    "key exchange — join-free, WindowGroupLimit") {
    val fin = finalPlan("q331_max_drawdown").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(fin.contains("WindowGroupLimit"), fin.take(1500))
  }
  test("q330 centroid silhouette: centroid grid broadcast against one " +
    "corpus pass — no corpus-sized shuffle join") {
    val fin = finalPlan("q330_centroid_silhouette")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("SortMergeJoin"), fin.take(1500))
    // the k-row centroid table rides a broadcast (nested loop — it's
    // a crossJoin by construction); the corpus is read via the
    // checkpoint, never re-derived
    assert("BroadcastNestedLoopJoin".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
  }
  test("q329 assortativity: one global moment collapse, scalar node " +
    "count is the only nested loop") {
    val fin = finalPlan("q329_assortativity").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
  }
  test("q328 modularity: node-keyed assignment joins, map-side " +
    "community collapse, scalar m attach is the only nested loop") {
    val fin = finalPlan("q328_modularity").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    // the one-row m total rides a broadcast nested loop BY DESIGN;
    // anything more means an assignment join degenerated
    assert("BroadcastNestedLoopJoin".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
  }
  test("q327 holt linear: one key exchange, in-group sequential fold, " +
    "grid-sized output — join-free") {
    val fin = finalPlan("q327_holt_linear").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q326 twap carry: one key exchange for the global lead window, " +
    "map-side bucket collapse of the exploded segments — join-free, " +
    "no cartesian") {
    val fin = finalPlan("q326_twap_carry").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
    assert(fin.contains("Generate explode"), fin.take(1500))
  }
  test("q325 msprt: cumulative log-lambda walk + first-crossing cut " +
    "on one key exchange — join-free") {
    val fin = finalPlan("q325_msprt").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q324 group sequential: rank window + map-side cell collapse + " +
    "grid windows on one key exchange — join-free") {
    val fin = finalPlan("q324_group_sequential")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    // one corpus exchange for the (ts, tie) rank window; the cell
    // grid (|keys|*K*2 rows) rides it — cumulative looks and the
    // earliest-crossing cut never reshuffle the corpus
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
  }
  test("q317 bootstrap CI: checkpointed base feeds point estimate AND " +
    "resamples (one corpus read); map-side (key, b) collapse; no " +
    "cartesian") {
    val fin = finalPlan("q317_bootstrap_ci").split("== Initial Plan ==")(0)
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
  }
  test("q319 grid clusters: density and components run on the CELL " +
    "grid; no cartesian; final assembly label join is cell-keyed") {
    val fin = finalPlan("q319_grid_clusters").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
  }
  test("q320 cuped: checkpointed variant grid feeds pooled moments " +
    "AND the adjustment (one corpus collapse); key-keyed join") {
    val fin = finalPlan("q320_cuped").split("== Initial Plan ==")(0)
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
  }
  test("q321 did: ONE map-side cell collapse + closing aggregation — " +
    "join-free") {
    val fin = finalPlan("q321_did").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q322/q323 2x2 stats: ONE map-side cell collapse each, " +
    "join-free") {
    for (q <- Seq("q322_classification_report", "q323_odds_ratio")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
        s"$q: ${fin.take(1500)}")
    }
  }
  test("q282 kfold: one stratum exchange, one rank window, nothing else") {
    val fin = finalPlan("q282_kfold").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }
  test("q283 overlap join: binned EQUI-join — never a per-key " +
    "nested loop or cartesian") {
    val fin = finalPlan("q283_overlap_join").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(fin.contains("HashJoin") || fin.contains("SortMergeJoin"),
      fin.take(1500))
  }
  test("q284 skew profile: checkpointed grid feeds rank and totals " +
    "(no second corpus pass); rank cut collapses via WindowGroupLimit") {
    val fin = finalPlan("q284_skew_profile").split("== Initial Plan ==")(0)
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(fin.contains("ExistingRDD"), fin.take(1500))
    assert(fin.contains("WindowGroupLimit"), fin.take(1500))
    assert(!fin.contains("SortMergeJoin"), fin.take(1500))
  }
  test("q286/q287 moment fits: ONE map-side-combined aggregation, " +
    "join-free, closing on the group grid") {
    for (q <- Seq("q286_ridge2", "q287_pca2")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
        s"$q: ${fin.take(1500)}")
    }
  }
  test("q289 robust z: grid joins stay key-keyed (broadcast at this " +
    "cardinality), never cartesian; all collapses map-side") {
    val fin = finalPlan("q289_robust_z").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(fin.contains("partial_"), fin.take(1200))
    // three columnar scans are the documented posture; more means a
    // consumer started re-deriving a grid from scratch
    assert("Scan parquet".r.findAllIn(fin).size <= 3, fin.take(2000))
  }
  test("q290 rolling slope: row-index and all five moment frames " +
    "share ONE exchange and ONE sort") {
    val fin = finalPlan("q290_rolling_slope").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert("Sort \\[".r.findAllIn(fin).size <= 1, fin.take(1500))
    assert(!fin.contains("currentrow$(), unboundedfollowing$()"),
      fin.take(2000))
  }
  test("q291 running distinct: exactly the two documented exchanges " +
    "(first-seen on (key,value), running sum on key), join-free") {
    val fin = finalPlan("q291_running_distinct")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }
  test("q292 gap funnel: all step windows ride ONE actor exchange; " +
    "join-free") {
    val fin = finalPlan("q292_funnel_within").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
    assert("Sort \\[".r.findAllIn(fin).size <= 1, fin.take(1500))
  }
  test("q285 quantile normalize: ONE rank-window pass (checkpointed " +
    "for both consumers), rank-keyed join back") {
    val fin = finalPlan("q285_quantile_normalize")
      .split("== Initial Plan ==")(0)
    // the window computes BEFORE the checkpoint; neither consumer may
    // re-run it — the final plan holds zero Window nodes and no
    // parquet re-scan
    assert(!fin.contains("Window ["), fin.take(1500))
    assert(!fin.contains("Scan parquet"), fin.take(1500))
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
  }

  // ---- round 17 ----

  test("r17 grid-CDF family (wasserstein/kuiper/energy/cvm/panel): " +
    "join-free, the documented two exchanges (grid collapse + key " +
    "windows) and no more") {
    for (q <- Seq("q378_wasserstein1", "q385_kuiper",
      "q386_energy_distance", "q384_cramer_von_mises",
      "q391_distribution_distance")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
        s"$q: ${fin.take(1500)}")
    }
  }

  test("r17 2x2-cell family (cohens_h/risk_ratio/poisson_rate/" +
    "capture/chao1): ONE map-side-combined aggregation, join-free") {
    for (q <- Seq("q381_cohens_h", "q382_risk_ratio",
      "q397_poisson_rate_test", "q398_capture_recapture",
      "q399_chao1")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
    }
  }

  test("q380 holm: both windows ride ONE family exchange (the BH " +
    "plan)") {
    val fin = finalPlan("q380_holm_bonferroni")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }

  test("q379/q395 rank-grid family (kendalls_w/quade): no cartesian," +
    " collapses map-side, rank windows on the key exchange") {
    for (q <- Seq("q379_kendalls_w", "q395_quade")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("CartesianProduct") &&
        !fin.contains("BroadcastNestedLoop"), s"$q: ${fin.take(1500)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
    }
  }

  test("q392 hodges-lehmann: grid x grid stays a KEY-EQUI join " +
    "(hash/merge), never cartesian or nested loop") {
    val fin = finalPlan("q392_hodges_lehmann")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(fin.contains("HashJoin") || fin.contains("SortMergeJoin"),
      fin.take(1500))
  }

  test("q383 atkinson / q387 lorenz: join-free grid shapes, at " +
    "most two exchanges (grid collapse + key windows)") {
    for (q <- Seq("q383_atkinson", "q387_lorenz_curve")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
        s"$q: ${fin.take(1500)}")
    }
  }

  test("q388 theil_u / q389 tracking_signal: forecastAccuracy's " +
    "plan — at most the one lag exchange, join-free, map-side " +
    "combined closing") {
    for (q <- Seq("q388_theil_u", "q389_tracking_signal")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert(fin.contains("partial_"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
        s"$q: ${fin.take(1500)}")
    }
  }

  test("q390/q393 survival grid family: join-free (beyond the KM " +
    "machinery), one cohort exchange") {
    for (q <- Seq("q390_gehan_wilcoxon")) {
      val fin = finalPlan(q).split("== Initial Plan ==")(0)
      assert(!fin.contains("Join"), s"$q: ${fin.take(1200)}")
      assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
        s"$q: ${fin.take(1500)}")
    }
    // q393 rides q218's subject fixture (checkpoint + broadcast max):
    // the survival machinery itself must not add joins beyond that
    // one documented broadcast
    val fin = finalPlan("q393_survival_quantiles")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("SortMergeJoin"), fin.take(1500))
  }

  test("q400 brunner-munzel: the grid-CDF plan — join-free, grid " +
    "collapse + key windows, nothing else") {
    val fin = finalPlan("q400_brunner_munzel")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }

  test("q403 bottom-k: per-key rank cut pre-limits per partition " +
    "(WindowGroupLimit), join-free") {
    val fin = finalPlan("q403_bottom_k").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("WindowGroupLimit"), fin.take(1500))
  }

  test("q404 qini: liftTable's plan — ONE key exchange for rank, " +
    "bucket collapse, cumulative windows; join-free") {
    val fin = finalPlan("q404_qini_curve").split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }

  test("q406 stl: ONE key exchange feeds row-number + trend windows; " +
    "the seasonal join is key-equi on the tiny phase relation — " +
    "no cartesian, no nested loop") {
    val fin = finalPlan("q406_stl_decompose")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert(!fin.contains("BroadcastNestedLoop"), fin.take(1500))
    assert(fin.contains("Window"), fin.take(1500))
    // the event relation shuffles on the keys once for the windows;
    // the phase-side aggregates add key-grid exchanges over the
    // ≤ period-sized relation, and the closing join re-keys on
    // (keys, phase) — bounded, not data-sized
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 4,
      fin.take(2000))
  }

  test("q407 expectations: the whole suite is ONE corpus aggregation " +
    "(multi-distinct via Expand), join-free; the report is " +
    "suite-sized") {
    // the report is suite-sized driver data: the one corpus
    // aggregation runs inside expectations at call time, and the
    // returned plan is a LocalTableScan, not a lazy plan that would
    // rescan the corpus every time the report is read
    val fin = finalPlan("q407_expectations")
      .split("== Initial Plan ==")(0)
    assert(fin.contains("LocalTableScan"), fin.take(1200))
    assert(!fin.contains("Scan parquet"), fin.take(1200))
    assert(!fin.contains("Exchange"), fin.take(1200))
  }

  test("q408 expectations-by-key: ONE key aggregation (multi-" +
    "distinct Expand), per-expectation rows explode in-row — " +
    "join-free, one corpus scan") {
    val fin = finalPlan("q408_expectations_by_key")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1500))
    assert(fin.contains("Generate"), fin.take(1500)) // the explode
    assert("Scan parquet".r.findAllIn(fin).size <= 1, fin.take(2000))
  }

  test("q409 anderson-darling: the ksTest grid shape — ONE grid " +
    "collapse, ONE key exchange for the cumulative windows, " +
    "join-free in-group fold") {
    val fin = finalPlan("q409_anderson_darling")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
  }

  test("q405 g-test: cramersV's cell-relation posture — one corpus " +
    "pass, no cartesian, margin joins on the tiny grid") {
    val fin = finalPlan("q405_g_test").split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    assert("Scan parquet".r.findAllIn(fin).size <= 1 ||
      fin.contains("ExistingRDD"), fin.take(2000))
  }

  test("q401 sample size: ONE map-side-combined aggregation, " +
    "join-free closing projection") {
    val fin = finalPlan("q401_sample_size")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }

  test("q410 suggested suite is suite-sized driver data — the " +
    "returned plan is a LocalTableScan, no scan, no exchange") {
    // the corpus work happens inside suggestExpectations' bounded
    // passes; what comes BACK must be check data, not a lazy plan
    // that would rescan the corpus every time the suite is read
    val fin = finalPlan("q410_suggest_expectations")
      .split("== Initial Plan ==")(0)
    assert(fin.contains("LocalTableScan"), fin.take(1200))
    assert(!fin.contains("Scan parquet"), fin.take(1200))
    assert(!fin.contains("Exchange"), fin.take(1200))
  }

  test("q411 listener report is driver-accumulated data — " +
    "LocalTableScan, no corpus rescan") {
    val fin = finalPlan("q411_lint_listener")
      .split("== Initial Plan ==")(0)
    assert(fin.contains("LocalTableScan"), fin.take(1200))
    assert(!fin.contains("Scan parquet"), fin.take(1200))
  }

  test("q412 drift panel: the ksTest grid shape for FIVE statistics " +
    "— ONE grid collapse, ONE key exchange, join-free") {
    val fin = finalPlan("q412_drift_panel")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
    assert("Scan parquet".r.findAllIn(fin).size <= 1, fin.take(2000))
  }

  test("q413 rank panel: the ksTest grid shape for THREE rank tests " +
    "— ONE grid collapse, ONE key exchange, join-free") {
    val fin = finalPlan("q413_rank_panel")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert(fin.contains("partial_"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      fin.take(1500))
    assert("Scan parquet".r.findAllIn(fin).size <= 1, fin.take(2000))
  }

  test("q396 conover: deviation ranks on ONE key exchange — join-free") {
    val fin = finalPlan("q396_conover_squared_ranks")
      .split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1,
      fin.take(1500))
  }

  test("q272 cramers v: the r×c grid plans no more joins or key " +
    "exchanges than its three margin/grid joins need") {
    val fin = finalPlan("q272_cramers_v").split("== Initial Plan ==")(0)
    // margins ⋈ margins, ⋈ cells (left), ⋈ totals
    assert("Join".r.findAllIn(fin).size <= 3, fin.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 9,
      fin.take(2000))
  }
}
